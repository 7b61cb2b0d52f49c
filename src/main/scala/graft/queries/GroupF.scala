package graft.queries

import graft.Tables
import graft.extensions.Det
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group F — window functions, sort/top-k, set ops (SURVEY.md §2.4 F).
  *
  * Scale notes: window partitions are keyed on high-cardinality columns
  * (custkey/user_id) so state per key stays tiny; global top-k compiles to
  * `TakeOrderedAndProject` (per-partition heap + driver merge of k rows),
  * never a full global sort.
  */
object GroupF {

  /** Top-3 orders per priority class via row_number over a totally-ordered
    * window (price desc, key asc — deterministic under ties).
    */
  val f1 = Q(
    "f1_row_number_topk_per_group",
    """SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice, 2) AS price
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderpriority", "rn")
  }

  /** lag/lead over per-user event streams (ordered by ts with event_id
    * tiebreak).
    */
  val f2 = Q(
    "f2_lag_lead",
    """SELECT user_id, event_id,
      |  round(value, 2) AS value,
      |  round(lag(value) OVER w, 2) AS prev_value,
      |  lead(event_type) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(
        col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"),
        round(lag(col("value"), 1).over(w), 2).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("user_id", "event_id")
  }

  /** Running sum with an explicit ROWS frame. Both engines accumulate in
    * identical frame order so the rounded doubles agree bit-for-bit.
    */
  val f3 = Q(
    "f3_running_sum_frame",
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Global top-k: ORDER BY … LIMIT compiles to TakeOrderedAndProject —
    * no global sort of the full table at any scale.
    */
  val f4 = Q(
    "f4_order_limit",
    """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
  }

  /** UNION ALL of two tagged branches. */
  val f5 = Q(
    "f5_union_all",
    """SELECT 'big' AS src, o_orderkey, round(o_totalprice, 2) AS price
      |FROM orders WHERE o_totalprice > 400000
      |UNION ALL
      |SELECT 'urgent' AS src, o_orderkey, round(o_totalprice, 2) AS price
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY src, o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val big = o.filter(col("o_totalprice") > 400000)
      .select(lit("big").as("src"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(lit("urgent").as("src"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    big.unionByName(urgent).orderBy("src", "o_orderkey")
  }

  /** INTERSECT (set semantics, dedup built in). */
  val f6 = Q(
    "f6_intersect",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS c_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val withOrders = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    building.intersect(withOrders).orderBy("c_custkey")
  }

  /** EXCEPT (set difference). */
  val f7 = Q(
    "f7_except",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val building = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val withOrders = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    building.except(withOrders).orderBy("c_custkey")
  }

  /** Ranking family: rank / dense_rank / percent_rank / ntile over one
    * window spec (single sort, all four computed in one pass).
    */
  val f8 = Q(
    "f8_rank_family",
    """SELECT o_custkey, o_orderkey,
      |  CAST(rank() OVER w AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |  floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS prnk,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        Det.floorRound(percent_rank().over(w), 4).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** RANGE-frame window (value-based frame, the semantics a ROWS frame
    * cannot express): per user, the trailing-10-minute event count and
    * value sum at each event. Frame membership is by ORDER-key distance
    * (epoch seconds, floored on both sides: Spark's timestamp-to-long cast
    * floors, and DuckDB's BIGINT cast of `epoch` would round), so tied
    * timestamps are peers and contribute to each other's frames in both
    * engines. One shuffle on user_id, one sort, all aggregates in a single
    * window pass; sums are exact decimals (order-independent) per the Q
    * contract.
    */
  val f9 = Q(
    "f9_range_frame",
    """SELECT user_id, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CAST(count(*) OVER w AS BIGINT) AS trail_n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-600, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        count(lit(1)).over(w).as("trail_n"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
          .as("trail_value"))
      .orderBy("user_id", "event_id")
  }

  /** IGNORE NULLS fill-forward (the gap-fill window idiom): at every event,
    * the user's most recent purchase amount — `last_value` over a sparse
    * CASE projection with nulls skipped. One shuffle on user_id, one sort;
    * the carried value is a raw 2-dp column (round is identity).
    */
  val f10 = Q(
    "f10_fill_forward",
    """SELECT user_id, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_purchase_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        round(last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w), 2).as("last_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  /** Distribution-window family: cume_dist plus full-frame
    * nth_value/first_value/last_value — the remaining analytic window
    * functions next to f8's rank family and f10's IGNORE NULLS form. The
    * window order is unique (price, orderkey), so cume_dist has no peer
    * groups and equals rank/n — one IEEE division of identical integers in
    * both engines; the full ROWS frame makes last_value the true partition
    * max rather than the default current-row frame.
    */
  val f11 = Q(
    "f11_dist_windows",
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd,
      |  nth_value(o_totalprice, 3) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_lowest,
      |  first_value(o_totalprice) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lowest,
      |  last_value(o_totalprice) OVER
      |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS highest
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-06-01'
      |  AND o_orderdate < TIMESTAMP '1995-08-01'
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-06-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-08-01").cast("timestamp"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        Det.floorRound(cume_dist().over(w), 6).as("cd"),
        nth_value(col("o_totalprice"), 3).over(full).as("third_lowest"),
        first(col("o_totalprice")).over(full).as("lowest"),
        last(col("o_totalprice")).over(full).as("highest"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  val all: Seq[Q] = Seq(f1, f2, f3, f4, f5, f6, f7, f8, f9, f10, f11)
}
