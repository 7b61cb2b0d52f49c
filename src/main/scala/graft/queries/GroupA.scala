package graft.queries

import java.nio.file.Paths

import graft.Tables
import graft.extensions.Det
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Group A — the reference's own pipeline operators re-expressed Spark-first
  * (SURVEY.md §2.1/§2.4 A), plus B (generator-domain validation) and C
  * (scan/sink roundtrip), all verified against the DuckDB oracle.
  *
  * Scale notes: every query here is a narrow projection/filter/derivation —
  * Catalyst pushes the filters and the pruned column set into the parquet
  * scan, so at 100 TB these read only the referenced columns' pages.
  */
object GroupABC {

  /** Per-process scratch directory of a round-trip query over dataset `d`,
    * under `java.io.tmpdir`.
    */
  private def scratchDir(query: String, d: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft-scratch",
      s"${query}_${d.replaceAll("[^A-Za-z0-9.]", "_")}_pid${ProcessHandle.current().pid()}")
      .toString

  /** A1 ≙ P1/P2/P3 (reference data_processing.py:253-270, 301-319, 359-375):
    * explicit column pruning. ReadSchema in the scan carries only 4 columns.
    */
  val a1 = Q(
    "a1_project_prune",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** A2 ≙ F1 (data_processing.py:168-172): coerce-parse a timestamp string
    * and keep only parseable rows. `try_to_timestamp` is the ANSI-safe
    * equivalent of pandas `to_datetime(errors='coerce')` (SURVEY §7.4.1).
    */
  val a2 = Q(
    "a2_filter_valid_ts",
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM events
      |WHERE ts IS NOT NULL
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    ev.withColumn("ts_s_full", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .filter(try_to_timestamp(col("ts_s_full"), lit("yyyy-MM-dd HH:mm:ss")).isNotNull)
      .select(col("event_id"), col("ts_s_full").as("ts_s"))
      .orderBy("event_id")
  }

  /** A3 ≙ D1 (data_processing.py:175-180): derive the yyyy-MM-dd partition
    * key as a *string* (deliberately not DateType — it is the Hive partition
    * value in the reference).
    */
  val a3 = Q(
    "a3_derive_date",
    """SELECT event_id, strftime(ts, '%Y-%m-%d') AS event_date
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .orderBy("event_id")
  }

  /** A4 ≙ C1/C3 (data_processing.py:273-284, 378-384): analytical casts.
    * floor() before the double→long cast: Spark truncates but DuckDB rounds,
    * so the explicit floor keeps both engines identical.
    */
  val a4 = Q(
    "a4_cast_types",
    """SELECT l_orderkey,
      |  CAST(floor(l_quantity) AS BIGINT) AS qty_long,
      |  CAST(l_linenumber AS DOUBLE) AS line_double,
      |  CAST(l_orderkey AS VARCHAR) AS okey_str
      |FROM lineitem
      |ORDER BY l_orderkey, qty_long, line_double""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"),
        floor(col("l_quantity")).cast(LongType).as("qty_long"),
        col("l_linenumber").cast("double").as("line_double"),
        col("l_orderkey").cast("string").as("okey_str"))
      .orderBy("l_orderkey", "qty_long", "line_double")
  }

  /** A5 ≙ N1 (data_processing.py:338-340): fillna('Unknown') as coalesce. */
  val a5 = Q(
    "a5_fillna",
    """SELECT coalesce(c_mktsegment, 'Unknown') AS segment, count(*) AS n
      |FROM customer
      |GROUP BY 1
      |ORDER BY segment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(coalesce(col("c_mktsegment"), lit("Unknown")).as("segment"))
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .orderBy("segment")
  }

  /** A6 ≙ T1 (data_processing.py:387-391): pandas `str.capitalize` — first
    * char upper, ALL remaining lower. NOT Spark `initcap` (SURVEY §7.4.3).
    */
  val a6 = Q(
    "a6_capitalize",
    """SELECT DISTINCT p_type,
      |  upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)) AS p_type_cap
      |FROM part
      |ORDER BY p_type""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_type"),
        concat(
          upper(substring(col("p_type"), 1, 1)),
          lower(expr("substring(p_type, 2)"))).as("p_type_cap"))
      .distinct()
      .orderBy("p_type")
  }

  /** A7 ≙ X1 (data_processing.py:342-345): dedup-by-key, made deterministic
    * as groupBy(key).min — pandas keep='first' is order-defined while Spark
    * `dropDuplicates` keeps an arbitrary row (SURVEY §7.4.4).
    */
  val a7 = Q(
    "a7_dedup",
    """SELECT o_custkey, min(o_orderkey) AS first_order, count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(min("o_orderkey").as("first_order"), count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
  }

  /** A8 ≙ R1/K2 (data_processing.py:187-196, 399-435): content is invariant
    * under partition-count control (`repartition` then re-sort).
    */
  val a8 = Q(
    "a8_repartition_stable",
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
      .repartition(8)
      .orderBy("o_orderkey")
  }

  /** B1 — generator-domain validation (SURVEY §2.4 B): counts + value range
    * per low-cardinality domain column, mirroring G1's payment/store domains.
    */
  val b1 = Q(
    "b1_domain_counts",
    """SELECT event_type, count(*) AS n,
      |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
      |  count(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(min("value"), 2).as("min_v"),
        round(max("value"), 2).as("max_v"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** C1 — partitioned parquet write→read-back roundtrip (≙ K1/K2 + S4,
    * data_processing.py:201-223, 226-244, 399-435): static overwrite to a
    * hive-partitioned layout, re-read with partition discovery, aggregate.
    * Oracle aggregates the source directly — equality proves the roundtrip
    * is lossless. Partition column is low-cardinality (3 flags), matching
    * the reference's transaction_date layout choice.
    */
  val c1 = Q(
    "c1_parquet_roundtrip",
    """SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val scratch = scratchDir("c1", d)
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(scratch)
    s.read.parquet(scratch)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Det.exactSum(col("l_extendedprice")).as("total"))
      .orderBy("l_returnflag")
  }

  /** JSON source/sink roundtrip: documents written as JSON lines, read
    * back (schema-pinned read — schema inference is a second full pass at
    * 100 TB), aggregated. The oracle recomputes from the parquet originals:
    * equality proves the JSON hop is lossless for the projected columns.
    */
  val c2 = Q(
    "c2_json_roundtrip",
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val scratch = scratchDir("c2", d)
    Tables.documents(s, d)
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").json(scratch)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .json(scratch)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** ORC sink/scan roundtrip — the third columnar hop after parquet (c1)
    * and JSON lines (c2): write a projection as ORC, read it back, and
    * aggregate; the oracle aggregates the parquet originals directly
    * (DuckDB reads no ORC), so value equality proves the ORC hop is
    * lossless — types, nulls, and row multiplicity survive both the ORC
    * writer and the vectorized ORC reader. Scale posture: ORC is a
    * splittable columnar format with predicate pushdown, same scan
    * properties as the parquet path.
    */
  val c3 = Q(
    "c3_orc_roundtrip",
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val scratch = scratchDir("c3", d)
    Tables.events(s, d)
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").orc(scratch)
    s.read.orc(scratch)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  /** CSV sink/scan roundtrip — completes the source/sink matrix (parquet
    * c1, JSON lines c2, ORC c3, CSV here; the ingest pipeline S1–S3 reads
    * reference-shape CSVs, this closes the loop on the write side). Read
    * back schema-pinned (inference is a second full pass at 100 TB) with
    * header; `value` is exact-2-dp data, so the text roundtrip is lossless
    * and the decimal sum proves it.
    */
  val c4 = Q(
    "c4_csv_roundtrip",
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val scratch = scratchDir("c4", d)
    Tables.events(s, d)
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").option("header", "true").csv(scratch)
    s.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .option("header", "true")
      .csv(scratch)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(a1, a2, a3, a4, a5, a6, a7, a8, b1, c1, c2, c3, c4)
}
