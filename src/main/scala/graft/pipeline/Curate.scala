package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Curation: raw zone → curated star schema (reference flows §3.3; SURVEY
  * §2.1 P1–P3, C1–C3, N1, T1, X1, R1, K2).
  */
object Curate {

  /** S4 — partition-discovering parquet scan of a raw prefix (reference
    * `data_processing.py:226-244`). `transaction_date` stays a string because
    * `Lakehouse.configure` disables partition-column type inference.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    Tables.readParquet(spark, path)

  /** P1 + C1 (reference `data_processing.py:253-284`): strict 9-column fact
    * projection (presence-checked like `:266-268`) and analytical casts —
    * customer_id/quantity→long, price→double, timestamp string→timestamp
    * via coerce (`:273-284`).
    */
  def transformFact(df: DataFrame): DataFrame = {
    val cols = Schemas.curatedFactColumns
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"fact transform: missing columns $missing")
    df.select(cols.map(col): _*)
      .withColumn("customer_id", col("customer_id").cast(LongType))
      .withColumn("quantity", col("quantity").cast(LongType))
      .withColumn("price", col("price").cast(DoubleType))
      .withColumn("transaction_timestamp",
        try_to_timestamp(col("transaction_timestamp"), lit(Ingest.tsFormat)))
  }

  /** P2 + C2 + N1 (reference `data_processing.py:301-340`): *tolerant*
    * projection (requested-but-missing columns are dropped, `:317`),
    * customer_id→long "for joining" (`:323-325`), registration_date
    * re-formatted yyyy-MM-dd via coerce (nulls stay null, `:326-332`),
    * segment nulls filled 'Unknown' (`:338-340`).
    */
  def transformCustomerDim(df: DataFrame): DataFrame = {
    val present = Schemas.curatedCustomerColumns.filter(df.columns.contains)
    var out = df.select(present.map(col): _*)
    if (present.contains("customer_id"))
      out = out.withColumn("customer_id", col("customer_id").cast(LongType))
    if (present.contains("registration_date"))
      out = out.withColumn("registration_date",
        date_format(try_to_timestamp(col("registration_date"), lit("yyyy-MM-dd")),
          "yyyy-MM-dd"))
    if (present.contains("customer_segment"))
      out = out.na.fill(Map("customer_segment" -> "Unknown"))
    out
  }

  /** P3 + C3 + T1 (reference `data_processing.py:359-391`): tolerant 5-column
    * projection, weight→double, and pandas `str.capitalize` on the category —
    * first char upper, ALL remaining lower (NOT `initcap`; SURVEY §7.4.3).
    */
  def transformProductDim(df: DataFrame): DataFrame = {
    val present = Schemas.curatedProductColumns.filter(df.columns.contains)
    var out = df.select(present.map(col): _*)
    if (present.contains("product_weight_kg"))
      out = out.withColumn("product_weight_kg", col("product_weight_kg").cast(DoubleType))
    if (present.contains("product_category"))
      out = out.withColumn("product_category",
        concat(upper(substring(col("product_category"), 1, 1)),
          lower(expr("substring(product_category, 2)"))))
    out
  }

  /** X1 (reference `data_processing.py:342-345`, latent/commented): dedup by
    * key keeping the smallest `orderCol` row — deterministic, unlike both
    * pandas keep='first' (order-defined) and Spark dropDuplicates
    * (arbitrary); SURVEY §7.4.4.
    */
  def dedupByKey(df: DataFrame, key: String, orderCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val packed = struct((orderCols ++ others.filterNot(orderCols.contains)).map(col): _*)
    df.groupBy(col(key)).agg(min(packed).as("__row"))
      .select(col(key) +: others.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** R1 + K2 (reference `data_processing.py:187-196, 399-435`): validate
    * partition columns (raises like `:416-419`), then write through the one
    * zone writer, `Lakehouse.zoneWriter` (overwrite, zstd parquet).
    *
    * A partitioned write is hash-shuffled on its partition columns into
    * `defaultParallelism` partitions, so each partition directory is written
    * by exactly one task and holds one file — the reference's one file per
    * date without its `repartition(1)` barrier (`:405, 413`). The count is
    * explicit because AQE would coalesce a `repartition(cols)` into a few
    * tasks. An unpartitioned write (the small dims) is one file.
    */
  def writeCurated(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"partition columns missing from dataframe: $missing")
    val writer =
      if (partitionCols.isEmpty) Lakehouse.zoneWriter(df.coalesce(1))
      else Lakehouse.zoneWriter(df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, partitionCols.map(col): _*))
        .partitionBy(partitionCols: _*)
    writer.parquet(path)
  }

  /** Raw→curated flows (reference `flows.py:52-82, 220-249, 251-280`). */
  def curateFact(spark: SparkSession, raw: String, curated: String): Unit =
    writeCurated(transformFact(readRaw(spark, raw)), curated, Seq("transaction_date"))

  def curateCustomerDim(spark: SparkSession, raw: String, curated: String): Unit =
    writeCurated(transformCustomerDim(readRaw(spark, raw)), curated, Seq.empty)

  def curateProductDim(spark: SparkSession, raw: String, curated: String): Unit =
    writeCurated(transformProductDim(readRaw(spark, raw)), curated, Seq.empty)
}
