package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion: CSV → raw-zone Parquet (reference flows §3.2; SURVEY §2.1
  * S1–S3, F1, D1, K1).
  *
  * The whole stage is one lazy plan — scan, coerce-filter, date derivation
  * and the partitioned write fuse into a single Spark job, exactly like the
  * reference's Dask graph that only executes at `to_parquet`
  * (`data_processing.py:154, 212`).
  */
object Ingest {

  val tsFormat = "yyyy-MM-dd HH:mm:ss"

  /** S1 — schema-pinned CSV scan (reference `data_processing.py:135-160`).
    * Raises on a missing path like the reference (`:155-157`) — Spark throws
    * AnalysisException at read if the path does not exist.
    */
  def readTransactionsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.transactionsCsv).option("header", "true").csv(path)

  /** S3 — customer-dim CSV scan (reference `flows.py:182-191`). */
  def readCustomersCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.customersCsv).option("header", "true").csv(path)

  /** S2 — product-dim CSV scan (reference `flows.py:120-125`). */
  def readProductsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.productsCsv).option("header", "true").csv(path)

  /** F1 + D1 (reference `data_processing.py:163-184`): drop rows whose
    * timestamp fails coerce-parsing (pandas `errors='coerce'` ≙
    * `try_to_timestamp`, SURVEY §7.4.1 — never throws under ANSI mode), then
    * derive the string `transaction_date` partition key. The filter runs
    * before partitioning "to prevent potential issues with invalid partition
    * names" (reference `:170-171`).
    */
  def transformTransactions(df: DataFrame): DataFrame = {
    val parsed = try_to_timestamp(col("transaction_timestamp"), lit(tsFormat))
    df.filter(parsed.isNotNull)
      .withColumn("transaction_date", date_format(parsed, "yyyy-MM-dd"))
  }

  /** K1 — raw-zone sink (reference `data_processing.py:201-223`) through
    * the one zone writer, `Lakehouse.zoneWriter` (overwrite, zstd parquet),
    * hive-partitioned on `transaction_date` so every downstream date
    * predicate prunes at the file listing — the property that matters most
    * at 100 TB.
    */
  def writeRawTransactions(df: DataFrame, path: String): Unit =
    Lakehouse.zoneWriter(df).partitionBy("transaction_date").parquet(path)

  /** Unpartitioned raw sink for the dims (reference `flows.py:199-205`)
    * through `Lakehouse.zoneWriter`.
    */
  def writeRawDim(df: DataFrame, path: String): Unit =
    Lakehouse.zoneWriter(df).parquet(path)

  /** One-call ingestion flows (reference `flows.py:28-50, 86-150, 152-215`). */
  def ingestTransactions(spark: SparkSession, csv: String, raw: String): Unit =
    writeRawTransactions(transformTransactions(readTransactionsCsv(spark, csv)), raw)

  def ingestCustomers(spark: SparkSession, csv: String, raw: String): Unit =
    writeRawDim(readCustomersCsv(spark, csv), raw)

  def ingestProducts(spark: SparkSession, csv: String, raw: String): Unit =
    writeRawDim(readProductsCsv(spark, csv), raw)
}
