package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders over the driver testdata (`TESTDATA.md`).
  *
  * Design notes for 100 TB scale:
  *   - Loaders return plain lazy DataFrames — Catalyst pushes projections and
  *     filters from downstream operators into the parquet scan, so nothing is
  *     materialized here.
  *   - `events.ts` has shipped in two fixture shapes: parquet
  *     TIMESTAMP(NANOS), which Spark's vectorized reader only surfaces as a
  *     nanosecond long (`spark.sql.legacy.parquet.nanosAsLong`), and plain
  *     µs TIMESTAMP without timezone, which Spark 4 surfaces as
  *     TIMESTAMP_NTZ. Either way the loader normalizes to session-zoned
  *     TimestampType (UTC session ⇒ exact epoch micros, agreeing with
  *     DuckDB) in one codegen'd projection, still vectorized.
  *   - Schema resolution is driver-side planning work. [[readParquet]] reads
  *     the one footer Spark's inference would read, on the driver, and hands
  *     Spark the schema, so resolving a table launches no Spark job. Every
  *     by-path parquet read that infers its schema goes through it.
  */
object Tables {

  /** Known table names (one parquet file/dir each under the sf dir). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, table: String): String = s"$sfDir/$table.parquet"

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    table match {
      case "events" => events(spark, sfDir)
      case t        => readParquet(spark, path(sfDir, t))
    }

  /** `spark.read.parquet(path)` without Spark's schema-inference job. With
    * `mergeSchema` off, Spark takes the schema from one footer: a
    * `_common_metadata`/`_metadata` summary if there is one, else the first
    * data file in full-path order. This reads that data file's footer on
    * the driver with Spark's own reader and converter
    * ([[GraftParquetBridge]]) and passes the result as the read schema, so
    * the DataFrame's schema is the one Spark would infer.
    *
    * The walk goes depth first through visible entries in path order (a
    * directory sorts as `name/`) and stops at the first data file, so a
    * large prefix is not listed in full. It falls back to the plain read,
    * and with it to Spark's own behaviour and errors, when `mergeSchema` is
    * on, the path is a glob, no visible data file exists, a summary file is
    * met (in a directory the walk lists; parquet writes them only at the
    * output root, which is always listed), a `k=v` partition column is also
    * stored in the file (Spark orders such a column differently under a
    * given schema), or any listing or footer read fails (a missing path).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private val summaryFiles = Set("_metadata", "_common_metadata")

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    if (GraftParquetBridge.mergeSchema(spark) || GraftParquetBridge.isGlob(root)) return None
    val fs = root.getFileSystem(GraftParquetBridge.hadoopConf(spark))
    // The first leaf in path order, with the directory names above it.
    // Summary files sort first in their directory, so meeting one ends the walk.
    def first(dir: Path, dirs: List[String]): Option[(FileStatus, List[String])] =
      fs.listStatus(dir).filterNot(s => GraftParquetBridge.isHidden(s.getPath.getName))
        .sortBy { s =>
          val name = s.getPath.getName
          (!summaryFiles(name), if (s.isDirectory) name + "/" else name)
        }.iterator.flatMap { s =>
          val name = s.getPath.getName
          if (s.isDirectory && !summaryFiles(name)) first(s.getPath, name :: dirs)
          else Some((s, dirs))
        }.nextOption()
    try first(root, Nil).flatMap { case (file, dirs) =>
      val partCols = dirs.filter(_.contains("=")).map(d =>
        ExternalCatalogUtils.unescapePathName(d.takeWhile(_ != '=')).toLowerCase)
      if (summaryFiles(file.getPath.getName)) None
      else GraftParquetBridge.footerSchema(spark, file)
        .filterNot(_.fieldNames.exists(f => partCols.contains(f.toLowerCase)))
    } catch { case NonFatal(_) => None }
  }

  /** `events` with `ts` surfaced as a microsecond TimestampType column.
    * Truncation (not rounding) ns→µs matches DuckDB's parquet reader.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, path(sfDir, "events"))
    raw.schema("ts").dataType match {
      case LongType => // ns-as-long: convert to µs timestamp.
        // `div` is exact integral division (no double intermediate) — epoch
        // nanos ~1.7e18 exceed 2^53, so floor(ts / 1000.0) would lose µs
        // precision; `ts div 1000` matches DuckDB's ns→µs truncation exactly.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // µs-precision parquet timestamp without timezone (current fixture
        // shape): surface as session-zoned TimestampType so downstream
        // epoch math (`cast(ts as bigint)`, unix_timestamp) resolves. The
        // session timezone is pinned to UTC everywhere (Bench/Verify/specs),
        // so the cast is a pure type relabel — identical epoch micros, and
        // DuckDB reads the same column as plain TIMESTAMP.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already a timestamp (e.g. rewritten fixture)
    }
  }

  // Convenience named loaders.
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
