package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The zoned lakehouse + master pipeline (reference `buckets.py`,
  * `flows.py:285-384`; SURVEY §3.1).
  *
  * The reference runs six Prefect child flows strictly sequentially; here
  * each flow is a plain Scala function over one SparkSession. Ingestion is
  * one fused scan-and-write job; the curated fact flow is a scan stage plus
  * a shuffle keyed on `transaction_date` into the write. Scheduling (the
  * reference's `0 1 * * *` cron, `flows.py:390`) is out of engine scope per
  * SURVEY §2.1 W1-W6.
  */
object Lakehouse {

  /** Zone layout within a work dir (≙ the reference's two MinIO buckets,
    * `buckets.py:11-12`).
    */
  final case class Zones(workDir: String) {
    val rawTransactions = s"$workDir/raw/customer_transactions"
    val rawCustomers = s"$workDir/raw/customers"
    val rawProducts = s"$workDir/raw/products"
    val curatedFact = s"$workDir/curated/fact_customer_transactions"
    val curatedCustomerDim = s"$workDir/curated/dim_customer"
    val curatedProductDim = s"$workDir/curated/dim_product"
  }

  /** O2 — idempotent zone DDL (reference `buckets.py:14-45`). Object-store
    * roots (any `scheme://` other than `file`) need no directory DDL —
    * object stores are flat keyspaces, the "zones" exist implicitly.
    */
  def ensureZones(workDir: String): Zones = {
    // java.net.URI handles every Hadoop-accepted spelling — `/data`,
    // `file:/data`, `file:///data`, `file://host/data`, `s3a://bucket/x` —
    // where a naive indexOf("://") misreads single-slash `file:/data` as
    // scheme-less and mkdirs a literal `file:` directory.
    val uri = try new java.net.URI(workDir) catch {
      case _: java.net.URISyntaxException => new java.net.URI(null, null, workDir, null)
    }
    val localRoot = uri.getScheme match {
      case null | "file" => Some(Option(uri.getPath).filter(_.nonEmpty).getOrElse(workDir))
      case _             => None // object store: flat keyspace, no DDL
    }
    localRoot.foreach { root =>
      Files.createDirectories(Paths.get(root, "raw"))
      Files.createDirectories(Paths.get(root, "curated"))
    }
    Zones(workDir)
  }

  /** O1 — object-store connection (reference `data_processing.py:12-28`
    * builds a Spark session against MinIO; `flows.py:294-299` passes
    * endpoint + keys). Maps the same four settings onto Hadoop's s3a
    * connector so `Zones("s3a://bucket/...")` roots work everywhere a
    * local path does. Path-style access is what MinIO and most on-prem
    * stores require; TLS off mirrors the reference's http endpoint default.
    */
  final case class ObjectStore(
      endpoint: String,
      accessKey: String,
      secretKey: String,
      pathStyleAccess: Boolean = true,
      sslEnabled: Boolean = false)

  def configure(spark: SparkSession, store: ObjectStore): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", store.endpoint)
    hc.set("fs.s3a.access.key", store.accessKey)
    hc.set("fs.s3a.secret.key", store.secretKey)
    hc.set("fs.s3a.path.style.access", store.pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", store.sslEnabled.toString)
    configure(spark)
  }

  /** Session defaults for pipeline work. `partitionColumnTypeInference=false`
    * keeps `transaction_date` a *string* on read-back — it is the reference's
    * partition-key type (string via strftime, `data_processing.py:180`;
    * SURVEY §7.4.7). `file:` roots get `ZoneFileSystem`, which sets
    * permission bits without forking `chmod`.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    ZoneFileSystem.register(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Master flow (reference `flows.py:285-384`): three ingestions, then
    * three curations.
    */
  def masterFlow(spark: SparkSession, txnCsv: String, custCsv: String,
      prodCsv: String, workDir: String): Zones = {
    configure(spark)
    val z = ensureZones(workDir)
    Ingest.ingestTransactions(spark, txnCsv, z.rawTransactions)
    Ingest.ingestCustomers(spark, custCsv, z.rawCustomers)
    Ingest.ingestProducts(spark, prodCsv, z.rawProducts)
    Curate.curateFact(spark, z.rawTransactions, z.curatedFact)
    Curate.curateCustomerDim(spark, z.rawCustomers, z.curatedCustomerDim)
    Curate.curateProductDim(spark, z.rawProducts, z.curatedProductDim)
    z
  }
}
