package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** End-to-end pipeline test (SURVEY.md §5.4): generate reference-shape CSVs
  * (with malformed timestamps and null segments per FIXTURES.md §2), run the
  * 6-stage master flow, and assert the curated star-schema invariants.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val work = "/root/repo/target/e2e"
  private val nTxn = 10000L
  private val nCust = 1000L
  private val nProd = 100L

  private lazy val zones: Lakehouse.Zones = {
    val txn = Generators.transactions(spark, nTxn, seed = 7, badTsEvery = 100)
    val cust = Generators.customers(spark, nCust, seed = 7, nullSegEvery = 50)
    val prod = Generators.products(spark, nProd, seed = 7)
    Generators.writeCsv(txn, s"$work/csv/transactions")
    Generators.writeCsv(cust, s"$work/csv/customers")
    Generators.writeCsv(prod, s"$work/csv/products")
    Lakehouse.masterFlow(spark,
      s"$work/csv/transactions", s"$work/csv/customers", s"$work/csv/products",
      work)
  }

  test("generators are deterministic") {
    val a = Generators.transactions(spark, 100, seed = 9).collect()
    val b = Generators.transactions(spark, 100, seed = 9).collect()
    assert(a.toSeq === b.toSeq)
    val c = Generators.transactions(spark, 100, seed = 10).collect()
    assert(a.toSeq !== c.toSeq)
  }

  test("generator domains match the reference") {
    val t = Generators.transactions(spark, 2000, seed = 3)
    val stats = t.agg(
      min("customer_id"), max("customer_id"),
      min("quantity"), max("quantity"),
      min("price"), max("price")).head()
    assert(stats.getLong(0) >= 1000 && stats.getLong(1) <= 50000)
    assert(stats.getLong(2) >= 1 && stats.getLong(3) <= 10)
    assert(stats.getDouble(4) >= 5.0 && stats.getDouble(5) <= 500.0)
    val stores = t.select("store_location").distinct().as[String].collect().toSet
    assert(stores.subsetOf(Set("online", "store_A", "store_B", "mobile_app")))
    val pids = t.select("product_id").as[String].collect()
    assert(pids.forall(p => p.matches("PROD[1-9]\\d{2}")))
  }

  test("customer generator samples unique ids without replacement") {
    val c = Generators.customers(spark, 500, seed = 3)
    assert(c.count() === 500)
    assert(c.select("customer_id").distinct().count() === 500)
  }

  test("curated fact: malformed-timestamp rows dropped, 9-column schema") {
    val fact = spark.read.parquet(zones.curatedFact)
    assert(fact.columns.sorted.toSeq === Schemas.curatedFactColumns.sorted)
    val nBad = Generators
      .transactions(spark, nTxn, seed = 7, badTsEvery = 100)
      .filter($"transaction_timestamp" === "not-a-timestamp").count()
    assert(nBad > 0, "fixture must include malformed timestamps")
    assert(fact.count() === nTxn - nBad)
    assert(fact.filter($"transaction_timestamp".isNull).count() === 0)
  }

  test("curated fact: hive-partitioned by string transaction_date") {
    val fact = spark.read.parquet(zones.curatedFact)
    assert(fact.schema("transaction_date").dataType.typeName === "string")
    val dirs = Paths.get(zones.curatedFact).toFile.listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.matches("transaction_date=\\d{4}-\\d{2}-\\d{2}")))
    // partition pruning: one date selects exactly that date's rows
    val someDate = fact.select("transaction_date").head().getString(0)
    val pruned = fact.filter($"transaction_date" === someDate)
    assert(pruned.count() > 0)
  }

  test("curated zone layout: one part- file per transaction_date directory") {
    val dates = Paths.get(zones.curatedFact).toFile.listFiles()
      .filter(_.getName.startsWith("transaction_date="))
    assert(dates.length > 1)
    for (d <- dates)
      assert(d.listFiles().count(_.getName.startsWith("part-")) === 1, d)
  }

  test("curated fact write runs in more than one task") {
    val group = s"curate-fact-layout-${System.nanoTime()}"
    val groupStages = ConcurrentHashMap.newKeySet[Int]()
    val writingTasks = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(groupStages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(e.stageId) && e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          writingTasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    val raw = zones.rawTransactions
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "curated fact layout")
      Curate.curateFact(spark, raw, zones.curatedFact)
      eventually(timeout(10.seconds))(assert(writingTasks.get() > 1))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("curated customer dim: null segments filled with Unknown") {
    val dim = spark.read.parquet(zones.curatedCustomerDim)
    assert(dim.columns.sorted.toSeq === Schemas.curatedCustomerColumns.sorted)
    assert(dim.filter($"customer_segment".isNull).count() === 0)
    assert(dim.filter($"customer_segment" === "Unknown").count() > 0)
    assert(dim.schema("customer_id").dataType.typeName === "long")
    val dates = dim.select("registration_date").as[String].collect()
    assert(dates.forall(_.matches("\\d{4}-\\d{2}-\\d{2}")))
  }

  test("curated product dim: pandas-capitalized categories") {
    val dim = spark.read.parquet(zones.curatedProductDim)
    assert(dim.columns.sorted.toSeq === Schemas.curatedProductColumns.sorted)
    val cats = dim.select("product_category").distinct().as[String].collect().toSet
    assert(cats.contains("Home goods"), s"expected pandas-capitalize, got $cats")
    assert(!cats.contains("Home Goods"))
    assert(cats.forall(c => c.head.isUpper && c.tail.forall(ch => !ch.isUpper)))
  }

  test("star schema joins: fact keys are typed for joining") {
    val fact = spark.read.parquet(zones.curatedFact)
    val cust = spark.read.parquet(zones.curatedCustomerDim)
    val prod = spark.read.parquet(zones.curatedProductDim)
    // keys joinable without casts (long == long, string == string)
    val j = fact
      .join(cust, Seq("customer_id"), "left")
      .join(broadcast(prod), Seq("product_id"), "left")
    assert(j.count() === fact.count(), "dims are unique-keyed; join must not fan out")
    // every fact row whose customer exists in the dim got enriched
    val matched = j.filter($"customer_name".isNotNull).count()
    assert(matched > 0)
  }

  test("tolerant dim projection drops requested-but-missing columns") {
    val partial = Seq((1L, "X")).toDF("customer_id", "customer_name")
    val out = Curate.transformCustomerDim(partial)
    assert(out.columns.toSeq === Seq("customer_id", "customer_name"))
  }

  test("strict fact projection raises on missing columns") {
    val partial = Seq((1L, "x")).toDF("customer_id", "transaction_id")
    val e = intercept[IllegalArgumentException](Curate.transformFact(partial))
    assert(e.getMessage.contains("missing columns"))
  }

  test("writeCurated raises on missing partition column (K2 ValueError)") {
    val df = Seq((1L, "a")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      Curate.writeCurated(df, s"$work/bad", Seq("nope")))
    assert(e.getMessage.contains("partition columns missing"))
  }

  test("dedupByKey is deterministic and keeps min-ordered row") {
    val df = Seq((1L, "b", 2), (1L, "a", 1), (2L, "c", 3)).toDF("k", "v", "ord")
    val out = Curate.dedupByKey(df, "k", Seq("ord")).orderBy("k")
    assert(out.select("v").as[String].collect().toSeq === Seq("a", "c"))
  }

  test("overwrite semantics: re-running the flow replaces, not appends") {
    val before = spark.read.parquet(zones.curatedFact).count()
    Curate.curateFact(spark, zones.rawTransactions, zones.curatedFact)
    val after = spark.read.parquet(zones.curatedFact).count()
    assert(before === after)
  }

  test("O1: object-store conf lands on s3a; zones accept s3a roots (no local DDL)") {
    Lakehouse.configure(spark,
      Lakehouse.ObjectStore("http://localhost:9000", "ak", "sk"))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") === "http://localhost:9000")
    assert(hc.get("fs.s3a.access.key") === "ak")
    assert(hc.get("fs.s3a.secret.key") === "sk")
    assert(hc.get("fs.s3a.path.style.access") === "true")
    assert(hc.get("fs.s3a.connection.ssl.enabled") === "false")
    // an object-store root must not attempt local directory DDL
    val z = Lakehouse.ensureZones("s3a://lake/acme")
    assert(z.curatedFact === "s3a://lake/acme/curated/fact_customer_transactions")
    assert(!Paths.get("s3a:").toFile.exists())
  }

  test("O1 e2e: master flow runs through a non-file object-store scheme") {
    // a registered mock FileSystem (local bytes, object-store semantics at
    // the API) forces every write/read through Hadoop scheme resolution and
    // the commit protocol, the way an s3a:// root would
    val fileRun = zones // force the file:// run first (also writes the CSVs)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[graft.tools.MockObjectStoreFS].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-mockfs").toString
    val z = Lakehouse.masterFlow(spark,
      s"$work/csv/transactions", s"$work/csv/customers", s"$work/csv/products",
      s"mockfs://lake$local/acme")
    assert(z.curatedFact.startsWith("mockfs://lake"))
    val fact = spark.read.parquet(z.curatedFact)
    assert(fact.count() > 0)
    assert(fact.schema("transaction_date").dataType.typeName === "string")
    // the curated zone physically landed behind the mock scheme
    assert(Paths.get(local, "acme/curated/fact_customer_transactions")
      .toFile.exists())
    // same row count as the file:// run of the identical inputs
    assert(fact.count() === spark.read.parquet(fileRun.curatedFact).count())
  }
}
