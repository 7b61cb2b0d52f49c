package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.StringType

/** `Tables.readParquet` resolves a parquet schema on the driver. Every test
  * holds it to the schema (or the error) of a plain `spark.read.parquet`.
  */
class TablesSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-tables").toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertSameSchema(path: String): Unit =
    assert(Tables.readParquet(spark, path).schema === spark.read.parquet(path).schema, path)

  test("every table at sf0.001 and sf0.01 resolves to Spark's schema, nanosAsLong off and on") {
    val sf01 = new File(new File(sf).getParentFile, "sf0.01").getPath
    for (dir <- Seq(sf, sf01); nanos <- Seq("false", "true"); t <- Tables.names)
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos)(assertSameSchema(Tables.path(dir, t)))
  }

  test("resolving all ten tables launches no Spark job") {
    val sc = spark.sparkContext
    val group = s"tables-resolve-${System.nanoTime()}"
    val sentinelKey = "graft.test.sentinel"
    val jobs = new AtomicInteger()
    val sentinelStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty(sentinelKey) == "1")) sentinelStarted.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "resolve tables")
      Tables.names.foreach(t => Tables.load(spark, sf, t).schema)
      // Job-start events arrive in order, so once the sentinel's has been
      // seen, every job the loads launched has been counted.
      sc.setLocalProperty(sentinelKey, "1")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelStarted.await(30, TimeUnit.SECONDS))
      assert(jobs.get() === 0)
    } finally {
      sc.setLocalProperty(sentinelKey, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("raw zone from ingestTransactions: _SUCCESS/.crc skipped, transaction_date a trailing string") {
    Lakehouse.configure(spark)
    val dir = tmp()
    Generators.writeCsv(Generators.transactions(spark, 500, seed = 3), s"$dir/csv")
    val raw = s"$dir/raw"
    Ingest.ingestTransactions(spark, s"$dir/csv", raw)
    assert(new File(raw, "_SUCCESS").exists())
    assert(new File(raw).listFiles().exists(_.getName.startsWith("transaction_date=")))
    assert(new File(raw).listFiles().filter(_.isDirectory)
      .exists(_.listFiles().exists(_.getName.endsWith(".crc"))))
    assertSameSchema(raw)
    val schema = Curate.readRaw(spark, raw).schema
    assert(schema.last.name === "transaction_date")
    assert(schema.last.dataType === StringType)
  }

  test("raw dim missing a column still takes transformCustomerDim's tolerant path") {
    val raw = s"${tmp()}/customers"
    Ingest.writeRawDim(Generators.customers(spark, 200, seed = 5).drop("customer_segment"), raw)
    assertSameSchema(raw)
    val out = Curate.transformCustomerDim(Curate.readRaw(spark, raw))
    assert(out.columns.toSeq === Schemas.curatedCustomerColumns.filterNot(_ == "customer_segment"))
    assert(out.count() === 200)
  }

  test("footer comes from the first data file in full-path order") {
    // "v=a.b/part-…" sorts before "v=a/part-…" ('.' < '/'), although the
    // directory name "v=a" sorts before "v=a.b"
    val dir = tmp()
    spark.range(2).selectExpr("id", "id * 2 AS x").write.parquet(s"$dir/v=a")
    spark.range(2).selectExpr("id", "CAST(id AS STRING) AS y").write.parquet(s"$dir/v=a.b")
    assertSameSchema(dir)
    assert(Tables.readParquet(spark, dir).columns.toSeq === Seq("id", "y", "v"))
  }

  test("a partition column also stored in the file keeps Spark's column order") {
    val dir = tmp()
    spark.range(2).selectExpr("id AS k", "id").write.parquet(s"$dir/k=1")
    assertSameSchema(dir)
  }

  test("fallback: a summary file wins over a data file that sorts before it") {
    val dir = tmp()
    spark.range(2).selectExpr("id", "id * 2 AS a").write
      .option("parquet.summary.metadata.level", "ALL").parquet(s"$dir/t")
    assert(new File(s"$dir/t/_common_metadata").exists())
    spark.range(2).selectExpr("id", "CAST(id AS STRING) AS b").coalesce(1).write.parquet(s"$dir/u")
    val part = new File(s"$dir/u").listFiles().find(_.getName.endsWith(".parquet")).get
    // "0.parquet" sorts before "_common_metadata"; Spark still reads the summary
    Files.move(part.toPath, new File(s"$dir/t/0.parquet").toPath)
    assertSameSchema(s"$dir/t")
    assert(Tables.readParquet(spark, s"$dir/t").columns.toSeq === Seq("id", "a"))
  }

  test("fallback: a missing path raises Spark's own AnalysisException") {
    val path = s"${tmp()}/missing.parquet"
    val ours = intercept[AnalysisException](Tables.readParquet(spark, path))
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    assert(ours.getCondition === plain.getCondition)
    assert(ours.getMessage === plain.getMessage)
  }

  test("fallback: an empty directory raises Spark's unable-to-infer error") {
    val path = tmp()
    val ours = intercept[AnalysisException](Tables.readParquet(spark, path))
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    assert(ours.getCondition === "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getMessage === plain.getMessage)
  }

  test("fallback: mergeSchema=true gives Spark's merged schema") {
    val dir = tmp()
    spark.range(2).selectExpr("id", "id * 2 AS a").write.parquet(s"$dir/p=1")
    spark.range(2).selectExpr("id", "CAST(id AS STRING) AS b").write.parquet(s"$dir/p=2")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assertSameSchema(dir)
      assert(Tables.readParquet(spark, dir).columns.toSeq === Seq("id", "a", "b", "p"))
    }
  }
}
