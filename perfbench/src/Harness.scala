package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals

import graft.SparkEntry
import graft.extensions.Pipeline
import graft.functions.GraftFunctions
import graft.pipeline.{Curate, Ingest, Lakehouse}

/** JVM side of the benchmark: runs one workload against the library's
  * public entry points and writes raw timings, per-layer counters and the
  * outputs the checks need to a JSON file. `run.py` turns that file into
  * the reported metrics.
  *
  * Arguments (all required): --workload, --seed, --seconds, --trace 0|1,
  * --data (input dir), --work (scratch dir), --out (result file),
  * --trace-dir, --cores, --driver-memory, --t0-ms (epoch ms at which the
  * benchmark process started; set-up time is measured from there).
  * Nothing is skipped to fit a time budget: a slow run runs long and the
  * caller's time limit fails it.
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)

  private val opCapSec = 60.0

  final case class OpResult(pass: Int, name: String, sec: Double,
      error: Option[String], group: String)

  /** A workload: a fixed list of named operations forming one pass. */
  trait Workload {
    def ops: Seq[(String, () => Unit)]
    /** Untimed work before the first timed operation. */
    def warmup(run: (String, () => Unit) => Unit): Unit
    /** Check input recorded after each timed pass, if any. */
    def afterPass(): Option[Map[String, Any]] = None
    /** Layer metrics only the traced run measures (outside pass time). */
    def tracedExtras(): Map[String, Double] = Map.empty
    def info: Map[String, Any] = Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cores = a("cores").toInt
    val t0Ms = a("t0-ms").toLong
    val origin = System.nanoTime()
    val tracer = new Tracer(false, origin)

    val sessionStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", a("driver-memory"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSec = (System.nanoTime() - sessionStart) / 1e9
    val sc = spark.sparkContext
    val listener = new GroupListener
    if (trace) sc.addSparkListener(listener)

    // One client thread: every operation runs here, one at a time, so a
    // stuck operation can be abandoned after `opCapSec`.
    val client = Executors.newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(client)
    def runOp(pass: Int, name: String, body: () => Unit): OpResult = {
      val group = s"p$pass/$name"
      val t = System.nanoTime()
      val f = Future {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try tracer("op", name)(body()) finally sc.clearJobGroup()
      }
      val err =
        try { Await.result(f, Duration(opCapSec, TimeUnit.SECONDS)); None }
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(group); Some(f"timed out after $opCapSec%.0f s")
          case e: Throwable => Some(e.toString.take(400))
        }
      OpResult(pass, name, (System.nanoTime() - t) / 1e9, err, group)
    }

    val wl: Workload = workload match {
      case "star_sql"      => new StarSql(spark, data, work, seed, tracer)
      case "llm_corpus"    => new LlmCorpus(spark, data, work, seed, tracer)
      case "lakehouse_etl" => new LakehouseEtl(spark, data, work, tracer)
      case other           => sys.error(s"unknown workload $other")
    }

    val warm = mutable.ArrayBuffer.empty[OpResult]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    wl.warmup((name, body) => warm += runOp(-1, name, body))
    wl.afterPass().foreach(checks += _)
    // One more untimed pass over the timed operations: right after the
    // warm-up the first timed pass ran about 18% slower than later ones
    // while the JIT compiled Spark (about 12% with this pass), which made
    // the median pass depend on how many passes fitted in a run.
    wl.ops.foreach { case (name, body) => warm += runOp(-1, name, body) }
    wl.afterPass().foreach(checks += _)

    // ---- timed passes, tracing off ----------------------------------------
    val firstOpMs = System.currentTimeMillis()
    val measureStart = System.nanoTime()
    val results = mutable.ArrayBuffer.empty[OpResult]
    val passWall = mutable.ArrayBuffer.empty[Double]
    def runPass(p: Int): Double = {
      val t = System.nanoTime()
      wl.ops.foreach { case (name, body) => results += runOp(p, name, body) }
      val wall = (System.nanoTime() - t) / 1e9
      wl.afterPass().foreach(checks += _)
      wall
    }
    // Closed loop: start another pass while one more fits in `seconds`.
    var pass = 0
    do {
      passWall += runPass(pass)
      pass += 1
    } while (!trace &&
      (System.nanoTime() - measureStart) / 1e9 + passWall.last <= seconds)

    // ---- one traced pass between two untraced ones -------------------------
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var extrasError = Option.empty[String]
    if (trace) {
      val gcBefore = gcMs()
      val compilesBefore = SparkInternals.codegenCompiles
      val compileNsBefore = SparkInternals.codegenCompileNanos
      heapPools.foreach(_.resetPeakUsage())
      tracer.enabled = true
      val tracedPass = pass
      val wall = runPass(tracedPass)
      tracer.enabled = false
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      val gc = gcMs() - gcBefore
      SparkInternals.drainListeners(sc)
      val agg = new GroupStats
      results.filter(_.pass == tracedPass).foreach(r => agg.add(listener.get(r.group)))
      // Passes still speed up as the JIT warms, so an untraced pass on one
      // side only would count that speed-up as (negative) overhead.
      val after = runPass(tracedPass + 1)
      layers ++= Seq(
        "trace.overhead_s" -> (wall - (passWall.last + after) / 2),
        "queries.build_ms" -> tracer.totalMs("queries", "build"),
        "queries.plan_ms" -> tracer.totalMs("queries", "plan"),
        "queries.exec_ms" -> tracer.totalMs("queries", "exec"),
        "codegen.compiles" -> (SparkInternals.codegenCompiles - compilesBefore).toDouble,
        "codegen.compile_ms" -> (SparkInternals.codegenCompileNanos - compileNsBefore) / 1e6,
        "exec.jobs" -> agg.jobs.toDouble,
        "exec.stages" -> agg.stages.toDouble,
        "exec.tasks" -> agg.tasks.toDouble,
        "exec.core_util" -> agg.runMs / (wall * 1000.0 * cores),
        "exec.run_ms" -> agg.runMs.toDouble,
        "exec.cpu_ms" -> agg.cpuNs / 1e6,
        "exec.gc_ms" -> agg.gcMs.toDouble,
        "plans.shuffle_write_bytes" -> agg.shuffleWriteBytes.toDouble,
        "plans.shuffle_write_records" -> agg.shuffleWriteRecords.toDouble,
        "plans.shuffle_read_bytes" -> agg.shuffleReadBytes.toDouble,
        "plans.spill_bytes" -> agg.spillBytes.toDouble,
        "tables.bytes_read" -> agg.inputBytes.toDouble,
        "tables.rows_read" -> agg.inputRecords.toDouble,
        "jvm.gc_ms" -> gc.toDouble,
        "jvm.heap_peak_mb" -> heapPeak / 1048576.0)
      tracer.enabled = true
      try layers ++= wl.tracedExtras()
      catch { case e: Throwable => extrasError = Some(e.toString.take(400)) }
      tracer.enabled = false
      val perOp = results.filter(_.pass == tracedPass).map(r =>
        Map("name" -> r.name, "sec" -> r.sec) ++ listener.get(r.group).toMap)
      writeTrace(s"${a("trace-dir")}/$workload-seed$seed.json", tracer.spans.toSeq, perOp.toSeq)
    }

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "t0_ms" -> t0Ms, "first_op_ms" -> firstOpMs, "session_s" -> sessionSec,
      "passes" -> passWall.toSeq,
      "ops" -> results.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "sec" -> r.sec, "error" -> r.error)).toSeq,
      "warmup" -> warm.map(r => Map("name" -> r.name, "sec" -> r.sec,
        "error" -> r.error)).toSeq,
      "checks" -> checks.toSeq,
      "layers" -> layers,
      "extras_error" -> extrasError,
      "info" -> wl.info,
      "conf" -> spark.conf.getAll,
      "peak_rss_mb" -> vmHwmMb())
    Files.writeString(Paths.get(a("out")), toJson(out))
    client.shutdownNow()
    spark.stop()
    sys.exit(0)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def writeTrace(path: String, spans: Seq[Span], perOp: Seq[Map[String, Any]]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), toJson(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
      "ops" -> perOp)))
  }

  /** One registry query as an operation: build the DataFrame, (traced only)
    * force the executed plan, then run it into `sink`.
    */
  def queryOp(spark: SparkSession, data: String, tracer: Tracer,
      fn: (SparkSession, String) => DataFrame, sink: DataFrame => Unit): () => Unit = () => {
    val df = tracer("queries", "build")(fn(spark, data))
    if (tracer.enabled) tracer("queries", "plan")(df.queryExecution.executedPlan)
    tracer("queries", "exec")(sink(df))
  }

  def noopSink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Sink that keeps a query's rows, in order, for the DuckDB comparison. */
  def dumpSink(work: String, name: String)(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")

  def writeOracles(work: String, names: Seq[String]): Unit =
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

  /** The four SQL-registered kernels, each over a cached corpus column. */
  def kernelRates(spark: SparkSession, data: String, tracer: Tracer): Map[String, Double] = {
    tracer("functions", "register")(GraftFunctions.register(spark))
    val docs = tracer("tables", "documents")(graft.Tables.documents(spark, data))
      .selectExpr("split(lower(text), ' ') AS toks").cache()
    val embs = tracer("tables", "embeddings")(graft.Tables.embeddings(spark, data))
      .select("embedding").cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val kernels = Seq(
      ("cosine_sim", embs, "cosine_sim(embedding, reverse(embedding))", nEmbs),
      ("simhash_long", docs, "simhash_long(toks, 32)", nDocs),
      ("winnow_mins", docs, "winnow_mins(toks, 4)", nDocs),
      ("max_run_length", docs, "max_run_length(toks)", nDocs))
    val rates = kernels.map { case (k, df, e, n) =>
      def once(): Unit = df.selectExpr(e).write.format("noop").mode("overwrite").save()
      once()
      val reps = 3
      val t = System.nanoTime()
      tracer("functions", k)((1 to reps).foreach(_ => once()))
      s"functions.$k.rows_per_s" -> n * reps / ((System.nanoTime() - t) / 1e9)
    }
    docs.unpersist(); embs.unpersist()
    rates.toMap
  }
}

import Harness._

/** Registry queries in seed-shuffled order. The warm-up pass writes each
  * query's rows for the DuckDB comparison; timed passes run the same
  * queries into the no-op sink. The traced run adds the kernel pass and the
  * composed curation pipeline (the h122 surface) with its artifact export
  * over the input corpus, timed as the functions and extensions layers.
  */
class RegistryQueries(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer, all: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries
  private val names = new scala.util.Random(seed).shuffle(all)
  private var ledger = Seq.empty[Seq[Long]]

  val ops: Seq[(String, () => Unit)] =
    names.map(n => n -> queryOp(spark, data, tracer, queries(n), noopSink))

  def warmup(run: (String, () => Unit) => Unit): Unit = {
    names.foreach(n => run(n, queryOp(spark, data, tracer, queries(n), dumpSink(work, n))))
    writeOracles(work, names)
  }

  override def tracedExtras(): Map[String, Double] = {
    val docs = tracer("tables", "documents")(graft.Tables.documents(spark, data))
    val t0 = System.nanoTime()
    val res = tracer("extensions", "Pipeline.curate")(Pipeline.curate(docs, "doc_id",
      "text", "source", toks => size(filter(toks, t => t === "spark")) >= 2))
    val audit = tracer("extensions", "audit")(res.audit.orderBy("stage_idx").collect())
    val curateSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    tracer("extensions", "export") {
      res.trainDocs.write.mode("overwrite").parquet(s"$work/export/train")
      res.manifest.write.mode("overwrite").parquet(s"$work/export/manifest")
    }
    val exportSec = (System.nanoTime() - t1) / 1e9
    ledger = audit.toSeq.map(r => Seq(r.getInt(0).toLong, r.getAs[Long]("docs_in"),
      r.getAs[Long]("docs_out")))
    Map(
      "extensions.curate_s" -> curateSec,
      "extensions.curate_export_s" -> exportSec,
      "extensions.near_dup_pairs" -> audit(3).getAs[Long]("detail").toDouble,
      "extensions.kept_ratio" ->
        audit(9).getAs[Long]("docs_out").toDouble / audit(0).getAs[Long]("docs_in").max(1L)
    ) ++ kernelRates(spark, data, tracer)
  }

  override def info: Map[String, Any] = Map("order" -> names, "ledger" -> ledger)
}

/** Star-schema queries of the reference pipeline and the delegated SQL
  * surface, one or two per query group. Group c is left out: its round-trip
  * queries write to a fixed absolute path outside the working tree.
  */
final class StarSql(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer) extends RegistryQueries(spark, data, work, seed, tracer, Seq(
  "a2_filter_valid_ts", "b1_domain_counts", "d6_multiway_star",
  "e1_groupby_sum_avg", "e3_rollup", "f1_row_number_topk_per_group",
  "f9_range_frame", "g1_string_funcs"))

/** One query per native-kernel family over the generated corpus. */
final class LlmCorpus(spark: SparkSession, data: String, work: String, seed: Long,
    tracer: Tracer) extends RegistryQueries(spark, data, work, seed, tracer, Seq(
  "h5_minhash_lsh_pairs", "h41_simhash_near_dup", "h17_winnow_fingerprints",
  "h30_repetition_metrics", "h10_lang_id", "h2_cosine_topk"))

/** The reference ETL flow: CSV → raw zone → curated star schema, then a
  * read-back aggregate over the curated tables. The two small dimensions
  * are one operation per step, which keeps the operation latencies from
  * splitting into a cluster of tiny dimension steps and one of fact steps
  * with the median in the gap between them.
  */
final class LakehouseEtl(spark: SparkSession, data: String, work: String,
    tracer: Tracer) extends Workload {
  private val txnCsv = s"$data/transactions.csv"
  private var zones: Lakehouse.Zones = _
  private var readback: Map[String, Any] = Map.empty

  private def p(name: String)(body: => Unit): () => Unit = () => tracer("pipeline", name)(body)

  val ops: Seq[(String, () => Unit)] = Seq(
    "ingest_transactions" -> p("ingest_txn") {
      tracer("pipeline", "configure")(Lakehouse.configure(spark))
      zones = tracer("pipeline", "ensureZones")(Lakehouse.ensureZones(s"$work/lake"))
      Ingest.ingestTransactions(spark, txnCsv, zones.rawTransactions)
    },
    "ingest_dims" -> p("ingest_dims") {
      Ingest.ingestCustomers(spark, s"$data/customers.csv", zones.rawCustomers)
      Ingest.ingestProducts(spark, s"$data/products.csv", zones.rawProducts)
    },
    "curate_fact" -> p("curate_fact")(
      Curate.curateFact(spark, zones.rawTransactions, zones.curatedFact)),
    "curate_dims" -> p("curate_dims") {
      Curate.curateCustomerDim(spark, zones.rawCustomers, zones.curatedCustomerDim)
      Curate.curateProductDim(spark, zones.rawProducts, zones.curatedProductDim)
    },
    "readback" -> p("readback") {
      val fact = spark.read.parquet(zones.curatedFact)
      val perDate = fact.groupBy("transaction_date")
        .agg(count(lit(1)), sum("quantity")).collect()
        .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
      val perCat = fact.join(spark.read.parquet(zones.curatedProductDim), "product_id")
        .groupBy("product_category").agg(sum("quantity")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val cust = spark.read.parquet(zones.curatedCustomerDim)
      readback = Map("per_date" -> perDate, "per_category_qty" -> perCat,
        "customers" -> cust.count(),
        "unknown_segments" -> cust.filter(col("customer_segment") === "Unknown").count(),
        "products" -> spark.read.parquet(zones.curatedProductDim).count())
    })

  def warmup(run: (String, () => Unit) => Unit): Unit =
    ops.foreach { case (n, body) => run(n, body) }

  override def afterPass(): Option[Map[String, Any]] = {
    val r = readback
    readback = Map.empty
    Some(r ++ storedBytes())
  }

  /** Files and bytes now stored in the raw and curated zones. */
  private def storedBytes(): Map[String, Any] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(s"$work/lake"))
    Map("files_written" -> files.size.toLong, "bytes_written" -> files.map(_.length).sum)
  }

  override def tracedExtras(): Map[String, Double] = {
    val rawRows = spark.read.parquet(zones.rawTransactions).count()
    val csvRows = spark.read.option("header", "true").csv(txnCsv).count()
    val stored = storedBytes()
    Map(
      "pipeline.ingest_txn_s" -> tracer.totalMs("pipeline", "ingest_txn") / 1e3,
      "pipeline.ingest_dims_s" -> tracer.totalMs("pipeline", "ingest_dims") / 1e3,
      "pipeline.curate_fact_s" -> tracer.totalMs("pipeline", "curate_fact") / 1e3,
      "pipeline.curate_dims_s" -> tracer.totalMs("pipeline", "curate_dims") / 1e3,
      "pipeline.readback_s" -> tracer.totalMs("pipeline", "readback") / 1e3,
      "pipeline.rows_dropped" -> (csvRows - rawRows).toDouble,
      "pipeline.files_written" -> stored("files_written").asInstanceOf[Long].toDouble,
      "pipeline.bytes_written" -> stored("bytes_written").asInstanceOf[Long].toDouble)
  }
}
