package graft.tools

/** Dev timing harness: Bench-style best-of-N timings for a handful of named
  * queries without paying the full 179-query run. Uses Bench's session
  * ([[graft.Session]], `$SPARK_GRAFT_CPUS` cores) and noop-sink
  * materialization so numbers are comparable to BENCH_r{N}.json /
  * BASELINE.md medians.
  *
  * Usage: Test/runMain graft.tools.QTime <sfDir> <samples> <name> [<name>…]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val samples = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Session.local(graft.Session.cores)
    spark.read.parquet(s"$sfDir/region.parquet").selectExpr("count(*)").collect()
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    // SPARK_GRAFT_MATERIALIZE=1 → mirror Bench's shared pair-graph opt-in
    if (sys.env.get("SPARK_GRAFT_MATERIALIZE").contains("1"))
      graft.queries.DupGraph.enableMaterialization()
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    names.foreach { n =>
      val ts = (1 to samples).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"[qtime] $n samples=${ts.map(f3).mkString(",")} " +
        s"min=${f3(ts.min)} median=${f3(ts.sorted.apply(ts.size / 2))}")
    }
    spark.stop()
  }
}
