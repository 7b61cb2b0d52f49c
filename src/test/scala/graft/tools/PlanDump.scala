package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under `plans/r<N>/`.
  *
  * Usage: Test/runMain graft.tools.PlanDump <outDir> <suffix> <name> [<name>…]
  * writes `<outDir>/<shortName>_<suffix>.txt` per query (short name = the
  * id prefix, e.g. `h122`). The session is Bench's ([[graft.Session]],
  * `$SPARK_GRAFT_CPUS` cores) so plan shapes match what Bench executes;
  * sfDir from $SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores)
    if (sys.env.get("SPARK_GRAFT_MATERIALIZE").contains("1"))
      graft.queries.DupGraph.enableMaterialization()
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val short = n.takeWhile(_ != '_')
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${short}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${short}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
