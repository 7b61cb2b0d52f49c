package graft.tools

/** Dev probe: executed shuffle volume (exchanges / records / bytes — the
  * [[graft.plans.ShuffleMetrics]] write-side totals) for named queries at a
  * scale dir, fresh-built per query like Round11Spec's measurement protocol.
  * Used to measure the values new Round11/Round12 ceilings pin.
  *
  * Usage: Test/runMain graft.tools.VolumeProbe <sfDir> <name> [<name>…]
  */
object VolumeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.Session.local(graft.Session.cores)
    names.foreach { n =>
      graft.queries.DupGraph.reset()
      val vol = graft.plans.ShuffleMetrics.measure(
        graft.SparkEntry.queries(n)(spark, sfDir))
      println(s"[volume] $n@$sfDir exchanges=${vol.exchanges} " +
        s"records=${vol.records} bytes=${vol.bytes}")
    }
    spark.stop()
  }
}
