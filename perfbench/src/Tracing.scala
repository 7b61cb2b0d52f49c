package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call into a layer. Times are nanoseconds from the run's origin. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder for the single client thread. Disabled tracers
  * only run the body, so the untraced run pays nothing for them.
  */
final class Tracer(@volatile var enabled: Boolean, origin: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, layer, name, System.nanoTime() - origin, 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - origin)
      }
    }

  /** Summed milliseconds of the spans of `layer` named `name`. */
  def totalMs(layer: String, name: String): Double =
    spans.filter(s => s.layer == layer && s.name == name).map(_.ms).sum
}

/** Scheduler and task counters of the jobs run under one job group. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
  var inputBytes, inputRecords = 0L

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "bytes_read" -> inputBytes, "rows_read" -> inputRecords)
}

/** Listener keyed by the job group the harness sets around each operation.
  * Jobs outside any group are ignored.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def get(g: String): GroupStats = Option(groups.get(g)).getOrElse(new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val s = stats(g)
        s.synchronized { s.jobs += 1 }
        e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = stats(g)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
}
