package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** What the scheduler did on behalf of one job group. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMemBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble,
    "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble,
    "task_cpu_s" -> cpuNs / 1e9,
    "max_task_s" -> maxTaskMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spill_mb" -> spillBytes / 1e6,
    "peak_task_mem_mb" -> peakTaskMemBytes / 1e6,
    "write_mb" -> outputBytes / 1e6,
    "records_written" -> outputRecords.toDouble)
}

/** A SparkListener that attributes jobs, stages and task metrics to the
  * job group that was set on the calling thread when each job started.
  * AQE stage and broadcast jobs inherit the caller's group, so one group
  * covers everything one call triggered. */
final class Counters(sc: SparkContext) extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  sc.addSparkListener(this)

  private def group(id: String): GroupCounters = byGroup.getOrElseUpdate(id, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("<none>")
    group(g).jobs += 1
    e.stageInfos.foreach(s => if (!stageGroup.contains(s.stageId)) stageGroup(s.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => group(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "<none>"))
    g.tasks += 1
    g.maxTaskMs = math.max(g.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      g.cpuNs += m.executorCpuTime
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.peakTaskMemBytes = math.max(g.peakTaskMemBytes, m.peakExecutionMemory)
      g.outputBytes += m.outputMetrics.bytesWritten
      g.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Runs `body` under job group `id` (which must be fresh) and returns
    * its result, its wall seconds, and the group's counters, read after
    * every event of its jobs was delivered. */
  def measure[T](id: String)(body: => T): (T, Double, GroupCounters) = {
    sc.setJobGroup(id, id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.BusDrain(sc)
    (r, wall, synchronized(byGroup.getOrElse(id, new GroupCounters)))
  }
}

/** One traced interval. Spans of one op or one trace round share `opId`;
  * layer spans name the round span as their parent. */
final case class Span(name: String, start: Double, end: Double, parent: String, opId: Int)
