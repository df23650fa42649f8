package graft

import org.apache.spark.scheduler._

/** Per-query profiler: times each named registry query the way [[Bench]]
  * does (full-plan [[Bench.evalRows]], min over passes, the frozen
  * [[Bench.calibrate]] leg) and says where the warm pass spent it —
  * every Spark job's wall time and call site, and the tasks' CPU,
  * shuffle read/write, spill and peak execution memory. One
  * `PROFILE {...}` JSON line per query is the cost record.
  *
  * In job lists, jobs labelled `withThreadLocalCaptured ... at
  * CompletableFuture.java` are AQE query-stage materializations (shuffle
  * stages and broadcast builds): most of a query's work lands there, not
  * under the action's call site.
  *
  * `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Profile q1,q2,… [passes]"` */
object Profile {
  /** Job and task counters of one query's profiled pass. */
  private final class Counters {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    var tasks = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }

  /** Routes job and task events to the counters of the query being
    * profiled; all callbacks run on the single listener-bus thread. */
  private final class Recorder extends SparkListener {
    @volatile var current: Option[Counters] = None
    private val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]

    override def onJobStart(js: SparkListenerJobStart): Unit = current.foreach { _ =>
      val site = Option(js.properties).flatMap(p =>
        Option(p.getProperty("callSite.short"))
          .orElse(Option(p.getProperty("spark.job.description"))))
        .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
      starts(js.jobId) = (js.time, site)
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = current.foreach { c =>
      starts.remove(je.jobId).foreach { case (t0, site) =>
        c.jobs += ((je.jobId, (je.time - t0) / 1e3, site))
      }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = current.foreach { c =>
      val m = te.taskMetrics
      if (m != null) {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1,q2,...> [passes]")
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val passes = if (args.length > 1) args(1).toInt else 3
    val sfDir = LocalSession.sfDir
    val spark = LocalSession()
    val sc = spark.sparkContext
    // listener events are posted asynchronously: drain the bus before
    // reading or re-targeting the counters, or late task ends undercount
    // (LiveListenerBus.waitUntilEmpty is private[spark]; reflection
    // reaches it)
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")
    def drain(): Unit = waitUntilEmpty.invoke(bus)
    val recorder = new Recorder
    sc.addSparkListener(recorder)
    Bench.warmTables(spark, sfDir)
    Bench.calibrate(spark) // untimed warm-up of the calibration leg itself
    val calibration = Bench.calibrate(spark)
    println(f"PROFILE calibration_sec=$calibration%.3f sf=$sfDir cpus=${LocalSession.cpus}")
    val counters = names.map(_ -> new Counters).toMap
    val secs = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val rows = scala.collection.mutable.Map.empty[String, Long]
    for (pass <- 1 to passes; q <- names) {
      // only the last (warm) pass is profiled
      drain()
      recorder.current = if (pass == passes) Some(counters(q)) else None
      val t0 = System.nanoTime()
      rows(q) = Bench.evalRows(SparkEntry.queries(q)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      recorder.current = None
      secs(q) += sec
      println(f"PROFILE q=$q pass=$pass rows=${rows(q)} sec=$sec%.3f")
      Bench.settle(spark)
    }
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    names.foreach { q =>
      val c = counters(q)
      c.jobs.sortBy(_._1).foreach { case (id, sec, site) =>
        println(f"PROFILE q=$q job=$id%d sec=$sec%.3f site=$site")
      }
      println(f"""PROFILE {"query":"$q","rows":${rows(q)},"min_sec":${secs(q).min}%.3f,"passes":${secs(q).map(s => f"$s%.3f").mkString("[", ",", "]")},"calibration_sec":$calibration%.3f,"jobs":${c.jobs.size},"tasks":${c.tasks},"task_cpu_sec":${c.cpuNs / 1e9}%.3f,"shuffle_read_mb":${mb(c.shuffleRead)},"shuffle_write_mb":${mb(c.shuffleWrite)},"spill_mb":${mb(c.spill)},"peak_task_mem_mb":${mb(c.peakMem)}}""")
    }
    spark.stop()
  }
}
