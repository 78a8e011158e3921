package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge

/** Per-query execution profiler (optimization-guide §1 "measure first"):
  * runs selected SparkEntry queries with a SparkListener attached and
  * reports, per run, the wall time, the JOB, STAGE and TASK counts, summed
  * executor task time, summed GC time and shuffle bytes read/written,
  * followed by one line per stage (the 12 with the most task time: tasks,
  * wall, task time, call site) — the numbers that tell scheduling overhead
  * (many near-empty tasks / BSP job latency) apart from genuine compute,
  * which the bench's single wall-clock number cannot.
  *
  * Usage: `sbt "runMain graft.ProfileBench q1 q2 ..."` (every query when none
  * is named) — same env contract as Bench (`SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS`); any other Spark key goes in as a system property:
  * `sbt 'set javaOptions += "-Dspark.sql.adaptive.enabled=false"' "runMain …"`.
  * Each query gets one sf0.001 warmup, then two timed runs at the target SF
  * (Bench's min-of-2: noop sink, cache cleared between runs). Diagnostics
  * only — never an artifact the driver reads. */
object ProfileBench {
  private val Runs = 2
  private val StageLines = 12

  private class Acc extends SparkListener {
    private var jobs = 0
    private var tasks = 0
    private var taskTimeMs = 0L
    private var gcMs = 0L
    private var shufReadB = 0L
    private var shufWriteB = 0L
    // (stage id, tasks, wall ms, task ms, call site)
    private val stageLog =
      new scala.collection.mutable.ListBuffer[(Int, Int, Long, Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val wallMs = (for (b <- i.submissionTime; e <- i.completionTime)
        yield e - b).getOrElse(0L)
      stageLog += ((i.stageId, i.numTasks, wallMs,
        Option(i.taskMetrics).fold(0L)(_.executorRunTime),
        i.name.takeWhile(_ != '\n')))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        gcMs += m.jvmGCTime
        if (m.shuffleReadMetrics != null) shufReadB += m.shuffleReadMetrics.totalBytesRead
        if (m.shuffleWriteMetrics != null) shufWriteB += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; taskTimeMs = 0; gcMs = 0
      shufReadB = 0; shufWriteB = 0; stageLog.clear()
    }
    /** The run's row, then its stage lines. */
    def report(name: String, run: Int, wallS: Double): Seq[String] = synchronized {
      val row = f"$name%-28s $run%3d $wallS%7.2f $jobs%5d ${stageLog.size}%6d " +
        f"$tasks%5d ${taskTimeMs / 1e3}%7.1f ${gcMs / 1e3}%5.1f " +
        f"${shufReadB / 1e6}%9.1f ${shufWriteB / 1e6}%8.1f"
      row +: stageLog.sortBy(-_._4).take(StageLines).toSeq.map {
        case (id, nt, wallMs, taskMs, site) =>
          f"    stage $id%4d tasks $nt%5d wall_s ${wallMs / 1e3}%6.2f " +
            f"taskT_s ${taskMs / 1e3}%6.2f  $site"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sc = spark.sparkContext
    val acc = new Acc
    sc.addSparkListener(acc)

    def exec(name: String, dir: String): Unit =
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()

    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-28s run  wall_s  jobs stages tasks taskT_s  gc_s  shufR_MB shufW_MB")
    names.foreach { n =>
      try {
        exec(n, "/root/testdata/sf0.001")
        (1 to Runs).foreach { i =>
          // the listener bus is asynchronous: drain it so the warmup's or the
          // previous run's events land before the reset, and this run's
          // before the report
          GraftBridge.drainListenerBus(sc)
          acc.reset()
          val t0 = System.nanoTime()
          exec(n, sfDir)
          val wall = (System.nanoTime() - t0) / 1e9
          GraftBridge.drainListenerBus(sc)
          acc.report(n, i, wall).foreach(println)
        }
      } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
