package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query empirical profiler (optimization guide §1.1): the sandbox
  * runs with `spark.ui.enabled=false`, so this listener-based harness
  * stands in for the Stages tab. For each selected query it runs one
  * uncounted warm-up, then one measured run, and prints per-job and
  * per-stage wall/task breakdowns: stage duration, task count, shuffle
  * read/write bytes, input bytes and records — enough to decide whether
  * a query's time is scan, shuffle, or many-small-jobs overhead.
  *
  * Queries are chosen by `Bench.select` and each run is one
  * `Bench.runNoop`, the selection and timing every harness main shares.
  *
  * Usage: sbt "runMain graft.QProfile <sfDir> <name1,name2,...>"
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QProfile <sfDir> <name1,...>")
    val sfDir = args(0)
    val wanted = Bench.tokens(args(1))
    require(wanted.nonEmpty, "usage: QProfile <sfDir> <name1,...>")
    val names = Bench.select(wanted)

    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    case class St(id: Int, name: String, tasks: Int, durMs: Long,
        taskMs: Long, gcMs: Long, inB: Long, inRec: Long, srB: Long,
        swB: Long, spill: Long)
    // listener state is mutated on the listener-bus thread and read on
    // the main thread (ADVICE r16): every access goes through `lock`,
    // and the main thread polls until all started jobs carry end times
    // (bounded) instead of hoping a fixed sleep outlasts the bus queue.
    val lock = new Object
    val stages = collection.mutable.ArrayBuffer.empty[St]
    val jobs = collection.mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, t0, t1
    val jobStages = collection.mutable.Map.empty[Int, Seq[Int]]
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) lock.synchronized {
          val i = sc.stageInfo
          val m = i.taskMetrics
          stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(90),
            i.numTasks,
            (for {a <- i.completionTime; b <- i.submissionTime} yield a - b)
              .getOrElse(-1L),
            m.executorRunTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled)
        }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) lock.synchronized {
          jobs += ((j.jobId, j.time, -1L))
          jobStages(j.jobId) = j.stageIds
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (collecting) lock.synchronized {
          val idx = jobs.lastIndexWhere(_._1 == j.jobId)
          if (idx >= 0) jobs(idx) = (j.jobId, jobs(idx)._2, j.time)
        }
    })

    names.foreach { case (n, fn) =>
      // warm-up (JIT, parquet footers); the measured run reuses its
      // generated classes while the codegen cache holds them
      // (GraftSession.CodegenCacheEntries)
      Bench.runNoop(spark, sfDir, fn)
      lock.synchronized { stages.clear(); jobs.clear(); jobStages.clear() }
      collecting = true
      val wall = Bench.runNoop(spark, sfDir, fn)
      // drain: wait (bounded) until every started job has its end event,
      // then one settle interval for trailing stage-completed events
      val deadline = System.nanoTime() + 5_000_000_000L
      while (lock.synchronized(jobs.exists(_._3 < 0)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      collecting = false
      val (jobsSnap, stagesSnap, jobStagesSnap) = lock.synchronized {
        (jobs.toList, stages.toList, jobStages.toMap)
      }
      println(s"\n===== $n  wall=${f"$wall%.2f"}s  jobs=${jobsSnap.size} " +
        s"stages=${stagesSnap.size} =====")
      val byId = stagesSnap.map(s => s.id -> s).toMap
      jobsSnap.foreach { case (jid, t0, t1) =>
        val sids = jobStagesSnap.getOrElse(jid, Nil).sorted
        val ran = sids.flatMap(byId.get)
        println(f"job $jid%3d ${if (t1 > 0) (t1 - t0) / 1000.0 else -1.0}%7.2fs " +
          s"stages=${sids.mkString(",")}")
        ran.foreach { s =>
          println(f"    st ${s.id}%4d ${s.durMs / 1000.0}%7.2fs tasks=${s.tasks}%3d " +
            f"taskSum=${s.taskMs / 1000.0}%8.2fs gc=${s.gcMs / 1000.0}%6.2fs " +
            f"in=${s.inB / 1048576.0}%7.1fMB/${s.inRec}%,d " +
            f"sr=${s.srB / 1048576.0}%7.1fMB sw=${s.swB / 1048576.0}%7.1fMB " +
            f"spill=${s.spill / 1048576.0}%6.1fMB  ${s.name}%s")
        }
      }
    }
    spark.stop()
  }
}
