package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{AscGrid, GridFileMeta, GridFixtures, GridReader}
import graft.streaming.Ingest

/** Batch + streaming ingest end-to-end over the embedded fixtures. */
class IngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): Path =
    Files.createTempDirectory(prefix)

  private def writeFixtures(dir: Path): Unit =
    GridFixtures.files.foreach { f =>
      Files.writeString(dir.resolve(f.name), f.content)
    }

  test("batch readGrids explodes all fixture files with metadata") {
    val in = tmp("grids-in")
    writeFixtures(in)
    val pts = GridReader.readGrids(spark, in.toString).collect()
    // 8 (f1) + 2 (f2) + 1 (f3) + 3 (f4) points survive NODATA filtering
    assert(pts.length == 14)
    val f1 = pts.filter(_.date == "2018-01-01 10:00")
    assert(f1.length == 8 && f1.forall(_.radiation_type == "radiation"))
    assert(f1.forall(p => p.year == 2018 && p.month == 1 && p.day == 1 && p.hour == 10))
  }

  test("writePartitioned produces the Hive year=/month=/day=/hour= layout") {
    val in = tmp("grids-in2"); writeFixtures(in)
    val out = tmp("grids-serving")
    GridReader.writePartitioned(GridReader.readGrids(spark, in.toString), out.toString)
    assert(Files.exists(out.resolve("year=2018/month=1/day=1/hour=10")))
    assert(Files.exists(out.resolve("year=2017/month=6/day=15/hour=12")))
    // partition pruning read-back
    val pruned = spark.read.parquet(out.toString)
      .filter("year = 2018 AND month = 1 AND day = 1 AND hour = 10")
    assert(pruned.count() == 8)
  }

  test("dynamic partition overwrite replaces only re-ingested partitions") {
    val in = tmp("dyn-in"); writeFixtures(in)
    val out = tmp("dyn-serving").toString
    GridReader.writePartitioned(GridReader.readGrids(spark, in.toString), out)
    assert(spark.read.parquet(out).count() == 14)

    // re-ingest ONLY f1 (partition 2018/1/1/10) in dynamic-overwrite mode
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val redo = tmp("dyn-redo")
      Files.writeString(redo.resolve(GridFixtures.f1.name), GridFixtures.f1.content)
      GridReader.writePartitioned(
        GridReader.readGrids(spark, redo.toString), out,
        org.apache.spark.sql.SaveMode.Overwrite)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // idempotent: f1's partition replaced (not doubled), others intact
    val back = spark.read.parquet(out)
    assert(back.count() == 14)
    assert(back.filter("year = 2018 AND month = 1").count() == 8)
    assert(back.filter("year = 2017").count() == 5)
  }

  test("streaming AvailableNow ingests good files and quarantines bad ones") {
    val in = tmp("stream-in"); writeFixtures(in)
    Files.writeString(in.resolve("BROKEN_radiation_20180101_0100.txt"),
      "this is not a grid\nat all")
    val serving = tmp("stream-serving").toString
    val checkpoint = tmp("stream-chk").toString
    val archive = tmp("stream-archive").toString
    val quarantine = tmp("stream-quarantine").toString

    // maxAttempts = 1: condemn on first failure (the pre-redrive behavior)
    Ingest.runAvailableNow(spark, in.toString, serving, checkpoint, archive,
      quarantine, maxAttempts = 1)

    assert(spark.read.parquet(serving).count() == 14)
    val bad = spark.read.json(quarantine)
    assert(bad.count() == 1)
    assert(bad.select("file_name").head.getString(0).contains("BROKEN"))
    assert(bad.select("attempts").head.getLong(0) == 1L)

    // second drain with one new file appends exactly its points (checkpoint
    // skips everything already processed)
    Files.writeString(in.resolve("IDZ00026_radiation_20190701_0300.txt"),
      GridFixtures.f3.content)
    Ingest.runAvailableNow(spark, in.toString, serving, checkpoint, archive,
      quarantine, maxAttempts = 1)
    assert(spark.read.parquet(serving).count() == 15)
  }

  test("transiently-failing file succeeds on redrive, never quarantined") {
    val in = tmp("redrive-in")
    Files.writeString(in.resolve(GridFixtures.f3.name), GridFixtures.f3.content)
    val serving = tmp("redrive-serving").toString
    val checkpoint = tmp("redrive-chk").toString
    val archive = tmp("redrive-archive").toString
    val quarantine = tmp("redrive-quarantine")

    IngestFlaky.calls.set(0)
    // fails the first 2 parse attempts, then behaves — a transient fault
    val flaky: (String, String) => (GridFileMeta, AscGrid) =
      (name, text) => {
        if (IngestFlaky.calls.getAndIncrement() < 2)
          sys.error("transient downstream failure")
        GridReader.parseFile(name, text)
      }

    (1 to 3).foreach { _ =>
      Ingest.runAvailableNow(spark, in.toString, serving, checkpoint,
        archive, quarantine.toString, maxAttempts = 5, parse = flaky)
    }
    // attempt 3 succeeded: the file's 1 point is served, nothing quarantined
    assert(spark.read.parquet(serving).count() == 1)
    assert(Option(quarantine.toFile.list()).forall(_.isEmpty))
    assert(IngestFlaky.calls.get() == 3)
    // a 4th drain finds nothing to do: no re-enqueue after success
    // (consumed files may still await async archiving, so assert on
    // behavior, not directory emptiness)
    Ingest.runAvailableNow(spark, in.toString, serving, checkpoint,
      archive, quarantine.toString, maxAttempts = 5, parse = flaky)
    assert(spark.read.parquet(serving).count() == 1)
    assert(IngestFlaky.calls.get() == 3)
    assert(Option(quarantine.toFile.list()).forall(_.isEmpty))
  }

  test("ProcessingTime soak: files across 3+ micro-batches, restart " +
    "mid-stream, nothing lost or duplicated, equal to one AvailableNow run") {
    val in = tmp("soak-in")
    val serving = tmp("soak-serving").toString
    val checkpoint = tmp("soak-chk").toString
    val archive = tmp("soak-archive").toString
    val quarantine = tmp("soak-quarantine").toString

    def served(): Long =
      scala.util.Try(spark.read.parquet(serving).count()).getOrElse(0L)
    def waitServed(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (served() != n && System.nanoTime() < deadline) Thread.sleep(100)
      assert(served() == n, s"timed out waiting for $n served points")
    }

    // three arrivals while the query runs = three separate micro-batches
    // (each file lands alone; the 150 ms trigger drains it before the next)
    Files.writeString(in.resolve(GridFixtures.f1.name), GridFixtures.f1.content)
    val q1 = Ingest.runProcessingTime(spark, in.toString, serving, checkpoint,
      archive, quarantine, intervalMs = 150L)
    try {
      waitServed(8) // f1
      Files.writeString(in.resolve(GridFixtures.f2.name), GridFixtures.f2.content)
      waitServed(10) // + f2
      Files.writeString(in.resolve(GridFixtures.f3.name), GridFixtures.f3.content)
      waitServed(11) // + f3
    } finally q1.stop() // restart point: stream down mid-arrival-sequence
    assert(!q1.isActive)

    // f4 arrives while the engine is DOWN; the restarted query must pick
    // up exactly it — everything before the stop stays committed in the
    // checkpoint (no replay), f4 is not missed
    Files.writeString(in.resolve(GridFixtures.f4.name), GridFixtures.f4.content)
    val q2 = Ingest.runProcessingTime(spark, in.toString, serving, checkpoint,
      archive, quarantine, intervalMs = 150L)
    try waitServed(14) finally q2.stop()

    // exactly-once across the restart: 14 points, no file double-served
    val soaked = spark.read.parquet(serving)
    assert(soaked.count() == 14)
    assert(Option(new java.io.File(quarantine).list()).forall(_.isEmpty))

    // parity: one AvailableNow drain over the same four files produces
    // the IDENTICAL partitioned dataset
    val in2 = tmp("soak-once-in"); writeFixtures(in2)
    val serving2 = tmp("soak-once-serving").toString
    Ingest.runAvailableNow(spark, in2.toString, serving2,
      tmp("soak-once-chk").toString, tmp("soak-once-archive").toString,
      tmp("soak-once-quarantine").toString)
    val once = spark.read.parquet(serving2)
    assert(soaked.exceptAll(once).isEmpty && once.exceptAll(soaked).isEmpty,
      "soak output diverges from the one-shot AvailableNow dataset")
  }

  test("permanently-bad file quarantines after exactly maxAttempts tries") {
    val in = tmp("poison-in")
    Files.writeString(in.resolve("POISON_radiation_20180101_0100.txt"),
      "never a grid")
    val serving = tmp("poison-serving")
    val checkpoint = tmp("poison-chk").toString
    val archive = tmp("poison-archive").toString
    val quarantine = tmp("poison-quarantine").toString

    // 5 drains with maxAttempts = 3: quarantined at drain 3; drains 4-5
    // must neither re-attempt nor re-quarantine it
    (1 to 5).foreach { _ =>
      Ingest.runAvailableNow(spark, in.toString, serving.toString, checkpoint,
        archive, quarantine, maxAttempts = 3)
    }
    val bad = spark.read.json(quarantine)
    assert(bad.count() == 1)
    val row = bad.select("file_name", "attempts").head
    assert(row.getString(0) == "POISON_radiation_20180101_0100.txt")
    assert(row.getLong(1) == 3L)
    // nothing served, and attempt 4 was never enqueued — neither still
    // pending in the inbox nor already archived
    assert(Option(serving.toFile.list()).forall(
      _.forall(f => f.startsWith("_") || f.startsWith("."))))
    def treeHasRetry4(dir: java.io.File): Boolean =
      Option(dir.listFiles()).toSeq.flatten.exists(f =>
        (f.isFile && f.getName.startsWith("retry4__")) ||
          (f.isDirectory && treeHasRetry4(f)))
    assert(!treeHasRetry4(new java.io.File(in.toString)))
    assert(!treeHasRetry4(new java.io.File(archive)))
  }

  test("reenqueue materializes atomically: exact bytes, no temp leftovers") {
    val dir = tmp("reenq")
    val text = "0 1 2 3\n" * 4096 // ~32 KiB, multi-block on most FS
    Ingest.reenqueue(dir.toString, "retry2__f.txt", text.getBytes(UTF_8))
    assert(Files.readString(dir.resolve("retry2__f.txt")) == text)
    // the staging temp is gone — ATOMIC_MOVE consumed it; a leftover
    // would mean a torn create+write path is back
    assert(dir.toFile.list().toSeq == Seq("retry2__f.txt"))
  }

  test("poisoned batch of oversized corrupt files: redrive semantics " +
    "unchanged, retry files byte-exact, no torn temps") {
    val in = tmp("poison-batch-in")
    // 6 corrupt files × 1 MiB: big enough that collecting their text to
    // the driver would be the old failure mode; processBatch now moves
    // only (name, attempt, error) rows driver-side
    val big = (1 to 16384).map(i => s"not a grid line $i padded " +
      "x" * 40).mkString("\n")
    val names = (1 to 6).map(i => s"BIG${i}_radiation_20180101_0100.txt")
    names.foreach(n => Files.writeString(in.resolve(n), big))
    val serving = tmp("poison-batch-serving").toString
    val checkpoint = tmp("poison-batch-chk").toString
    val archive = tmp("poison-batch-archive").toString
    val quarantine = tmp("poison-batch-quarantine").toString

    Ingest.runAvailableNow(spark, in.toString, serving, checkpoint,
      archive, quarantine, maxAttempts = 2)
    // drain 1 re-enqueued every file once, ATOMICALLY: the retry file
    // carries the FULL original bytes (a torn write would truncate and
    // silently corrupt the retry chain) and no hidden staging temp leaks
    val left = Option(in.toFile.list()).toSeq.flatten
    assert(!left.exists(_.startsWith(".retrytmp_")), left.toString)
    names.foreach { n =>
      assert(Files.readString(in.resolve(s"retry2__$n")) == big,
        s"retry2__$n is not byte-identical to the original")
    }

    Ingest.runAvailableNow(spark, in.toString, serving, checkpoint,
      archive, quarantine, maxAttempts = 2)
    // drain 2 exhausted all 6 (attempt 2 == maxAttempts): quarantined
    // with the full attempt history, nothing served, no retry3 enqueued
    val bad = spark.read.json(quarantine)
    assert(bad.count() == 6)
    assert(bad.collect().forall(_.getAs[Long]("attempts") == 2L))
    val after = Option(in.toFile.list()).toSeq.flatten
    assert(!after.exists(f => f.startsWith("retry3__") ||
      f.startsWith(".retrytmp_")), after.toString)
  }

  test("a clean drain parses each file once and caches nothing") {
    val in = tmp("single-pass-in"); writeFixtures(in)
    val serving = tmp("single-pass-serving").toString
    // any RDD persisted during the drain shows in a submitted stage
    val cachedStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.storageLevel.isValid))
          cachedStages.incrementAndGet()
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    IngestFlaky.calls.set(0)
    val counting: (String, String) => (GridFileMeta, AscGrid) =
      (name, text) => {
        IngestFlaky.calls.incrementAndGet()
        GridReader.parseFile(name, text)
      }
    spark.sparkContext.addSparkListener(listener)
    try Ingest.runAvailableNow(spark, in.toString, serving,
      tmp("single-pass-chk").toString, tmp("single-pass-archive").toString,
      tmp("single-pass-quarantine").toString, parse = counting)
    finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(serving).count() == 14)
    assert(IngestFlaky.calls.get() == GridFixtures.files.size)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(cachedStages.get() == 0)
  }

  test("one drain of a good, an all-NODATA and a zero-byte file") {
    val in = tmp("edge-in")
    Files.writeString(in.resolve(GridFixtures.f1.name), GridFixtures.f1.content)
    Files.writeString(in.resolve("IDZ00026_radiation_20180102_0100.txt"),
      "ncols 2\nnrows 1\nxllcorner 112.0\nyllcorner -44.0\ncellsize 0.5\n" +
        "NODATA_value -999\n-999 -999")
    val empty = "EMPTY_radiation_20180103_0100.txt"
    Files.write(in.resolve(empty), Array.emptyByteArray)
    val serving = tmp("edge-serving").toString
    val quarantine = tmp("edge-quarantine")

    // a bounded wait: an observation that is never reported must fail the
    // drain, not hang it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(Ingest.runAvailableNow(spark, in.toString, serving,
      tmp("edge-chk").toString, tmp("edge-archive").toString,
      quarantine.toString)), 3.minutes)

    assert(spark.read.parquet(serving).count() == 8) // f1; the NODATA grid adds 0
    assert(Files.exists(in.resolve(s"retry2__$empty")))
    assert(Files.size(in.resolve(s"retry2__$empty")) == 0L)
    assert(Option(quarantine.toFile.list()).forall(_.isEmpty))
  }

  test("a stray byte inside a cell is dropped, as the reference decodes: " +
    "the grid is served, never retried or quarantined") {
    val in = tmp("stray-in")
    val clean = GridFixtures.f1.content.getBytes(UTF_8)
    val at = GridFixtures.f1.content.indexOf("\n12 15 ") + "\n12 1".length
    Files.write(in.resolve(GridFixtures.f1.name),
      clean.take(at) ++ Array(0xfe.toByte) ++ clean.drop(at))
    val serving = tmp("stray-serving").toString
    val quarantine = tmp("stray-quarantine")
    Ingest.runAvailableNow(spark, in.toString, serving, tmp("stray-chk").toString,
      tmp("stray-archive").toString, quarantine.toString)

    val f1 = GridReader.explodeFile(GridFixtures.f1.name, GridFixtures.f1.content).toSeq
    val back = spark.read.parquet(serving)
    assert(back.count() == 8 && f1.size == 8)
    assert(back.selectExpr("sum(radiation)").head.getLong(0) == f1.map(_.radiation).sum)
    assert(!Option(in.toFile.list()).toSeq.flatten.exists(_.startsWith("retry2__")))
    assert(Option(quarantine.toFile.list()).forall(_.isEmpty))
  }

  test("a retried file holds exactly the original bytes, invalid UTF-8 included") {
    val in = tmp("retry-bytes-in")
    val lines = GridFixtures.f1.content.split("\n", -1)
    val original = Array.concat("ncols ".getBytes(UTF_8), Array(0xff.toByte),
      lines.tail.mkString("\n", "\n", "").getBytes(UTF_8))
    Files.write(in.resolve(GridFixtures.f1.name), original)
    Ingest.runAvailableNow(spark, in.toString, tmp("retry-bytes-serving").toString,
      tmp("retry-bytes-chk").toString, tmp("retry-bytes-archive").toString,
      tmp("retry-bytes-quarantine").toString)
    val retried = Files.readAllBytes(in.resolve(s"retry2__${GridFixtures.f1.name}"))
    assert(retried.sameElements(original),
      s"retry bytes differ: ${retried.take(8).map(b => f"${b & 0xff}%02X").mkString(" ")}")
  }

  test("a clean drain writes one parquet object per grid file, with no SQL write") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SerializeFromObjectExec, SortExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val in = tmp("one-object-in"); writeFixtures(in)
    val serving = tmp("one-object-serving")
    // every executed plan reported while the listener is registered
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    // the stream's session is cloned at start, so it inherits the listener
    spark.listenerManager.register(listener)
    try {
      Ingest.runAvailableNow(spark, in.toString, serving.toString,
        tmp("one-object-chk").toString, tmp("one-object-archive").toString,
        tmp("one-object-quarantine").toString)
      // listeners are told in order on the listener bus: once this marker's
      // plan is reported, every plan of the drain has been
      spark.range(3).toDF("one_object_marker").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_.toString.contains("one_object_marker")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.asScala.exists(_.toString.contains("one_object_marker")), "the marker was never reported")
    // the AQE-aware traversal also looks inside adaptive plans
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val sqlWrites = plans.asScala.flatMap(helper.collect(_) {
      case w: DataWritingCommandExec if (w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.partitionColumns.nonEmpty
        case _ => false
      }) => w
      case p @ (_: SortExec | _: SerializeFromObjectExec | _: CollectMetricsExec) => p
    })
    assert(sqlWrites.isEmpty, sqlWrites.mkString("\n"))
    // each fixture is exactly one <base>.snappy.parquet object in its partition
    val objects = Files.walk(serving).iterator.asScala.filter(Files.isRegularFile(_))
      .map(serving.relativize(_).toString).filterNot(_.split('/').last.startsWith(".")).toSeq
    assert(objects.sorted == GridFixtures.files.map { f =>
      val m = AscGrid.parseFileName(f.name)
      s"year=${m.year}/month=${m.month}/day=${m.day}/hour=${m.hour}/${m.baseName}.snappy.parquet"
    }.sorted)
    assert(spark.read.parquet(serving.toString).count() == 14)
  }

  test("a re-run batch replaces its objects and never duplicates them") {
    val in = tmp("rerun-in"); writeFixtures(in)
    val serving = tmp("rerun-serving")
    val checkpoint = tmp("rerun-chk")
    def drain(): Unit = Ingest.runAvailableNow(spark, in.toString, serving.toString,
      checkpoint.toString, tmp("rerun-archive").toString, tmp("rerun-quarantine").toString)
    def served(): (Long, Long) = {
      val r = spark.read.parquet(serving.toString).selectExpr("count(*)", "sum(radiation)").head
      (r.getLong(0), r.getLong(1))
    }
    def objects(): Seq[String] = Files.walk(serving).iterator.asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    drain()
    val (first, firstObjects) = (served(), objects())
    // without batch 0's commit (and its checksum sidecar), the next run
    // re-runs batch 0 over the same files
    Files.delete(checkpoint.resolve("commits/0"))
    Files.deleteIfExists(checkpoint.resolve("commits/.0.crc"))
    drain()
    assert(Files.exists(checkpoint.resolve("commits/0")), "batch 0 was not re-run")
    assert(served() == first)
    assert(first._1 == 14L)
    assert(objects() == firstObjects)
    assert(objects() == GridFixtures.files.map(f =>
      AscGrid.parseFileName(f.name).baseName + ".snappy.parquet").sorted)
  }

  test("more partitions in one write task than the writer limit: every row lands") {
    val in = tmp("fallback-in")
    // one tiny grid per UTC hour, each its own Sydney-local hour partition
    val hours = 1 to 6
    hours.foreach { h =>
      Files.writeString(in.resolve(f"IDZ00026_radiation_20180105_$h%02d00.txt"),
        s"ncols 2\nnrows 1\nxllcorner 112.0\nyllcorner -44.0\ncellsize 0.5\n" +
          s"NODATA_value -999\n$h ${10 * h}")
    }
    val serving = tmp("fallback-serving")
    // (tasks, rows written) of every stage the drain runs
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.numTasks -> e.stageInfo.taskMetrics.outputMetrics.recordsWritten)
    }
    // one split may then span every file; the stream's session inherits it
    val packKey = "spark.sql.files.minPartitionNum"
    val prev = spark.conf.getOption(packKey)
    spark.conf.set(packKey, "1")
    spark.sparkContext.addSparkListener(listener)
    try Ingest.runAvailableNow(spark, in.toString, serving.toString,
      tmp("fallback-chk").toString, tmp("fallback-archive").toString,
      tmp("fallback-quarantine").toString)
    finally {
      spark.sparkContext.removeSparkListener(listener)
      prev.fold(spark.conf.unset(packKey))(spark.conf.set(packKey, _))
    }
    val back = spark.read.parquet(serving.toString)
    assert(back.count() == 2L * hours.size)
    assert(back.selectExpr("sum(radiation)").head.getLong(0) == 11L * hours.sum)
    // one read task held every file and wrote every row
    assert(stages.toArray.toSeq.contains(1 -> 2L * hours.size), stages.toString)
    val dirs = Files.walk(serving).iterator.asScala.filter(Files.isDirectory(_))
      .map(serving.relativize(_).toString).filter(_.count(_ == '/') == 3).toSet
    assert(dirs == hours.map(h => s"year=2018/month=1/day=5/hour=${h + 11}").toSet)
  }

  test("a drain leaves the caller's writer-limit setting as it was") {
    val key = "spark.sql.maxConcurrentOutputFileWriters"
    val before = spark.conf.getOption(key)
    val in = tmp("conf-in"); writeFixtures(in)
    val serving = tmp("conf-serving").toString
    Ingest.runAvailableNow(spark, in.toString, serving, tmp("conf-chk").toString,
      tmp("conf-archive").toString, tmp("conf-quarantine").toString)
    assert(spark.read.parquet(serving).count() == 14)
    assert(spark.conf.getOption(key) == before)

    val in2 = tmp("conf-pt-in")
    Files.writeString(in2.resolve(GridFixtures.f1.name), GridFixtures.f1.content)
    val serving2 = tmp("conf-pt-serving").toString
    val q = Ingest.runProcessingTime(spark, in2.toString, serving2,
      tmp("conf-pt-chk").toString, tmp("conf-pt-archive").toString,
      tmp("conf-pt-quarantine").toString, intervalMs = 150L)
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def served(): Long = scala.util.Try(spark.read.parquet(serving2).count()).getOrElse(0L)
      while (served() != 8 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(served() == 8)
    } finally q.stop()
    assert(spark.conf.getOption(key) == before)
  }
}

/** Shared fault-injection counter: a top-level object so the executor-side
  * closure resolves it statically (same JVM in local mode).
  */
object IngestFlaky {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
