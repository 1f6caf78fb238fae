package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload hands back to [[Main]]. Times are seconds.
  *
  * @param first     the cold pass
  * @param warm      the untraced passes after it
  * @param report    the workload's metrics under their own names
  * @param layers    per-layer metrics (traced run only)
  */
final case class Outcome(first: Pass, warm: Seq[Pass],
    report: Seq[(String, Double, String)], layers: Map[String, Double])

/** One operation's window in epoch milliseconds and the CPU seconds the
  * JVM spent inside it ([[Main.workCpuNs]]).
  */
final case class Op(start: Double, end: Double, cpu: Double) {
  def wall: Double = (end - start) / 1000
}

/** One pass: its wall time and its operations. */
final case class Pass(index: Int, wall: Double, ops: Seq[Op], traced: Boolean = false) {
  def latencies: Seq[Double] = ops.map(_.wall)
  def cpu: Seq[Double] = ops.map(_.cpu)
}

/** A workload: `setUp` prepares a fresh session for it and is timed
  * repeatedly for `setup_s`; `run` measures it in the last such session.
  */
trait Workload {
  def setUp(spark: SparkSession, work: Path, rep: Int): Unit
  def run(ctx: Ctx): Outcome
}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    traceRun: Boolean, val work: Path, val data: Path) {

  val tracer: Option[Tracer] = if (traceRun) Some(new Tracer(spark)) else None
  private var tracing = false

  /** The tracer while a traced segment runs, else a no-op. */
  def trace: Trace = if (tracing) tracer.get else Trace.Off

  /** Runs `body` traced in a traced run, untraced otherwise. */
  def traced[T](body: => T): T = tracer match {
    case Some(t) =>
      t.start()
      tracing = true
      try body finally { tracing = false; t.stop() }
    case None => body
  }

  private var attempted0 = 0
  private var failed0 = 0
  def attempted: Int = attempted0
  def failed: Int = failed0

  /** Counts one operation; it fails when `body` throws or its output
    * check returns false. Failures are logged and never dropped.
    */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted0 += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    if (!ok) {
      failed0 += 1
      System.err.println(s"[perfbench] $what FAILED its output check")
    }
    ok
  }

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Runs `body` as one operation. A full collection first, outside the
    * window, gives every operation the same heap to start from; without
    * it, how much of the collector's work lands in an operation depends
    * on how full the heap happened to be when it began.
    */
  def op[T](body: => T): (T, Op) = {
    System.gc()
    val c0 = Main.workCpuNs()
    val t0 = Trace.now()
    val r = body
    (r, Op(t0, Trace.now(), (Main.workCpuNs() - c0) / 1e9))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Untraced warm passes a traced run makes before it starts to trace. */
  val warmUpPasses: Int = if (tracer.isDefined) 1 else 0

  /** Runs warm passes, numbered from 1, until `seconds` have passed since
    * `since` (epoch ms) and at least `minPasses` ran. After one warm-up
    * pass, a traced run traces passes in the order untraced, traced,
    * traced, untraced (ABBA) and ends on a whole block, so a drift while
    * the JVM warms up weighs the same on both sides of
    * `trace.overhead_ratio`; only untraced passes feed the end-to-end
    * numbers.
    */
  def warmLoop(since: Double, minPasses: Int)(pass: Int => Pass): Seq[Pass] = {
    val done = collection.mutable.ArrayBuffer.empty[Pass]
    val block = if (tracer.isDefined) 4 else 1
    val min = math.max(minPasses, warmUpPasses + block)
    var i = 1
    while (i <= min || (i - 1 - warmUpPasses) % block != 0 ||
        Trace.now() - since < seconds * 1000) {
      val (jit0, gc0) = (Main.jitCpuNs(), gcSeconds)
      val k = (i - warmUpPasses) % 4
      done += (if (tracer.isDefined && i > warmUpPasses && (k == 2 || k == 3))
        traced(pass(i)).copy(traced = true) else pass(i))
      System.err.println(f"[perfbench] pass $i: ${done.last.wall}%.3f s wall, " +
        f"${done.last.cpu.sum}%.2f s cpu; ops cpu ${done.last.cpu.map(c => f"$c%.2f").mkString(" ")}; " +
        f"jit ${(Main.jitCpuNs() - jit0) / 1000000} ms cpu, gc ${(gcSeconds - gc0) * 1000}%.0f ms")
      i += 1
    }
    done.toSeq
  }
}

object Main {

  val Workloads: Map[String, Workload] = Map(
    "ingest_grids" -> IngestGrids,
    "query_suite" -> QuerySuite)

  /** Set-ups per run; the first also loads and compiles the engine. */
  val SetupReps = 5

  /** The JIT compiler threads' `stat` files. The launcher turns off
    * `UseDynamicNumberOfCompilerThreads`, so the set is fixed at start.
    */
  private lazy val compilerStats: Seq[Path] =
    Files.list(Paths.get("/proc/self/task")).iterator.asScala.toSeq.filter { t =>
      val comm = t.resolve("comm")
      Files.isReadable(comm) && Files.readString(comm).contains("CompilerThre")
    }.map(_.resolve("stat"))

  /** User plus system CPU of the JIT compiler threads, in nanoseconds. */
  def jitCpuNs(): Long = compilerStats.map { stat =>
    // the fields after the command name; utime and stime are the 12th and 13th
    val f = Files.readString(stat).split("\\) ", 2)(1).split(' ')
    (f(11).toLong + f(12).toLong) * (1000000000L / ClockTicks)
  }.sum

  /** USER_HZ, the unit of the times in `/proc/<pid>/task/<tid>/stat`. */
  private val ClockTicks = 100L

  /** CPU time of the whole JVM, every thread and GC included, less that of
    * the JIT compiler threads. A fresh JVM is still compiling hot code for
    * minutes, at a rate that falls pass over pass and differs between
    * runs; that is warm-up of the JVM, not work of the engine. Janino
    * compiling Spark's generated code runs on the calling threads and
    * stays in.
    */
  def workCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - jitCpuNs()

  /** Starts a session, runs a first job and the workload's set-up. */
  def setUp(w: Workload, cores: Int, shufflePartitions: String, work: Path,
      rep: Int): SparkSession = {
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.conf.get("spark.sql.shuffle.partitions") == shufflePartitions,
      s"shuffle partitions ${spark.conf.get("spark.sql.shuffle.partitions")} " +
        s"!= $shufflePartitions")
    spark.range(1000).selectExpr("sum(id)").collect()
    w.setUp(spark, work, rep)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val w = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))

    // each set-up but the last is stopped; the workload runs in the last
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val (c0, j0) = (workCpuNs(), jitCpuNs())
      val t0 = Trace.now()
      spark = setUp(w, opt("cores").toInt, opt("shuffle-partitions"), work, r)
      ((Trace.now() - t0) / 1000, (workCpuNs() - c0) / 1e9, (jitCpuNs() - j0) / 1000000)
    }
    System.err.println(s"[perfbench] set-ups (wall s, cpu s, jit ms): ${setups.mkString(" ")}")

    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, traced,
      work, Paths.get(opt("data")))
    val out = w.run(ctx)

    val headline = Map(
      "setup_s" -> Stats.median(setups.map(_._1)),
      "setup.cold_s" -> setups.head._1,
      "first_pass_s" -> out.first.wall,
      "pass_s" -> Stats.passTime(out.warm.map(_.latencies), Stats.median),
      "op_p50_s" -> Stats.median(out.warm.flatMap(_.latencies)),
      "first_cpu_s" -> out.first.cpu.sum,
      "pass_cpu_s" -> Stats.passTime(out.warm.map(_.cpu), _.min))
    val report = Seq("setup_s", "setup.cold_s").map(k => (k, headline(k), "s")) ++
      out.report ++ Seq("first_cpu_s", "pass_cpu_s").map(k => (k, headline(k), "s")) ++ Seq(
      ("error_rate", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio"),
      ("warm_passes", out.warm.size.toDouble, "count"),
      ("ops", out.warm.map(_.ops.size).sum.toDouble, "count"))
    println("[perfbench] " + report.map { case (k, v, u) => s"$k=${fmt(v)} $u" }
      .mkString(", "))

    // peak_rss_mb is measured by the launcher, which sees the whole process
    val metrics =
      if (traced) Metrics.PerLayer.map { case (k, u) =>
        (k, (out.layers ++ headline).getOrElse(k, 0.0), u) }
      else Metrics.EndToEnd.filter(_._1 != "peak_rss_mb").map { case (k, u) =>
        (k, headline(k), u) }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val json = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$json}""")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
