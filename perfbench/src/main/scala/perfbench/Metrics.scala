package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** The metric names the benchmark prints; BENCHMARK.json lists the same. */
object Metrics {

  /** Printed by the untraced run. `setup_s` is the median wall time of
    * the run's set-ups. A pass's cost is the sum over its operations of
    * the best of the warm passes, in CPU time of the JVM less its JIT
    * threads: the client, Spark's tasks, the streaming query's threads
    * and GC. The hypervisor of a shared host steals a varying share of
    * time in bursts; the best repetition is the one it disturbed least,
    * and stolen time is not charged as CPU time.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_cpu_s" -> "s", "peak_rss_mb" -> "MB")

  /** Wall-time figures of the workload as a whole. They vary more than a
    * tenth from run to run on a shared host, too much to carry a bound, so
    * the traced run prints them with the layers.
    */
  val Headline: Seq[(String, String)] = Seq(
    "pass_s" -> "s", "first_pass_s" -> "s", "op_p50_s" -> "s", "first_cpu_s" -> "s",
    "setup.cold_s" -> "s")

  val SelfLayers: Seq[String] =
    Seq("bench", "grid", "streaming", "catalog", "queries", "catalyst", "exec")

  val PerLayer: Seq[(String, String)] = Headline ++ Seq(
    "grid.explode_s" -> "s", "grid.explode_mpts_per_s" -> "Mpts/s",
    "grid.points" -> "count", "grid.keep_ratio" -> "ratio",
    "streaming.drain_s" -> "s", "streaming.jobs" -> "count",
    "streaming.files" -> "count", "streaming.retried" -> "count",
    "streaming.quarantined" -> "count", "streaming.unarchived" -> "count",
    "catalog.ddl_s" -> "s", "catalog.msck_s" -> "s") ++
    (1 to IngestGrids.Waves).map(w => s"catalog.msck_s.w$w" -> "s") ++ Seq(
    "catalog.partitions" -> "count",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
    "queries.cold_extra_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.plans" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_s" -> "s", "exec.task_s" -> "s", "exec.gc_s" -> "s",
    "exec.input_mb" -> "MB", "exec.output_mb" -> "MB", "exec.shuffle_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.idle_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.wall_s" -> "s",
    "trace.self_sum_ratio" -> "ratio") ++
    SelfLayers.map(l => s"self.${l}_s" -> "s")

  private val Phases = Seq("analysis", "optimization", "planning")
  private val MB = 1024.0 * 1024.0

  /** Per-pass layer numbers of one traced pass tree. */
  def ofPass(data: TraceData, pass: Node): Map[String, Double] = {
    val nodes = pass.all.toSeq
    def spans(layer: String) = nodes.filter(n => n.kind == "span" && n.layer == layer)
    def jobsUnder(ns: Seq[Node]) = ns.flatMap(_.all).count(_.kind == "job")
    val jobs = nodes.filter(_.kind == "job")
    val phases = nodes.filter(n => Phases.contains(n.kind))
    val construct = spans("queries")
    val st = data.stagesUnder(pass)
    val iv = (ns: Seq[Node]) => ns.map(n => (n.start, n.end))
    val self = nodes.groupMapReduce(_.layer)(_.self)(_ + _)
    val msck = spans("catalog").filter(_.name.startsWith("msck"))
    Map(
      "streaming.drain_s" -> spans("streaming").map(_.dur).sum / 1000,
      "streaming.jobs" -> jobsUnder(spans("streaming")).toDouble,
      "catalog.ddl_s" -> spans("catalog").filter(_.name == "ddl").map(_.dur).sum / 1000,
      "catalog.msck_s" -> msck.map(_.dur).sum / 1000,
      "queries.construct_s" -> construct.map(_.dur).sum / 1000,
      "queries.construct_jobs" -> jobsUnder(construct).toDouble,
      "catalyst.plans" -> phases.map(_.name).distinct.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.job_s" -> Stats.covered(iv(jobs)) / 1000,
      "exec.task_s" -> st.map(_.runMs).sum / 1000.0,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "exec.input_mb" -> st.map(_.inBytes).sum / MB,
      "exec.output_mb" -> st.map(_.outBytes).sum / MB,
      "exec.shuffle_mb" -> st.map(_.shuffleBytes).sum / MB,
      "exec.spill_mb" -> st.map(_.spillBytes).sum / MB,
      "exec.idle_s" -> Stats.idle(pass.start, pass.end,
        iv(construct) ++ iv(phases) ++ iv(jobs)) / 1000,
      "trace.wall_s" -> pass.dur / 1000,
      "trace.self_sum_ratio" -> self.values.sum / pass.dur) ++
      Phases.map(p => s"catalyst.${p}_s" ->
        phases.filter(_.kind == p).map(_.dur).sum / 1000) ++
      msck.zipWithIndex.map { case (n, w) => s"catalog.msck_s.w${w + 1}" -> n.dur / 1000 } ++
      SelfLayers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / 1000)
  }

  /** Layer numbers averaged over the traced warm passes, plus the tracing
    * overhead (traced over untraced pass wall, in ABBA order after the
    * warm-up pass)
    * and the JVM counters.
    */
  def layers(ctx: Ctx, warm: Seq[Pass], gcPerPass: Double): Map[String, Double] = {
    val data = ctx.tracer.get.snapshot
    val traced = warm.filter(_.traced)
    val per = traced.map(p => ofPass(data, data.tree(data.spanId("bench", s"pass ${p.index}").get)))
    val keys = per.flatMap(_.keys).distinct
    keys.map(k => k -> per.map(_.getOrElse(k, 0.0)).sum / per.size).toMap ++ Map(
      "trace.overhead_ratio" -> Stats.median(traced.map(_.wall)) /
        Stats.median(warm.drop(ctx.warmUpPasses).filterNot(_.traced).map(_.wall)),
      "jvm.gc_s" -> gcPerPass,
      "jvm.heap_peak_mb" -> heapPeakMb)
  }

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / MB

  /** Explodes the given grid files on the client thread: the `grid` layer.
    * Called inside a traced pass, outside its operations.
    */
  def gridProbe(ctx: Ctx, files: Seq[(String, Array[Byte])]): Map[String, Double] = {
    var points = 0L
    var cells = 0L
    val t0 = Trace.now()
    ctx.trace.span("grid", "explode") {
      files.foreach { case (name, bytes) =>
        val text = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
        points += graft.grid.GridReader.explodeFile(name, text).size
        cells += GridGen.NCols.toLong * GridGen.NRows
      }
    }
    val s = (Trace.now() - t0) / 1000
    Map("grid.explode_s" -> s, "grid.explode_mpts_per_s" -> points / s / 1e6,
      "grid.points" -> points.toDouble, "grid.keep_ratio" -> points.toDouble / cells)
  }
}
