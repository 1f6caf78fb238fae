package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `query_suite`: the registered query surface on the sf0.01 tables, in
  * sorted order like `Bench`, each query written to the `noop` sink.
  *
  * A pass is a fixed core of the queries the roadmap targets: fixpoint
  * loops, many-job plans and consumers of the memoized artifacts. The
  * first pass is cold (it builds the memos). After the warm passes, a
  * seeded sample of one query from each of a few other modules runs once
  * for coverage, outside the end-to-end numbers: its cost depends on the
  * seed, and its memos would otherwise weigh on the passes after it.
  * Every result's row count is compared with the committed oracle run.
  */
object QuerySuite extends Workload {

  val Core: Seq[String] = Seq(
    "q123_source_pagerank", "q137_robust_outliers", "q218_bpe_train",
    "q257_source_quality_tvd", "q261_keep_policy_diff", "q78_dedup_clusters",
    "q87_dedup_pipeline")

  val SampleModules = 3

  type Registry = Map[String, (SparkSession, String) => DataFrame]

  /** The registry the last set-up built. */
  private var registry: Registry = Map.empty

  /** The module a query is registered from: the class that built its
    * function value.
    */
  def module(fn: AnyRef): String = fn.getClass.getName.takeWhile(_ != '$')

  /** One query from each of `n` modules the seed picks, from queries
    * outside the core that have an expected row count.
    */
  def sample(registry: Registry, expected: Map[String, Long], seed: Long, n: Int): Seq[String] = {
    val pool = registry.toSeq.filter { case (q, _) =>
      expected.contains(q) && !Core.contains(q) }.sortBy(_._1)
    val byModule = pool.groupBy { case (_, fn) => module(fn) }.toSeq.sortBy(_._1)
    val rng = new java.util.SplittableRandom(seed ^ 0x5ca1e)
    shuffle(byModule, rng).take(n).map { case (_, qs) =>
      qs(rng.nextInt(qs.size))._1 }.sorted
  }

  def shuffle[T](xs: Seq[T], rng: java.util.SplittableRandom): Seq[T] = {
    val a = collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Set-up builds the query registry. */
  def setUp(spark: SparkSession, work: java.nio.file.Path, rep: Int): Unit = {
    registry = SparkEntry.queries
    val missing = Core.filterNot(registry.contains)
    require(missing.isEmpty, s"core queries not registered: ${missing.mkString(", ")}")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data.toString
    val expected = Files.readAllLines(ctx.data.resolve("expected_rows.tsv")).asScala
      .filterNot(_.startsWith("#")).map { l =>
        val Array(q, n) = l.split('\t'); q -> n.toLong }.toMap

    /** Construct, then execute with the row count observed in the same
      * job; the comparison runs after the clock stops.
      */
    def runQuery(name: String, what: String): Op = {
      val tr = ctx.trace
      val obs = Observation(name)
      var op: Op = null
      ctx.attempt(s"$what $name") {
        op = ctx.op {
          val df = tr.span("queries", s"construct $name")(registry(name)(spark, dir))
          tr.span("exec", s"execute $name")(df.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save())
        }._2
        obs.get("rows") == expected(name)
      }
      if (op == null) Op(Trace.now(), Trace.now(), 0) else op
    }

    def pass(i: Int): Pass = {
      val t0 = Trace.now()
      val ops = ctx.trace.span("bench", s"pass $i") {
        Core.sorted.map(q => runQuery(q, s"pass $i"))
      }
      Pass(i, (Trace.now() - t0) / 1000, ops)
    }

    val start = Trace.now()
    val cold = ctx.traced(pass(0))
    val gc0 = ctx.gcSeconds
    val warm = ctx.warmLoop(start, 3)(pass)
    val gcPerPass = (ctx.gcSeconds - gc0) / warm.size
    val picked = sample(registry, expected, ctx.seed, SampleModules)
    val sampleS = picked.map(q => runQuery(q, "sample").wall).sum
    val plain = warm.filterNot(_.traced)
    val ops = plain.flatMap(_.latencies)
    val layers = if (ctx.tracer.isEmpty) Map.empty[String, Double] else
      Metrics.layers(ctx, warm, gcPerPass) +
        ("queries.cold_extra_s" ->
          (cold.wall - Stats.median(warm.filter(_.traced).map(_.wall))))
    val p90 = if (Stats.tailAllowed(ops.size, 90)) Stats.percentile(ops, 90) else Double.NaN
    System.err.println(s"[perfbench] sample: ${picked.mkString(", ")}")
    Outcome(cold, plain, Seq(
      ("suite_s", Stats.passTime(plain.map(_.latencies), Stats.median), "s"),
      ("first_pass_s", cold.wall, "s"),
      ("query_p50_s", Stats.median(ops), "s"),
      ("query_p90_s", p90, "s"),
      ("query_n", ops.size.toDouble, "count"),
      ("sample_s", sampleS, "s")), layers)
  }
}
