package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphRank

/** q123 source PageRank: the DuckDB oracle re-derives the whole thing in
  * SQL; this spec re-derives the RANK ITERATION from first principles in
  * plain Scala over the collected edge list, so a bug that hit both SQL
  * engines' join shapes identically would still be caught.
  */
class GraphRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // sf0.01: the smallest SF whose corpus has cross-source syndication
  private val sfDir = "/root/testdata/sf0.01"

  test("q123 rank matches a first-principles Scala PageRank on the same edges") {
    val edges = GraphRank.syndicationEdges(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(edges.nonEmpty, "sf0.01 corpus must contain syndication edges")

    val out = GraphRank.q123(spark, sfDir).collect()
    val sources = out.map(_.getString(0))
    assert(sources.length == sources.distinct.length, "one row per source")

    val n = sources.length.toLong
    val s = GraphRank.RankScale
    val base = (15L * (s / n)) / 100L
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank: Map[String, Long] = sources.map(_ -> s / n).toMap
    (1 to GraphRank.Iterations).foreach { _ =>
      val contribs = edges
        .groupBy(_._2)
        .view.mapValues(_.map { case (from, _) => rank(from) / outdeg(from) }.sum)
        .toMap
      rank = sources.map(v => v -> (base + (85L * contribs.getOrElse(v, 0L)) / 100L)).toMap
    }

    out.foreach { r =>
      val src = r.getString(0)
      assert(r.getAs[Long]("rank") == rank(src),
        s"$src: engine rank ${r.getAs[Long]("rank")} != recomputed ${rank(src)}")
      assert(r.getAs[Long]("out_deg") == outdeg.getOrElse(src, 0L))
      assert(r.getAs[Long]("in_deg") == edges.count(_._2 == src).toLong)
    }

    // never-copied sources hold exactly the damping base; total mass
    // stays under the initial scale (truncation + dangling leak only)
    out.filter(_.getAs[Long]("in_deg") == 0L)
      .foreach(r => assert(r.getAs[Long]("rank") == base))
    assert(out.map(_.getAs[Long]("rank")).sum <= s)

    // output is ordered by authority: rank DESC, then source
    val order = out.map(r => (-r.getAs[Long]("rank"), r.getString(0)))
    assert(order.sameElements(order.sorted), "rank DESC, source ASC order")
  }

  test("a warm q123 call submits at most 4 jobs: the fixed point runs in one task") {
    def run(): Unit = GraphRank.q123(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // the first call builds the memoized edges
    val sc = spark.sparkContext
    // the job group of every job started while the listener is attached
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("q123-warm", "warm q123 call")
      try run() finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job of the warm call has been counted
      sc.setJobGroup("q123-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("q123-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("q123-marker"), "marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    // footer read, sources distinct, repartition, result
    val jobs = groups.asScala.count(_ == "q123-warm")
    assert(jobs >= 1 && jobs <= 4, s"warm q123 submitted $jobs jobs")
  }

  test("edges point copier -> original and never link a source to itself") {
    val edges = GraphRank.syndicationEdges(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(edges.forall { case (a, b) => a != b })
    assert(edges.length == edges.distinct.length, "edges are distinct pairs")
  }

  test("q216 matches a first-principles link-prediction model") {
    val edges = GraphRank.syndicationEdges(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ue = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = ue.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet.toSeq.sorted
    val expected = (for {
      a <- nodes; b <- nodes if a < b
      if !adj(a).contains(b)
      cn = (adj(a) & adj(b)).size.toLong if cn > 0
    } yield (a, b, cn, adj(a).size.toLong * adj(b).size.toLong))
      .sortBy { case (a, b, cn, _) => (-cn, a, b) }
      .take(GraphRank.LinkPredTop)

    // read columns by name — robust to any reordering of q216's final select
    // (whose explicit column order is what the oracle hash gate pins)
    val got = GraphRank.q216(spark, sfDir).collect().toSeq
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("common_neighbors"), r.getAs[Long]("pref_attach")))
    assert(got == expected)
  }
}
