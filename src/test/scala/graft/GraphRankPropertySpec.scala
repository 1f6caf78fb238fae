package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Dedup, GraphRank, Shingles}

/** Adversarial fixtures for the syndication/containment family
  * (q123/q127) — corpora the driver data never exercises, with
  * hand-derivable expected results: a known copy chain, an
  * all-identical corpus (complete symmetric digraph), and a
  * boilerplate corpus that must be erased by the df cap.
  */
class GraphRankPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Write `<dir>/documents.parquet` with explicit sources. */
  private def corpus(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graphrank-corpus").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("known copy chain: exact edges, degrees, and rank recurrence") {
    // doc 1 (src A) holds passages P and Q; doc 2 (src B) copies P,
    // doc 3 (src C) copies Q. Each copied passage yields 26 shared
    // in-passage shingles (>= 20); docs 2 and 3 share nothing.
    val p = toks("p", 30); val q = toks("q", 30)
    val dir = corpus(Seq(
      (1L, s"$p $q", "A"),
      (2L, s"${toks("b", 10)} $p", "B"),
      (3L, s"$q ${toks("c", 10)}", "C")))

    val edges = GraphRank.syndicationEdges(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("B", "A"), ("C", "A")))

    val out = GraphRank.q123(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
          r.getAs[Long]("rank"))).toMap
    assert(out("A")._1 == 0 && out("A")._2 == 2)
    assert(out("B") == out("C") && out("B")._1 == 1 && out("B")._2 == 0)

    // the integer recurrence by hand: n=3, every round B and C hold the
    // damping base, A gets both contributions
    val s = GraphRank.RankScale
    val base = (15L * (s / 3)) / 100
    var a = s / 3; var bc = s / 3
    (1 to GraphRank.Iterations).foreach { _ =>
      val a2 = base + (85L * (bc + bc)) / 100
      bc = base
      a = a2
    }
    assert(out("A")._3 == a && out("B")._3 == base)
  }

  test("all-identical corpus: complete symmetric digraph, equal ranks") {
    val text = toks("w", 30)
    val dir = corpus((0L to 8L).map(i => (i, text, s"s${i % 3}")))

    val rows = GraphRank.q123(spark, dir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("out_deg") == 2 && r.getAs[Long]("in_deg") == 2)
    }
    val ranks = rows.map(_.getAs[Long]("rank")).distinct
    assert(ranks.length == 1, s"symmetric graph must rank equally: $ranks")
    assert(3 * ranks.head <= GraphRank.RankScale, "mass never grows")

    // containment on identical docs: every pair is a 1000-permille tie,
    // and the tie convention keeps the EARLIER doc as container
    val cont = Dedup.q127(spark, dir).collect()
    assert(cont.length == 9 * 8 / 2, "all 36 pairs qualify")
    cont.foreach { r =>
      assert(r.getAs[Long]("containment_permille") == 1000L)
      assert(r.getAs[Long]("doc_contained") > r.getAs[Long]("doc_container"))
    }
  }

  test("boilerplate passage above the df cap is erased: no edges, no pairs") {
    // 70 docs (> MaxDf = 64) all share one passage; fillers are unique.
    // Every cross-doc shingle is boilerplate, so the guard must leave
    // NO qualifying pairs — ranks collapse to the uniform damping base.
    assert(70 > Shingles.MaxDf)
    val p = toks("boiler", 30)
    val dir = corpus((0L until 70L).map(i =>
      (i, s"${toks(s"u${i}x", 10)} $p", s"s${i % 3}")))

    assert(GraphRank.syndicationEdges(spark, dir).count() == 0)
    val rows = GraphRank.q123(spark, dir).collect()
    val base = (15L * (GraphRank.RankScale / 3)) / 100
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("out_deg") == 0 && r.getAs[Long]("in_deg") == 0)
      assert(r.getAs[Long]("rank") == base)
    }
    assert(Dedup.q127(spark, dir).count() == 0)
  }

  /** The messages of `e` and its causes, one a line. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  test("a graph over the rank-task bound fails by the guard's name") {
    // three one-char sources and no edges
    val dir = corpus(Seq((1L, "a b c", "A"), (2L, "d e f", "B"), (3L, "g h i", "C")))
    val need = 3 * (GraphRank.SourceBytes + 2)
    val msg = messages(intercept[Exception](
      GraphRank.rankSources(spark, dir, maxBytes = need - 1).collect()))
    assert(msg.contains("GraphRank.MaxRankGraphBytes exceeded"), msg)
    assert(msg.contains("3 sources, 0 edges") && msg.contains(s"bound ${need - 1}"), msg)
    // at the bound it ranks as usual
    assert(GraphRank.rankSources(spark, dir, maxBytes = need).count() == 3)
  }

  test("edges cost their own bytes under the bound: more edges than sources still rank") {
    // the all-identical corpus: 3 two-char sources and 6 edges, 9 rows
    // that would need more than twice the bound at a source's cost each
    val dir = corpus((0L to 8L).map(i => (i, toks("w", 30), s"s${i % 3}")))
    val need = 3 * (GraphRank.SourceBytes + 4) + 6 * GraphRank.EdgeBytes
    assert(9 * GraphRank.SourceBytes > 2 * need)
    assert(GraphRank.rankSources(spark, dir, maxBytes = need).count() == 3)
    val msg = messages(intercept[Exception](
      GraphRank.rankSources(spark, dir, maxBytes = need - 1).collect()))
    assert(msg.contains("3 sources, 6 edges") && msg.contains(s"$need B"), msg)
  }
}
