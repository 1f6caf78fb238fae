package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table

/** Source-authority ranking over the syndication graph (q123) — the
  * web-corpus curation op the reference's Athena surface never had: rank
  * content SOURCES by who copies whom, so a 100 TB crawl can prefer
  * originals over mirrors when deduplication must pick a survivor.
  *
  * Two stages with very different scales, and the plan respects that:
  *
  *   1. **Edge extraction (corpus-scale, the 100 TB part)**: per-doc
  *      DISTINCT 5-token shingles hashed to 8-byte keys by the native
  *      fused [[graft.functions.WordShingles60]] BEFORE any shuffle
  *      (q89/q121's contamination machinery re-pointed), a document-
  *      frequency cap that drops boilerplate shingles BEFORE the
  *      self-join (the skew guard — one hot shingle would otherwise fan
  *      the join quadratically), then doc pairs of DIFFERENT sources
  *      sharing >= [[MinSharedShingles]] shingles. The later doc copies
  *      the earlier one (crawl ids are assignment-ordered), giving a
  *      directed edge copier-source -> original-source.
  *   2. **Rank iteration (domain-scale, tiny by comparison)**: the edge
  *      set collapses to DISTINCT source pairs, `localCheckpoint`ed once,
  *      and [[Iterations]] rounds of fixed-point PageRank run over it in
  *      one task, bounded by [[MaxRankGraphBytes]].
  *
  * All rank arithmetic is EXACT int64 fixed-point (scale [[RankScale]]):
  * `rank_{k+1}(v) = (15*(S div n)) div 100 + (85 * sum_in(rank_k(u) div
  * outdeg(u))) div 100`, truncated division throughout — Spark `div` and
  * DuckDB `//` both truncate toward zero (established by q119), and every
  * value is non-negative, so the engines agree bit-for-bit with no float
  * anywhere. Dangling-node mass is deliberately NOT redistributed (both
  * engines implement the same recurrence; the doc comment is the spec).
  */
object GraphRank {

  /** The df-cap skew guard — one definition in [[Shingles.MaxDf]],
    * shared with q127's containment pipeline.
    */
  val MaxShingleDf: Int = Shingles.MaxDf

  /** A syndicated passage = at least this many shared per-doc-distinct
    * 5-token shingles between two documents of different sources.
    */
  val MinSharedShingles: Long = 20L

  /** Fixed-point scale for rank mass: initial total = 10^12, so four
    * truncated-div rounds keep ~12 significant digits. Headroom:
    * 85 * 10^12 << 2^63.
    */
  val RankScale: Long = 1000000000000L

  /** PageRank rounds. Fixed and small: the rank ORDER stabilizes in a
    * few rounds on syndication graphs (shallow copy chains), and a fixed
    * count keeps the oracle expressible as unrolled CTEs.
    */
  val Iterations: Int = 4

  /** Directed syndication edges (src_from = copier, src_to = original),
    * distinct source pairs. Package-private so the spec can re-rank the
    * collected edge list from first principles.
    *
    * Memoized per (session, dir) — q123, q161 and q206 walk the
    * identical corpus-scale shingle chain to the domain-sized edge list
    * (the [[Dedup.candidatePairs]] discipline; q169 shares only the
    * prefix up to the verified PAIRS, not the edge projection, and keeps
    * its own path). The checkpointed frame is bounded by distinct source
    * pairs.
    */
  private[graft] def syndicationEdges(spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "GraphRank.syndicationEdges") {
      val ds = Shingles.rareHashes(table(spark, dir, "documents"), Seq("source"))
      val pairs = ds.select(col("h"), col("doc_id").as("da"), col("source").as("sa"))
        .join(ds.select(col("h"), col("doc_id").as("db"), col("source").as("sb")),
          Seq("h"))
        .filter(col("da") < col("db") && col("sa") =!= col("sb"))
        .groupBy(col("da"), col("db"), col("sa"), col("sb"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= MinSharedShingles)
      pairs.select(col("sb").as("src_from"), col("sa").as("src_to")).distinct()
        .localCheckpoint()
    }

  /** Heap q123's rank task may fill with the domain graph it holds
    * whole; past it the task fails by this name, not out of memory.
    * Measured (64-bit JVM, compressed oops): a source retains ~115 B plus
    * 1 B a Latin-1 char, and the rounds add 32 B of arrays; an edge 9 to
    * 17 B in two int builders, 25 B while one doubles. So a source costs
    * [[SourceBytes]] plus 2 B a char (UTF-16 too), an edge [[EdgeBytes]].
    * 256 MiB is a third of the ~700 MB of user memory, (2048 - 300) x
    * (1 - 0.6 `spark.memory.fraction`), of a 2 GB heap (perfbench's
    * `--heap`), as the old per-round broadcasts assumed, unchecked; graphs
    * at the bound ranked in a 1 GB heap. Served graphs are tiny: 20
    * sources and 19, 22 and 163 edges at sf0.001, sf0.01 and sf0.1.
    */
  val MaxRankGraphBytes: Long = 256L << 20
  private[graft] val SourceBytes: Long = 150L
  private[graft] val EdgeBytes: Long = 25L

  /** q123: per-source out/in degree and fixed-point PageRank after
    * [[Iterations]] rounds, highest authority first, all rounds in one
    * task over one partition, which also satisfies the ORDER BY.
    * `rankSources` takes the [[MaxRankGraphBytes]] bound as a spec hook.
    */
  def q123(spark: SparkSession, dir: String): DataFrame = rankSources(spark, dir)

  private[graft] def rankSources(spark: SparkSession, dir: String,
      maxBytes: Long = MaxRankGraphBytes): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents").select(col("source")).distinct()
      .select(col("source"), lit(null).cast("string")) // node rows: no target
      .unionAll(syndicationEdges(spark, dir)).repartition(1)
      .mapPartitions(rows => rankGraph(rows, maxBytes))
      .toDF("source", "out_deg", "in_deg", "rank")
      .orderBy(col("rank").desc, col("source"))
  }

  /** The fixed point in the task; edge endpoints also arrive as nodes. */
  private def rankGraph(rows: Iterator[Row], maxBytes: Long): Iterator[(String, Long, Long, Long)] = {
    val ids = mutable.LinkedHashMap.empty[String, Int]
    val src, dst = mutable.ArrayBuilder.make[Int]
    var held = 0L
    def id(s: String): Int = ids.getOrElseUpdate(s, { held += SourceBytes + 2L * s.length; ids.size })
    for (r <- rows) {
      if (r.isNullAt(1)) id(r.getString(0))
      else { src += id(r.getString(0)); dst += id(r.getString(1)); held += EdgeBytes }
      if (held > maxBytes) throw new IllegalStateException("GraphRank.MaxRankGraphBytes exceeded: " +
        s"the q123 rank task holds ${ids.size} sources, ${src.length} edges: $held B, bound $maxBytes")
    }
    val (from, to, n) = (src.result(), dst.result(), ids.size)
    val outDeg, inDeg = new Array[Int](n)
    for (e <- from.indices) { outDeg(from(e)) += 1; inDeg(to(e)) += 1 }
    var rank = Array.fill(n)(RankScale / n)
    for (_ <- 1 to Iterations) {
      val c = new Array[Long](n)
      for (e <- from.indices) c(to(e)) += rank(from(e)) / outDeg(from(e))
      rank = c.map(x => (15 * (RankScale / n)) / 100 + (85 * x) / 100)
    }
    ids.keysIterator.zipWithIndex.map { case (s, i) =>
      (s, outDeg(i).toLong, inDeg(i).toLong, rank(i)) }
  }

  val q123Oracle: String = {
    val iters = (1 to Iterations).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.source,
         |         CAST((15 * ($RankScale // p.n)) // 100
         |              + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes nd CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT e.src_to AS source, sum(r.rank // od.d) AS c
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.source = e.src_from
         |    JOIN outdeg od ON od.src_from = e.src_from
         |    GROUP BY e.src_to) s ON s.source = nd.source)"""
        .stripMargin
    }.mkString(",\n")
    // MATERIALIZED everywhere below: edges/outdeg are referenced once
    // per iteration CTE, and DuckDB inlines plain CTEs — without the
    // hint the whole shingle self-join replays $Iterations times
    // (~70 CPU-minutes at sf1 instead of seconds)
    // the CTE prefix is concatenated AFTER stripMargin: interpolating a
    // multi-line string into a stripMargin region corrupts its leading
    // `||` concat operators (stripMargin eats the first pipe)
    s"WITH ${Shingles.rareCteSql},\n" +
    s"""ds AS MATERIALIZED (
       |  SELECT s.doc_id, d.source, s.hh
       |  FROM hs s JOIN rare USING (hh) JOIN documents d USING (doc_id)),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.source AS sa, b.source AS sb
       |  FROM ds a JOIN ds b
       |    ON a.hh = b.hh AND a.doc_id < b.doc_id AND a.source <> b.source
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $MinSharedShingles),
       |edges AS MATERIALIZED (SELECT DISTINCT sb AS src_from, sa AS src_to FROM pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |params AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |outdeg AS MATERIALIZED (SELECT src_from, count(*) AS d FROM edges GROUP BY 1),
       |indeg AS MATERIALIZED (SELECT src_to, count(*) AS i FROM edges GROUP BY 1),
       |r0 AS (
       |  SELECT nd.source, CAST($RankScale // p.n AS BIGINT) AS rank
       |  FROM nodes nd CROSS JOIN params p),
       |$iters
       |SELECT nd.source,
       |       CAST(COALESCE(od.d, 0) AS BIGINT) AS out_deg,
       |       CAST(COALESCE(ig.i, 0) AS BIGINT) AS in_deg,
       |       r.rank
       |FROM nodes nd
       |LEFT JOIN outdeg od ON od.src_from = nd.source
       |LEFT JOIN indeg ig ON ig.src_to = nd.source
       |JOIN r$Iterations r ON r.source = nd.source
       |ORDER BY r.rank DESC, nd.source""".stripMargin
  }

  // ---------------------------------------------------------------- q161

  /** BFS hop bound: shortest paths longer than this are reported as
    * unreachable. Fixed and literal so the oracle's recursive CTE has a
    * guaranteed termination bound and the Spark loop a fixed round
    * count.
    */
  val MaxHops: Int = 8

  /** q161: BFS hop distance over the UNDIRECTED syndication graph from
    * a deterministic seed (the lexicographically-smallest source with
    * at least one edge) — the recursive-CTE shape (DuckDB
    * `WITH RECURSIVE`) Spark lacks natively, re-expressed as bounded
    * Bellman-Ford relaxation: [[MaxHops]] rounds of `min(dist,
    * neighbor+1)`, each round one join + one min-aggregate.
    *
    * Scale shape: like q123, the corpus-scale work ends at
    * [[syndicationEdges]]; the relaxation loop runs on the DOMAIN graph
    * (distinct source pairs — broadcastable even under a 100 TB
    * corpus), `localCheckpoint`ed so corpus lineage is never replayed.
    * After k full relaxation rounds every shortest path of ≤ k edges
    * has converged (Bellman-Ford invariant), so bounding rounds at
    * [[MaxHops]] computes exactly "min path length, capped at
    * MaxHops" — the same set the oracle's depth-guarded recursion
    * enumerates. The loop EARLY-EXITS once a round relaxes nothing
    * (dist-set checksum unchanged — one tiny driver row per round):
    * at fixpoint every further round is an identity, so the result is
    * bit-identical with fewer jobs; on a graph whose eccentricity from
    * the seed exceeds MaxHops the cap itself is the declared semantics
    * (unreached sources report as absent), so cap-out is NOT an error
    * here — unlike [[Dedup.kCoreWithRounds]], where it is.
    */
  def q161(spark: SparkSession, dir: String): DataFrame =
    bfsHopsWithRounds(spark, dir)._1.orderBy(col("dist"), col("source"))

  /** The BFS frame plus the number of relaxation rounds actually run
    * (spec hook for the early-exit claim).
    */
  private[graft] def bfsHopsWithRounds(
      spark: SparkSession, dir: String): (DataFrame, Int) = {
    val directed = syndicationEdges(spark, dir)
    val edges = directed
      .select(col("src_from").as("src"), col("src_to").as("dst"))
      .unionAll(directed
        .select(col("src_to").as("src"), col("src_from").as("dst")))
      .distinct().localCheckpoint(true)
    val seed = edges.agg(min(col("src")).as("source"))
    var dist = seed.select(col("source"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // order-insensitive fingerprint of the (source, dist) set; dist
    // rows are distinct per source so the xor is a set fingerprint
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("source"), col("dist"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var cur = sig(dist)
    var rounds = 0
    var converged = false
    while (rounds < MaxHops && !converged) {
      val relaxed = edges
        .join(broadcast(dist.withColumnRenamed("source", "src")), Seq("src"))
        .select(col("dst").as("source"), (col("dist") + lit(1L)).as("dist"))
      val next = dist.unionAll(relaxed)
        .groupBy(col("source")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(false)
      val nextSig = sig(next) // one action: persists next + fingerprints
      converged = nextSig == cur
      dist = next
      cur = nextSig
      rounds += 1
    }
    (dist, rounds)
  }

  /** The non-recursive CTE prefix up to the verified cross-source doc
    * `pairs` relation — shared by [[edgesCtePrefix]] and [[q169Oracle]].
    */
  private def pairsCtePrefix: String =
    s"${Shingles.rareCteSql},\n" +
    s"""ds AS MATERIALIZED (
       |  SELECT s.doc_id, d.source, s.hh
       |  FROM hs s JOIN rare USING (hh) JOIN documents d USING (doc_id)),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS da, b.doc_id AS db, a.source AS sa, b.source AS sb
       |  FROM ds a JOIN ds b
       |    ON a.hh = b.hh AND a.doc_id < b.doc_id AND a.source <> b.source
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $MinSharedShingles)"""
      .stripMargin

  /** The non-recursive CTE prefix shared with [[q123Oracle]] (and
    * GraphRank's q235 assortativity oracle) up to the directed
    * `edges` relation.
    */
  private[queries] def edgesCtePrefix: String =
    s"$pairsCtePrefix,\n" +
    "edges AS MATERIALIZED (SELECT DISTINCT sb AS src_from, sa AS src_to FROM pairs)"

  val q161Oracle: String =
    s"WITH RECURSIVE $edgesCtePrefix,\n" +
    s"""ue AS MATERIALIZED (
       |  SELECT src_from AS src, src_to AS dst FROM edges
       |  UNION
       |  SELECT src_to AS src, src_from AS dst FROM edges),
       |seed AS (SELECT min(src) AS source FROM ue),
       |walk(source, dist) AS (
       |  SELECT source, 0 FROM seed
       |  UNION
       |  SELECT e.dst, w.dist + 1
       |  FROM walk w JOIN ue e ON e.src = w.source
       |  WHERE w.dist < $MaxHops)
       |SELECT source, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY source
       |ORDER BY dist, source""".stripMargin

  // ---------------------------------------------------------------- q169

  /** Source pairs reported by the duplication heat matrix. */
  val DupMatrixTop = 50

  /** q169: cross-source duplication heat matrix — the pair-count view
    * of the syndication graph q123/q161 only see as 0/1 edges: how MANY
    * verified near-dup doc pairs link each source pair, plus each
    * pair's permille share of all cross-source duplication. The
    * curation readout that decides which mirror/aggregator sources to
    * drop wholesale before per-doc dedup even runs.
    *
    * Scale shape: identical corpus-scale prefix to [[syndicationEdges]]
    * (shingles leave rows as 8-byte hashes, df-cap skew guard BEFORE
    * the self-join, shared-shingle verification) — the only new work
    * aggregates the verified pairs frame down to |sources|² rows, and
    * the share denominator is one broadcast scalar. Top-k is
    * TakeOrderedAndProject under a literal bound.
    */
  def q169(spark: SparkSession, dir: String): DataFrame = {
    val ds = Shingles.rareHashes(table(spark, dir, "documents"), Seq("source"))
    val pairs = ds.select(col("h"), col("doc_id").as("da"), col("source").as("sa"))
      .join(ds.select(col("h"), col("doc_id").as("db"), col("source").as("sb")),
        Seq("h"))
      .filter(col("da") < col("db") && col("sa") =!= col("sb"))
      .groupBy(col("da"), col("db"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinSharedShingles)
    val cell = pairs
      .select(least(col("sa"), col("sb")).as("s_lo"),
        greatest(col("sa"), col("sb")).as("s_hi"))
      .groupBy(col("s_lo"), col("s_hi"))
      .agg(count(lit(1)).as("n_pairs"))
    val total = cell.agg(sum(col("n_pairs")).as("total"))
    cell.crossJoin(broadcast(total))
      .select(col("s_lo"), col("s_hi"), col("n_pairs"),
        expr("1000 * n_pairs DIV total").as("share_permille"))
      .orderBy(col("n_pairs").desc, col("s_lo"), col("s_hi"))
      .limit(DupMatrixTop)
  }

  val q169Oracle: String =
    s"WITH $pairsCtePrefix,\n" +
    s"""cell AS (
       |  SELECT least(sa, sb) AS s_lo, greatest(sa, sb) AS s_hi,
       |         count(*) AS n_pairs
       |  FROM pairs GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM cell)
       |SELECT s_lo, s_hi, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(1000 * n_pairs // total AS BIGINT) AS share_permille
       |FROM cell CROSS JOIN tot
       |ORDER BY n_pairs DESC, s_lo, s_hi LIMIT $DupMatrixTop""".stripMargin

  // ---------------------------------------------------------------- q206

  /** Fixed-point scale for HITS scores; renormalized to this ceiling
    * after every half-step, so values never compound past
    * maxdeg · 10⁶ ≪ 2⁶³ regardless of graph size or round count.
    */
  val HitsScale: Long = 1000000L

  /** HITS rounds (hub half-step + authority half-step each). Two rounds
    * separate mirrors-of-many from mirrors-of-one on syndication
    * graphs; fixed and literal so the oracle unrolls.
    */
  val HitsIterations: Int = 2

  /** q206: HITS hubs and authorities (Kleinberg 1999, "Authoritative
    * sources in a hyperlinked environment") over the syndication
    * graph — the DUAL ranking q123's PageRank cannot give: an
    * AUTHORITY is a source many copiers draw from (the originals a
    * curation pass should prefer), a HUB is a source that copies from
    * many authorities (the aggregators/mirrors it should drop first).
    * One number per source conflates the two roles; a mirror farm has
    * huge hub mass and near-zero authority.
    *
    * Arithmetic is EXACT int64 fixed-point like q123: each half-step
    * sums the opposite score over the edge list, then renormalizes to
    * [[HitsScale]] via `(raw · scale) div max(raw)` — truncated
    * division, non-negative values, and the max is ONE broadcast
    * scalar row (the oracle's scalar subquery), so both engines agree
    * bit-for-bit with no float anywhere (the classic HITS L2
    * normalization needs sqrt; max-norm is the standard integer-exact
    * substitute and preserves the ranking). Overflow headroom: a raw
    * half-step sum is ≤ maxdeg·scale and the renorm multiplies by
    * scale before dividing, so maxdeg·10¹² must stay < 2⁶³ — safe
    * below ~9·10⁶ distinct-source degree, far above any real
    * syndication domain; a graph past that would divide first.
    *
    * Scale shape: identical to q123 — corpus-scale work ends at
    * [[syndicationEdges]]; the iteration runs on the DOMAIN graph
    * (distinct source pairs), checkpointed once, every per-round side
    * broadcast.
    */
  def q206(spark: SparkSession, dir: String): DataFrame = {
    val edges = syndicationEdges(spark, dir)
    val nodes = table(spark, dir, "documents")
      .select(col("source")).distinct().localCheckpoint(true)
    // each half-step is checkpointed: hub(k) feeds auth(k) AND the
    // next round AND the final join, so an un-truncated lineage
    // re-plans every upstream subtree per reference (~360 exchanges in
    // the formatted plan before this; 10 after). The frames are
    // domain-sized (distinct sources) — the checkpoint is trivially
    // cheap, the q201/CC loop discipline.
    // OPTIMIZATION r16 (guide §2.4): score frames stay SPARSE inside
    // the loop — a source absent from a half-step's aggregate has score
    // exactly 0 (the old nodes-join + coalesce(raw, 0) arm), because
    // dropping zero-valued terms from a sum of non-negative scores
    // changes nothing. The full-node frame is rebuilt once at the end;
    // per half-step this removes the nodes-side join and its broadcast
    // build (33 -> ~21 jobs). The one place absent ≠ 0 is an EMPTY
    // edge set: there the old code yields NULL scores for every node
    // (renorm divides by nullif(max over nothing, 0)), so that corner
    // is branched on `edges.isEmpty` — a one-row action on the already-
    // checkpointed domain frame (the q161 early-exit discipline) — and
    // stays out of the final consumer plan.
    def renorm(raw: DataFrame, scoreCol: String): DataFrame = {
      val mx = broadcast(raw.agg(max(col(scoreCol)).as(s"mx_$scoreCol")))
      raw.crossJoin(mx)
        .select(col("source"),
          expr(s"($scoreCol * $HitsScale) div nullif(mx_$scoreCol, 0)")
            .as(scoreCol))
        .localCheckpoint(true)
    }
    if (edges.isEmpty) {
      // edge-free graph: every round's max is NULL — all scores NULL,
      // exactly the old nodes-joined formula's output
      return nodes
        .select(col("source"), lit(null).cast("long").as("hub"),
          lit(null).cast("long").as("authority"))
        .orderBy(col("authority").desc, col("hub").desc, col("source"))
    }
    // round-1 hub half-step folds the uniform auth_0 = HitsScale in
    // directly: raw_h(v) = HitsScale · outdeg(v)
    var hub = renorm(
      edges.groupBy(col("src_from").as("source"))
        .agg((count(lit(1)) * lit(HitsScale)).as("h")), "h")
    var auth = renorm(
      edges.join(broadcast(hub.withColumnRenamed("source", "src_from")),
        Seq("src_from"))
        .groupBy(col("src_to").as("source"))
        .agg(sum(col("h")).as("a")), "a")
    for (_ <- 2 to HitsIterations) {
      hub = renorm(
        edges.join(broadcast(auth.withColumnRenamed("source", "src_to")),
          Seq("src_to"))
          .groupBy(col("src_from").as("source"))
          .agg(sum(col("a")).as("h")), "h")
      auth = renorm(
        edges.join(broadcast(hub.withColumnRenamed("source", "src_from")),
          Seq("src_from"))
          .groupBy(col("src_to").as("source"))
          .agg(sum(col("h")).as("a")), "a")
    }
    nodes
      .join(broadcast(hub), Seq("source"), "left")
      .join(broadcast(auth), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("authority"))
      .orderBy(col("authority").desc, col("hub").desc, col("source"))
  }

  val q206Oracle: String = {
    // every step CTE is referenced twice (the join and the scalar-max
    // subquery) — un-materialized CTEs would be inlined, re-expanding
    // the corpus-scale shingle prefix per reference (2^steps scans:
    // observed as a DuckDB OOM at sf0.1). MATERIALIZED pins each to one
    // evaluation — the q201 oracle's discipline.
    val steps = (1 to HitsIterations).map { k =>
      s"""hraw$k AS MATERIALIZED (
         |  SELECT e.src_from AS source, sum(a.a) AS raw
         |  FROM medges e JOIN a${k - 1} a ON a.source = e.src_to
         |  GROUP BY e.src_from),
         |h$k AS MATERIALIZED (
         |  SELECT nd.source,
         |         CAST(COALESCE(r.raw, 0) * $HitsScale
         |              // nullif((SELECT max(raw) FROM hraw$k), 0) AS BIGINT)
         |           AS h
         |  FROM nodes nd LEFT JOIN hraw$k r ON r.source = nd.source),
         |araw$k AS MATERIALIZED (
         |  SELECT e.src_to AS source, sum(h.h) AS raw
         |  FROM medges e JOIN h$k h ON h.source = e.src_from
         |  GROUP BY e.src_to),
         |a$k AS MATERIALIZED (
         |  SELECT nd.source,
         |         CAST(COALESCE(r.raw, 0) * $HitsScale
         |              // nullif((SELECT max(raw) FROM araw$k), 0) AS BIGINT)
         |           AS a
         |  FROM nodes nd LEFT JOIN araw$k r ON r.source = nd.source)"""
        .stripMargin
    }.mkString(",\n")
    s"WITH $edgesCtePrefix,\n" +
    s"""medges AS MATERIALIZED (SELECT src_from, src_to FROM edges),
       |nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |a0 AS (SELECT source, $HitsScale AS a FROM nodes),
       |$steps
       |SELECT nd.source, h$HitsIterations.h AS hub,
       |       a$HitsIterations.a AS authority
       |FROM nodes nd
       |JOIN h$HitsIterations ON h$HitsIterations.source = nd.source
       |JOIN a$HitsIterations ON a$HitsIterations.source = nd.source
       |ORDER BY authority DESC, hub DESC, nd.source""".stripMargin
  }

  // ---------------------------------------------------------------- q216

  /** Predicted links reported (total tie-break below makes the cut
    * deterministic). */
  val LinkPredTop = 20

  /** q216: link prediction on the syndication graph — for every
    * NON-adjacent source pair, the common-neighbor count (the classic
    * Liben-Nowell/Kleinberg predictor) plus the preferential-attachment
    * product deg(a)·deg(b), top [[LinkPredTop]] pairs by common
    * neighbors. The curation read: two sources that share many
    * syndication partners but no direct edge are the next mirror
    * relationship the dedup pipeline should expect — the q169 heat
    * matrix for pairs that have NOT collided yet. Both scores are
    * integer counts, so the gate certifies them exactly.
    *
    * Scale shape: the corpus-scale shingle chain is the memoized
    * [[syndicationEdges]] (shared with q123/q161/q206); everything
    * here runs on the DOMAIN graph — the wedge self-join is bounded by
    * Σ deg² over sources (millions of pairs at worst under a 100 TB
    * corpus, and a hub cap like q160's wedge cap would bound it
    * further if the source domain ever grew hubs), never by document
    * count.
    */
  def q216(spark: SparkSession, dir: String): DataFrame = {
    val edges = syndicationEdges(spark, dir)
    val ue = edges.select(col("src_from").as("s"), col("src_to").as("t"))
      .unionAll(edges.select(col("src_to").as("s"), col("src_from").as("t")))
      .distinct()
      .localCheckpoint(true)
    val deg = ue.groupBy(col("s")).agg(count(lit(1)).as("d"))
    val cand = ue.select(col("s").as("src_a"), col("t").as("n"))
      .join(ue.select(col("s").as("src_b"), col("t").as("n")), Seq("n"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("common_neighbors"))
    val nonEdge = cand.join(
      ue.select(col("s").as("src_a"), col("t").as("src_b")),
      Seq("src_a", "src_b"), "left_anti")
    nonEdge
      .join(broadcast(deg.select(col("s").as("src_a"), col("d").as("da"))),
        Seq("src_a"))
      .join(broadcast(deg.select(col("s").as("src_b"), col("d").as("db"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("common_neighbors"),
        (col("da") * col("db")).as("pref_attach"))
      .orderBy(col("common_neighbors").desc, col("src_a"), col("src_b"))
      .limit(LinkPredTop)
  }

  val q216Oracle: String =
    s"WITH $edgesCtePrefix,\n" +
    s"""ue AS MATERIALIZED (
       |  SELECT src_from AS s, src_to AS t FROM edges
       |  UNION
       |  SELECT src_to AS s, src_from AS t FROM edges),
       |deg AS (SELECT s, count(*) AS d FROM ue GROUP BY s),
       |cand AS (
       |  SELECT a.s AS src_a, b.s AS src_b, count(*) AS common_neighbors
       |  FROM ue a JOIN ue b ON a.t = b.t AND a.s < b.s
       |  GROUP BY 1, 2),
       |non_edge AS (
       |  SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM ue e WHERE e.s = c.src_a AND e.t = c.src_b))
       |SELECT src_a, src_b, common_neighbors,
       |       da.d * db.d AS pref_attach
       |FROM non_edge
       |JOIN deg da ON da.s = src_a
       |JOIN deg db ON db.s = src_b
       |ORDER BY common_neighbors DESC, src_a, src_b
       |LIMIT $LinkPredTop""".stripMargin

  // ---------------------------------------------------------------- q235

  /** q235: DEGREE ASSORTATIVITY of the syndication graph (Newman 2002)
    * — do high-degree sources syndicate with other high-degree sources
    * (mirror farms copying each other, r > 0) or with the long tail
    * (aggregators scraping everyone, r < 0)? The one-number structural
    * summary of the graph whose per-node views q123 (rank), q206
    * (hubs/authorities) and q216 (link prediction) already report —
    * the SOURCE-graph member of the statistic q189 computes on the
    * doc-level LSH candidate graph (different graph, different
    * question: q189 audits the dedup pair structure, this audits the
    * syndication topology; this one also reduces to the canonical
    * UNDIRECTED edge set first and emits the exact sxy moment).
    *
    * r is the Pearson correlation of endpoint degrees over the
    * UNDIRECTED edge list, each edge contributing both orientations
    * (the handshake symmetrization — so Σx = Σy by construction, which
    * the spec pins). Degrees are tiny integers, so every moment is
    * int64-exact; only the final combination runs in DOUBLE (identical
    * single IEEE ops, the q189 discipline), with the exact `sxy`
    * emitted so the gate pins the integer moment. Degenerate variance
    * (a degree-regular graph) reports NULL on both engines via nullif.
    *
    * Scale shape: the corpus-scale work is the memoized
    * [[GraphRank.syndicationEdges]] frame (shared with q123/q161/q169/
    * q206/q216); everything here joins domain-sized frames with the
    * degree table broadcast.
    */
  def q235(spark: SparkSession, dir: String): DataFrame = {
    val ue = GraphRank.syndicationEdges(spark, dir)
      .select(least(col("src_from"), col("src_to")).as("u"),
        greatest(col("src_from"), col("src_to")).as("v"))
      .distinct()
    val deg = ue.select(col("u").as("s"))
      .unionAll(ue.select(col("v").as("s")))
      .groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val joined = ue
      .join(broadcast(deg.select(col("s").as("u"), col("deg").as("du"))),
        Seq("u"))
      .join(broadcast(deg.select(col("s").as("v"), col("deg").as("dv"))),
        Seq("v"))
    val sym = joined.select(col("du").as("x"), col("dv").as("y"))
      .unionAll(joined.select(col("dv").as("x"), col("du").as("y")))
    val mo = sym.agg(
      count(lit(1)).as("m2"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nn = broadcast(deg.agg(count(lit(1)).as("n_nodes")))
    val ne = broadcast(ue.agg(count(lit(1)).as("n_edges")))
    mo.crossJoin(nn).crossJoin(ne)
      .select(col("n_nodes"), col("n_edges"), col("sxy"),
        expr("round((cast(m2 as double) * sxy - cast(sx as double) * sy) /" +
          " nullif(sqrt(greatest(cast(m2 as double) * sxx -" +
          " cast(sx as double) * sx, 0)) *" +
          " sqrt(greatest(cast(m2 as double) * syy -" +
          " cast(sy as double) * sy, 0)), 0), 6)").as("assort_r"))
      .orderBy(col("n_nodes"))
  }

  // edgesCtePrefix is concatenated AFTER stripMargin: its `||` concat
  // operators would lose a pipe inside a stripMargin region (the
  // recorded round-7 trap)
  val q235Oracle: String =
    s"WITH ${GraphRank.edgesCtePrefix},\n" +
    s"""ue AS (
       |  SELECT DISTINCT least(src_from, src_to) AS u,
       |                  greatest(src_from, src_to) AS v
       |  FROM edges),
       |deg AS (
       |  SELECT s, count(*) AS deg FROM (
       |    SELECT u AS s FROM ue UNION ALL SELECT v AS s FROM ue) t
       |  GROUP BY s),
       |jn AS (
       |  SELECT d1.deg AS du, d2.deg AS dv
       |  FROM ue JOIN deg d1 ON d1.s = ue.u JOIN deg d2 ON d2.s = ue.v),
       |sam AS (
       |  SELECT du AS x, dv AS y FROM jn
       |  UNION ALL
       |  SELECT dv AS x, du AS y FROM jn),
       |mo AS (
       |  SELECT count(*) AS m2,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM sam),
       |nn AS (SELECT count(*) AS n_nodes FROM deg),
       |ne AS (SELECT count(*) AS n_edges FROM ue)
       |SELECT n_nodes, n_edges, sxy,
       |       round((CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
       |             nullif(sqrt(greatest(CAST(m2 AS DOUBLE) * sxx -
       |                         CAST(sx AS DOUBLE) * sx, 0)) *
       |                    sqrt(greatest(CAST(m2 AS DOUBLE) * syy -
       |                         CAST(sy AS DOUBLE) * sy, 0)), 0), 6)
       |         AS assort_r
       |FROM mo, nn, ne ORDER BY n_nodes""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_source_pagerank" -> (q123 _),
    "q161_bfs_hops" -> (q161 _),
    "q169_source_dup_matrix" -> (q169 _),
    "q206_hits_scores" -> (q206 _),
    "q216_link_prediction" -> (q216 _),
    "q235_assortativity" -> (q235 _))

  val oracles: Map[String, String] = Map(
    "q123_source_pagerank" -> q123Oracle,
    "q161_bfs_hops" -> q161Oracle,
    "q169_source_dup_matrix" -> q169Oracle,
    "q206_hits_scores" -> q206Oracle,
    "q216_link_prediction" -> q216Oracle,
    "q235_assortativity" -> q235Oracle)
}
