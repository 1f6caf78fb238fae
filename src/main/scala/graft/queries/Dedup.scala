package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table
import graft.functions.CrossHash
import graft.functions.CrossHash.{P, h60Sql, universalSql}

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2.3 E1/E2):
  * exact (q17), MinHash+LSH banding (q21), SimHash (q22), and n-gram
  * Jaccard (q23). All hashing goes through [[CrossHash]] so the DuckDB
  * oracle reproduces every value bit-for-bit.
  */
object Dedup {

  // ---------------------------------------------------------------- q17

  /** Exact dedup keyed on md5(text), NOT on the raw text: at 100 TB the
    * group-by key that shuffles is 16 bytes, not the document body.
    * Map-side partial aggregation collapses local duplicates before the
    * exchange.
    */
  def q17(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("text_md5"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  val q17Oracle: String =
    """SELECT min(doc_id) AS keep_doc_id, md5(text) AS text_md5,
      |       count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin

  // ---------------------------------------------------------------- q21

  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** MinHash + LSH near-dup candidates over 3-word shingles.
    *
    * Pipeline: tokenize → distinct 3-shingles → 60-bit content hash →
    * 16 universal hashes, min-aggregated per doc (map-side partial min:
    * the shuffle carries one 16-long signature per doc, never the
    * shingles) → 4 bands of 4 rows md5'd into bucket keys → self-join on
    * (band, bucket) yields candidates → signature agreement estimates
    * Jaccard. At 100 TB the banding join is the scale trick (candidates
    * ≪ n²); hot buckets (boilerplate docs) would be capped or salted.
    */
  def q21(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        (expr("""aggregate(zip_with(sig_a, sig_b,
                 (u, v) -> CASE WHEN u = v THEN 1 ELSE 0 END),
                 0, (acc, x) -> acc + x)""")
          .cast("double") / NumHashes).as("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Hot-bucket cap: max docs per (band, bucket) that enter the
    * candidate self-join. A viral boilerplate string at 100 TB puts
    * millions of docs in ONE bucket and makes the join quadratic in
    * that bucket; the cap bounds any bucket's contribution to
    * cap·(cap−1)/2 pairs. Kept deterministic (the cap keeps the
    * lowest doc_ids) so reruns and the two self-join sides agree. At
    * sf0.1 the largest bucket holds <, and asserts to hold <, 64 docs
    * ([[DedupHotBucketSpec]]), so the cap never fires on the gated
    * corpus — and since round 11 the oracle's `bandsc` CTE mirrors the
    * identical row_number cap, so the gate stays faithful even on a
    * corpus whose hot buckets DO evict.
    */
  val MaxBucketDocs = 256

  /** Per-doc banded MinHash signatures (doc_id, sig, band_idx, bh) —
    * one narrow projection: the native minhash_sig expression folds
    * md5 + 16 universal hashes over each doc's shingle array in a
    * single codegen'd pass (bit-identical to the explode → 16×min
    * group-by it replaced — see MinHashSigSpec). No explode, no
    * aggregation shuffle; the sig is carried through the band explode
    * so the candidate join already has both signatures.
    */
  private[graft] def bandedSigs(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val sigs = docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        // round 6: the whole signature stage is native — WordShingles60
        // streams token bytes into the digest (no shingle strings),
        // MinHashSigLongs min-folds the pre-computed hashes. The old
        // array_distinct is dropped: duplicates cannot change a min,
        // so the signature is bit-identical (WordShingles60Spec).
        graft.functions.MinHashSig.minhashSigLongs(
          graft.functions.WordShingles60.wordShingles60(col("toks"), 3),
          NumHashes).as("sig"))
    val bandStructs = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand)
        .map(r => element_at(col("sig"), b * RowsPerBand + r + 1).cast("string"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", rows: _*)).as("bh"))
    }
    sigs
      .select(col("doc_id"), col("sig"),
        explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("band.band_idx").as("band_idx"),
        col("band.bh").as("bh"))
  }

  /** UNSORTED LSH candidate pairs with both signatures — shared by q21
    * (which scores and sorts them) and q78 (which only needs the edge
    * list; consuming q21 directly would drag its global ORDER BY
    * range-exchange into the checkpoint for nothing).
    *
    * Memoized at the default cap — the PQ-codebook/kmClusters discipline
    * applied to the LSH frame: NINE queries
    * (q21/q78/q87/q147/q156/q157/q160/q189/q201) consume the identical
    * banding + self-join, and before this memo each recomputed it from
    * the raw corpus. `localCheckpoint` materializes the pair frame once
    * (pairs are bounded by banding + the hot-bucket cap — never
    * corpus-sized). The capped overload below stays un-memoized (spec
    * hook).
    */
  def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "Dedup.candidatePairs")(
      candidatePairs(spark, dir, MaxBucketDocs).localCheckpoint())

  /** Memoized connected-components labels + drop count over the
    * [[candidatePairs]] graph per (session, dir): q78, q87, q156 and
    * q157 all need the identical banding + CC fixpoint — the round-9
    * verdict's exact analogue of the PQ-codebook memo. Labels are
    * `localCheckpoint`'ed so the final star-map join is not replayed
    * per consumer.
    */
  private[graft] def ccLabels(
      spark: SparkSession, dir: String): (DataFrame, Long) =
    Artifacts.get(spark, dir, "Dedup.ccLabels") {
      val edges = candidatePairs(spark, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val (labels, nDropped) =
        graft.ops.ConnectedComponents.runWithDropCount(edges)
      (labels.localCheckpoint(), nDropped)
    }

  /** As above with an explicit hot-bucket cap (spec hook). The cap's
    * row_number window partitions by exactly the join keys, so its
    * exchange IS the join's exchange — capping costs one local
    * per-bucket sort, no extra shuffle, and the identical a/b subtrees
    * still collapse into one ReusedExchange.
    */
  def candidatePairs(spark: SparkSession, dir: String, maxBucketDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = bandedSigs(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band_idx"), col("bh")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxBucketDocs)
      .drop("rn")
    // merge hint: the capped side's size ESTIMATE falls under the
    // broadcast threshold, which would plan a BroadcastHashJoin and
    // compute the signature subtree twice (once per side). Forcing SMJ
    // keeps the identical a/b subtrees collapsing into ONE exchange
    // (ReusedExchange) — and the cap window's (band_idx, bh, doc_id)
    // sort already satisfies SMJ's ordering, so the join adds no work.
    bands.as("a").hint("merge")
      .join(bands.as("b").hint("merge"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct() // a pair can match in several bands
  }

  /** Shared DuckDB CTE chain ending in `cand(doc_a, doc_b)` — the LSH
    * candidate pairs. Used by both the q21 oracle (pair scoring) and the
    * q78 oracle (connected components over the pair graph).
    */
  private[queries] lazy val q21CandCte: String = {
    val minhashes = (0 until NumHashes)
      .map(j => s"min(${universalSql("h", j)}) AS m$j").mkString(",\n       ")
    val bandSelects = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand)
        .map(r => s"CAST(m${b * RowsPerBand + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $rows)) AS bh FROM mh"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, tok, pos FROM (
       |    SELECT doc_id,
       |           unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) t
       |  WHERE tok <> ''),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
       |    FROM toks
       |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
       |  WHERE shingle IS NOT NULL),
       |hs AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM sh),
       |mh AS MATERIALIZED (
       |  SELECT doc_id,
       |       $minhashes
       |  FROM hs GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |bandsc AS MATERIALIZED (
       |  SELECT doc_id, band_idx, bh FROM (
       |    SELECT doc_id, band_idx, bh,
       |           row_number() OVER (PARTITION BY band_idx, bh
       |                              ORDER BY doc_id) AS rn
       |    FROM bands)
       |  WHERE rn <= $MaxBucketDocs),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandsc a JOIN bandsc b
       |    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
  }

  val q21Oracle: String = {
    val agree = (0 until NumHashes)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${q21CandCte}
       |SELECT c.doc_a, c.doc_b, ($agree) / ${NumHashes}.0 AS est_jaccard
       |FROM cand c
       |JOIN mh x ON c.doc_a = x.doc_id
       |JOIN mh y ON c.doc_b = y.doc_id
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q22

  /** 60-bit SimHash per document — token hashing runs in the native
    * [[graft.functions.H60Array]] expression (one digest loop per row;
    * the previous `transform` lambda paid four interpreted nodes + a
    * hex round-trip per token, HOFs being CodegenFallback), and the
    * 60-counter fold in the native codegen'd
    * [[graft.functions.SimHash64]] expression (the nested-HOF
    * formulation re-folds the array 60× through interpreted lambdas —
    * ~40× slower; see BASELINE.md). No row explosion, no shuffle. Bit b
    * is set iff the frequency-weighted sum of ±1 contributions from
    * token-hash bit b is >= 0; the DuckDB oracle's tokens × bits
    * explosion computes the same integer.
    */
  def q22(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .withColumn("hs", graft.functions.H60Array.h60Array(
        expr("filter(split(text, ' '), t -> t <> '')")))
      .withColumn("simhash", graft.functions.SimHash64.simhash64(col("hs")))
      .select(col("doc_id"), col("lang"), col("simhash"))
      .orderBy(col("doc_id"))

  val q22Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) t
       |  WHERE tok <> ''),
       |th AS (SELECT doc_id, ${h60Sql("tok")} AS h FROM toks),
       |contrib AS (
       |  SELECT doc_id, r.range AS i,
       |         CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1
       |              THEN 1 ELSE -1 END AS c
       |  FROM th, range(0, 60) r),
       |pb AS (SELECT doc_id, i, sum(c) AS s FROM contrib GROUP BY doc_id, i),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s >= 0
       |                  THEN CAST(1 AS BIGINT) << CAST(i AS INT)
       |                  ELSE 0 END) AS BIGINT) AS simhash
       |  FROM pb GROUP BY doc_id)
       |SELECT d.doc_id, d.lang, sh.simhash
       |FROM documents d JOIN sh ON d.doc_id = sh.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q23

  /** Guard ceiling for [[q23]]'s quadratic baseline: the shared-gram
    * self-join's pair keyspace grows ~quadratically in sampled docs
    * (measured spilling unboundedly at the sf10 rung — ~20k sampled),
    * so the DECLARED-quadratic ground truth refuses to run past this
    * many sampled docs instead of falling over silently. 10k sampled
    * (≈250k corpus docs at the 1/25 sample) holds the sf1 rung (2k
    * sampled) with headroom; the scalable paths are q21 (MinHash LSH)
    * and q42 (sign-LSH).
    */
  private[graft] val Q23MaxSampledDocs = 10000L

  private[graft] def q23Guard(nSampled: Long): Unit =
    require(nSampled <= Q23MaxSampledDocs,
      s"q23 is the DECLARED-QUADRATIC exact-Jaccard ground truth: " +
        s"$nSampled sampled docs > $Q23MaxSampledDocs ceiling — at this " +
        "scale the shared-gram self-join spills unboundedly (measured at " +
        "the 100x rung). Use q21 (MinHash LSH) or q42 (sign-LSH) for " +
        "near-dup detection at scale; raise Q23MaxSampledDocs only for " +
        "a deliberate offline ground-truth run.")

  /** Pairwise character-4-gram Jaccard over a deterministic 1/25th doc
    * sample — the quadratic exact baseline that MinHash (q21)
    * approximates. Kept bounded on purpose: the self-join on shared
    * grams is the part that does NOT scale, which is why the LSH path
    * exists — and why [[q23Guard]] refuses to run it past
    * [[Q23MaxSampledDocs]] sampled docs (the sf10 rung measured the
    * un-guarded form spilling unboundedly; the exclusion is documented
    * in BASELINE.md). The guard costs one count over the sampled-id
    * projection — trivial beside the pair join it prices.
    */
  def q23(spark: SparkSession, dir: String): DataFrame = {
    q23Guard(table(spark, dir, "documents")
      .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 4)
      .count())
    // position cap (600) and min length (4) mirror the oracle's
    // uncorrelated range(1, 601) + WHERE exactly — without the cap the
    // two engines diverge on texts longer than 603 chars
    val grams = table(spark, dir, "documents")
      .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 4)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, least(length(text), 603)-3), i -> substr(text, i, 4)))"))
        .as("gram"))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sa.n") + col("sb.n") - col("inter")).as("uni"),
        (col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q23Oracle: String =
    """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
      |grams AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(r.range AS INT), 4) AS gram
      |  FROM sub, range(1, 601) r
      |  WHERE length(text) >= 4 AND r.range <= length(text) - 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM grams a JOIN grams b
      |    ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i.doc_a, i.doc_b, i.inter,
      |       sa.n + sb.n - i.inter AS uni,
      |       i.inter / (sa.n + sb.n - i.inter) AS jaccard
      |FROM inter i
      |JOIN sizes sa ON i.doc_a = sa.doc_id
      |JOIN sizes sb ON i.doc_b = sb.doc_id
      |WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.2
      |ORDER BY i.doc_a, i.doc_b""".stripMargin

  // ---------------------------------------------------------------- q78

  /** Dedup CLUSTERING: connected components over the LSH candidate-pair
    * graph — the step after q21 that turns pairwise matches into "keep
    * one doc per near-dup cluster". Runs the alternating
    * large-star/small-star contraction
    * ([[graft.ops.ConnectedComponents]]): O(log n) rounds on any
    * topology, vs the O(diameter) rounds of plain min-label
    * propagation — the difference between 30 and 10M join rounds when a
    * boilerplate chain links documents at 100 TB. Labels are the
    * component minimum either way, so the WITH RECURSIVE closure oracle
    * is unchanged.
    */
  def q78(spark: SparkSession, dir: String): DataFrame =
    ccLabels(spark, dir)._1
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** Recursive-CTE twin: the closure of reachable labels per node; the
    * min reachable node IS the component minimum (undirected graph).
    */
  val q78Oracle: String =
    s"""WITH RECURSIVE ${ccWalkCtes}
       |SELECT id AS doc_id, label AS cluster_id
       |FROM labels ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q87

  /** Broadcast cap for [[removeDropped]]: 4M ids ≈ 32 MB of longs on
    * every executor — comfortably inside default broadcast budgets at
    * 1000 executors, far above any real corpus's non-representative
    * fraction at this scale.
    */
  val MaxBroadcastDropIds: Long = 4_000_000L

  /** Anti-join the drop set out of the corpus, picking the join
    * strategy from the drop set's MEASURED size: a real corpus's
    * non-representative ids are a small fraction (broadcast left-anti,
    * the 100 TB side never shuffles), but a pathological all-dup corpus
    * makes the drop set ~the corpus itself — broadcasting that OOMs
    * every executor (the round-4 watch-list hole). `dropCount` comes
    * free from the CC loop's convergence checksum
    * ([[graft.ops.ConnectedComponents.runWithDropCount]] — no extra
    * job); oversized sets fall back to a shuffle hash join, hinted so
    * Spark's own size estimate can't re-broadcast them.
    */
  private[graft] def removeDropped(
      corpus: DataFrame,
      dropIds: DataFrame,
      dropCount: Long,
      maxBroadcast: Long = MaxBroadcastDropIds): DataFrame =
    if (dropCount <= maxBroadcast)
      corpus.join(broadcast(dropIds), Seq("doc_id"), "left_anti")
    else
      corpus.join(dropIds.hint("shuffle_hash"), Seq("doc_id"), "left_anti")

  /** End-to-end near-dup REMOVAL — the full pipeline a 100 TB corpus
    * actually runs: LSH candidates (q21's machinery) → connected
    * components (q78's) → keep the min-doc_id representative per
    * cluster → anti-join the losers out of the corpus → per-lang
    * survivor stats. The removal is one [[removeDropped]] left-anti
    * join, broadcast or shuffled by the drop set's measured size.
    */
  def q87(spark: SparkSession, dir: String): DataFrame = {
    val (labels, nDropped) = ccLabels(spark, dir)
    val dropIds = labels
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    removeDropped(table(spark, dir, "documents"), dropIds, nDropped)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("lang"))
  }

  val q87Oracle: String =
    s"""WITH RECURSIVE ${ccWalkCtes},
       |dropped AS (SELECT id FROM labels WHERE id <> label)
       |SELECT d.lang, count(*) AS n_docs,
       |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars_total
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q147

  /** MinHash estimator CALIBRATION audit — the evaluation twin of
    * q103's ANN recall panel, for the LSH dedup path: for every
    * candidate pair the banding surfaces, the 16-hash signature
    * agreement (what q21 scores with) is compared against the EXACT
    * shingle-set Jaccard (what it estimates), both in integer
    * per-mille, with the absolute error alongside. A pipeline tunes
    * its near-dup threshold off this table instead of trusting the
    * estimator blind.
    *
    * Scale shape — the standard LSH verify stage: exact verification
    * runs ONLY on the candidate pairs (bounded by the banding + the
    * hot-bucket cap, never n²); the shingle frame is semi-joined down
    * to the paired docs before the intersection join, so the exact
    * pass is linear in (pairs × shingles-per-doc). Set sizes are a
    * narrow re-aggregation of the same pruned frame.
    */
  def q147(spark: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        expr("""aggregate(zip_with(sig_a, sig_b,
                 (u, v) -> CASE WHEN u = v THEN 1 ELSE 0 END),
                 0, (acc, x) -> acc + x)""").cast("long").as("n_agree"))
    val sets = table(spark, dir, "documents")
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordShingles60.wordShingles60(col("toks"), 3)))
        .as("h"))
    val paired = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val psets = sets.join(broadcast(paired), Seq("doc_id"), "left_semi")
    val sizes = psets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs.select(col("doc_a"), col("doc_b"))
      .join(psets.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(psets.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
        col("n").as("n_a"))), Seq("doc_a"))
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
        col("n").as("n_b"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"(1000 * n_agree) div $NumHashes").as("est_permille"),
        expr("(1000 * n_inter) div (n_a + n_b - n_inter)")
          .as("exact_permille"))
      .withColumn("err_permille",
        abs(col("est_permille") - col("exact_permille")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q147Oracle: String = {
    val agree = (0 until NumHashes)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${q21CandCte},
       |agree AS (
       |  SELECT c.doc_a, c.doc_b, ($agree) AS n_agree
       |  FROM cand c
       |  JOIN mh x ON x.doc_id = c.doc_a
       |  JOIN mh y ON y.doc_id = c.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY c.doc_a, c.doc_b),
       |scored AS (
       |  SELECT g.doc_a, g.doc_b,
       |         CAST((1000 * g.n_agree) // $NumHashes AS BIGINT)
       |           AS est_permille,
       |         CAST((1000 * coalesce(i.n_inter, 0))
       |              // (sa.n + sb.n - coalesce(i.n_inter, 0)) AS BIGINT)
       |           AS exact_permille
       |  FROM agree g
       |  LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
       |  JOIN sizes sa ON sa.doc_id = g.doc_a
       |  JOIN sizes sb ON sb.doc_id = g.doc_b)
       |SELECT doc_a, doc_b, est_permille, exact_permille,
       |       CAST(abs(est_permille - exact_permille) AS BIGINT)
       |         AS err_permille
       |FROM scored ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- q127

  /** q127 gates: pairs must share at least this many shingles, and the
    * contained side must overlap at this per-mille or higher.
    */
  val MinContainShared: Long = 10L
  val MinContainPermille: Long = 800L

  /** The df-cap skew guard — one definition in [[Shingles.MaxDf]],
    * shared with q123's syndication pipeline; containment is DEFINED
    * over the rare-shingle sets, same on both sides.
    */
  val ContainMaxDf: Int = Shingles.MaxDf

  /** Asymmetric CONTAINMENT detection — the near-dup metric Jaccard
    * (q23) structurally misses: a short doc fully quoted inside a long
    * one has tiny Jaccard but containment ≈ 1. For each candidate pair
    * the per-mille overlap is computed against EACH side's own shingle
    * set size, and the more-contained side is reported as the doc a
    * dedup pass should drop (ties — identical rare-shingle sets — keep
    * the earlier doc as container, the q113/q123 "original wins"
    * convention).
    *
    * Scale shape: per-doc-distinct 5-token shingles as 8-byte native
    * hashes before any shuffle; the df cap bounds the self-join fanout;
    * sizes are a narrow re-aggregation of the same (doc, h) frame. All
    * ratios are integer per-mille with truncated div.
    */
  def q127(spark: SparkSession, dir: String): DataFrame = {
    val ds = Shingles.rareHashes(table(spark, dir, "documents"))
    val sizes = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = ds.select(col("h"), col("doc_id").as("da"))
      .join(ds.select(col("h"), col("doc_id").as("db")), Seq("h"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinContainShared)
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("ca", expr("1000 * shared div na"))
      .withColumn("cb", expr("1000 * shared div nb"))
      .filter(greatest(col("ca"), col("cb")) >= MinContainPermille)
      .select(
        expr("CASE WHEN ca > cb THEN da ELSE db END").as("doc_contained"),
        expr("CASE WHEN ca > cb THEN db ELSE da END").as("doc_container"),
        col("shared").as("n_shared"),
        expr("CASE WHEN ca > cb THEN na ELSE nb END").as("n_contained"),
        expr("CASE WHEN ca > cb THEN nb ELSE na END").as("n_container"),
        expr("CASE WHEN ca > cb THEN ca ELSE cb END")
          .as("containment_permille"))
      .orderBy(col("containment_permille").desc, col("doc_contained"),
        col("doc_container"))
  }

  val q127Oracle: String = {
    // CTE prefix concatenated AFTER stripMargin — interpolating it into
    // the stripMargin region would corrupt its leading `||` operators
    s"WITH ${Shingles.rareCteSql},\n" +
    s"""ds AS MATERIALIZED (SELECT doc_id, hh FROM hs JOIN rare USING (hh)),
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
       |  FROM ds a JOIN ds b ON a.hh = b.hh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinContainShared),
       |c AS (
       |  SELECT da, db, shared, sa.n AS na, sb.n AS nb,
       |         1000 * shared // sa.n AS ca, 1000 * shared // sb.n AS cb
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db)
       |SELECT CAST(CASE WHEN ca > cb THEN da ELSE db END AS BIGINT) AS doc_contained,
       |       CAST(CASE WHEN ca > cb THEN db ELSE da END AS BIGINT) AS doc_container,
       |       CAST(shared AS BIGINT) AS n_shared,
       |       CAST(CASE WHEN ca > cb THEN na ELSE nb END AS BIGINT) AS n_contained,
       |       CAST(CASE WHEN ca > cb THEN nb ELSE na END AS BIGINT) AS n_container,
       |       CAST(CASE WHEN ca > cb THEN ca ELSE cb END AS BIGINT)
       |         AS containment_permille
       |FROM c WHERE greatest(ca, cb) >= $MinContainPermille
       |ORDER BY containment_permille DESC, doc_contained, doc_container"""
      .stripMargin
  }

  // ---------------------------------------------------------------- q156

  /** Integer-quantized document quality for SELECTION (range 0..1000):
    * `400·min(n_tokens,50) div 50 + 300·(n_tokens−stops) div n_tokens
    * + 300·alpha div n_chars` — the q26 quality signal re-expressed in
    * pure integer `div` so a rank key can never straddle a float
    * rounding boundary cross-engine (round-6 discipline: integer-only
    * ranking keys). Corpus invariant n_tokens ≥ 10, n_chars ≥ 44
    * (probed at every SF), so no divisor guard is needed.
    */
  private[queries] val QualU3Expr =
    "400 * least(n_tokens, 50) div 50 + " +
      "300 * (n_tokens - stop_tokens) div n_tokens + " +
      "300 * alpha_chars div n_chars"

  /** Adds `q_u3` ([[QualU3Expr]]) to a frame carrying `text` and
    * `n_chars`, dropping the intermediate token/char counts. One
    * definition for both q156 call sites (and q232's calibration curve)
    * so the member-ranking score and its consumers cannot fork.
    */
  private[queries] def withQualU3(df: DataFrame): DataFrame = df
    .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
    .withColumn("n_tokens", size(col("toks")).cast("long"))
    .withColumn("stop_tokens",
      expr("size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'in')))")
        .cast("long"))
    .withColumn("alpha_chars",
      length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
    .withColumn("q_u3", expr(QualU3Expr))
    .drop("toks", "n_tokens", "stop_tokens", "alpha_chars")

  /** Canonical-document selection — q87 with a QUALITY keep policy:
    * real curation pipelines keep the best-quality member of each
    * near-dup cluster, not the smallest id. Members rank by
    * (quality desc, doc_id) inside their cluster; everyone below rank
    * 1 is dropped; per-source keep/drop stats summarize the cut.
    *
    * Scale shape: the RANKING quality score is computed only for
    * cluster members (the labels join bounds the frame before the text
    * projection); the per-source rollup evaluates it once corpus-wide
    * because kept_q_u3 needs every doc's score — one pass, map-side,
    * no extra shuffle; the rank window partitions by cluster label —
    * cluster sizes are bounded by the hot-bucket cap's transitive
    * closure, so no skewed window partition; the drop-set flag joins
    * back broadcast-or-shuffled by the MEASURED drop count, exactly
    * q87's [[removeDropped]] policy (a left flag join instead of an
    * anti join, same strategy branch).
    */
  def q156(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (labels, nDropped) = ccLabels(spark, dir)
    // Quality for the RANKING is computed only for cluster members: the
    // labels join bounds the frame BEFORE the expensive text projection
    // runs (the corpus-wide evaluation below serves the kept-quality
    // rollup, which needs every doc's score anyway).
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val members = labels.join(
      docs.select(col("doc_id").as("id"), col("text"), col("n_chars")),
      Seq("id"))
    val ranked = withQualU3(members)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("q_u3").desc, col("id"))))
    val droppedIds = ranked.filter(col("rn") > 1)
      .select(col("id").as("doc_id"), lit(1L).as("is_dropped"))
    val flaggedDrop =
      if (nDropped <= MaxBroadcastDropIds) broadcast(droppedIds)
      else droppedIds.hint("shuffle_hash")
    withQualU3(docs).drop("text")
      .join(flaggedDrop, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
        sum(when(col("is_dropped").isNull, col("n_chars"))
          .otherwise(lit(0L))).as("kept_chars"),
        sum(when(col("is_dropped").isNull, col("q_u3"))
          .otherwise(lit(0L))).as("kept_q_u3"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("kept_chars"), col("kept_q_u3"),
        expr("(1000 * n_dropped) div n_docs").as("drop_permille"))
      .orderBy(col("source"))
  }

  /** Banding candidates + symmetric edges + the recursive CC walk,
    * ending in `labels(id, label)` — the SQL twin of [[ccLabels]], THE
    * single copy (q78, q87, q156, q157, and EvalOps's q253 all
    * prepend `WITH RECURSIVE` and consume `labels`).
    */
  private[queries] lazy val ccWalkCtes: String =
    s"""${q21CandCte},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM cand
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM cand),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |walk(id, label) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id),
       |labels AS (SELECT id, min(label) AS label FROM walk GROUP BY id)"""
      .stripMargin

  val q156Oracle: String = {
    val qualSql = QualU3Expr.replace(" div ", " // ")
    s"""WITH RECURSIVE ${ccWalkCtes},
       |docsq AS (
       |  SELECT doc_id, source, n_chars,
       |         $qualSql AS q_u3
       |  FROM (
       |    SELECT doc_id, source, n_chars,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS n_tokens,
       |           len(list_filter(string_split(text, ' '),
       |               t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |             AS stop_tokens,
       |           length(regexp_replace(text, '[^a-z]', '', 'g'))
       |             AS alpha_chars
       |    FROM documents)),
       |ranked AS (
       |  SELECT l.id, row_number() OVER (
       |           PARTITION BY l.label ORDER BY q.q_u3 DESC, l.id) AS rn
       |  FROM labels l JOIN docsq q ON q.doc_id = l.id),
       |dropped AS (SELECT id FROM ranked WHERE rn > 1)
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN x.id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_dropped,
       |       CAST(sum(CASE WHEN x.id IS NULL THEN d.n_chars ELSE 0 END)
       |            AS BIGINT) AS kept_chars,
       |       CAST(sum(CASE WHEN x.id IS NULL THEN d.q_u3 ELSE 0 END)
       |            AS BIGINT) AS kept_q_u3,
       |       CAST((1000 * sum(CASE WHEN x.id IS NOT NULL THEN 1 ELSE 0 END))
       |            // count(*) AS BIGINT) AS drop_permille
       |FROM docsq d LEFT JOIN dropped x ON x.id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ---------------------------------------------------------------- q157

  /** Near-dup cluster-size profile — the audit a dedup run publishes
    * next to its output: how many clusters of each size the candidate
    * graph produced, singletons (docs with no candidate pair) included
    * as size-1 clusters. A sudden mass at high sizes means boilerplate
    * or a broken banding; the permille of docs in clusters ≥ 2 is the
    * corpus's near-dup rate.
    *
    * Scale shape: two cheap aggregates over the labels frame (itself
    * bounded by the candidate graph, not the corpus) plus one anti-join
    * count for singletons — the corpus-side scan reads only doc_id.
    * Labeled clusters have ≥ 2 members by construction (every labeled
    * node has an edge), so the singleton row never collides with the
    * grouped histogram.
    */
  def q157(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)._1
    val hist = labels
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = table(spark, dir, "documents").select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    hist.unionByName(singles).orderBy(col("cluster_size"))
  }

  val q157Oracle: String =
    s"""WITH RECURSIVE ${ccWalkCtes},
       |sizes AS (SELECT label, count(*) AS cluster_size
       |          FROM labels GROUP BY label),
       |hist AS (
       |  SELECT cluster_size, count(*) AS n_clusters
       |  FROM sizes GROUP BY cluster_size
       |  UNION ALL
       |  SELECT 1 AS cluster_size, count(*) AS n_clusters
       |  FROM documents
       |  WHERE doc_id NOT IN (SELECT id FROM labels))
       |SELECT cluster_size, n_clusters FROM hist
       |ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------------------------- q160

  /** Triangle census of the near-dup candidate graph — the structural
    * audit CC can't give: a triangle-dense neighborhood is a genuine
    * boilerplate CLIQUE (every member matches every other), while a
    * triangle-free cluster of the same size is a CHAIN of pairwise
    * matches (A~B~C with A≁C), which a transitive dedup would
    * over-merge. Reports the top-20 docs by triangle participation
    * with degree and the local clustering coefficient in integer
    * permille (`1000·2·t div (deg·(deg−1))`).
    *
    * Spark-first plan: edges arrive id-oriented (doc_a < doc_b) from
    * the banding, so each triangle {a<b<c} is counted exactly once by
    * the wedge join (edges sharing their lower endpoint, second
    * endpoints ordered) closed against the edge list — two
    * co-partitioned joins, no recursion, no explosion beyond
    * Σ deg²(a). That wedge fan-out is the classic hub hazard; here
    * per-node degree is bounded by construction (the hot-bucket cap
    * bounds any bucket's pairs, and the df-cap upstream already
    * dropped boilerplate shingles), so the join is safe at any corpus
    * size. Degrees ride a separate ≤2|E|-row union aggregate.
    */
  def q160(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(
      // the memoized candidate frame is already checkpointed; the
      // narrow select on top costs nothing to replay
      candidatePairs(spark, dir).select(col("doc_a"), col("doc_b")),
      topK = 20)

  /** Wedges of an id-oriented (doc_a < doc_b) edge frame: pairs of
    * edges sharing their LOWER endpoint, second endpoints ordered — so
    * each potential triangle {a<b<c} yields exactly one wedge
    * (a,b,c). Fan-out per node is C(deg,2), quadratic in the DEGREE
    * CAP, never in the corpus ([[TriangleCensusSpec]] pins a
    * [[MaxBucketDocs]]-degree hub to exactly cap·(cap−1)/2 wedges).
    */
  private[graft] def wedgeFrame(edges: DataFrame): DataFrame =
    edges.as("e1")
      .join(edges.as("e2"),
        col("e1.doc_a") === col("e2.doc_a") &&
          col("e1.doc_b") < col("e2.doc_b"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
        col("e2.doc_b").as("c"))

  /** Census body shared by q160 and the synthetic-graph spec: close
    * wedges against the edge list, count per-node triangle
    * participation, join degrees, rank.
    */
  private[graft] def triangleCensus(edges: DataFrame, topK: Int): DataFrame = {
    val tris = wedgeFrame(edges).join(
      edges.select(col("doc_a").as("b"), col("doc_b").as("c")),
      Seq("b", "c"))
    val triCount = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    val degrees = edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    triCount.join(degrees, Seq("doc_id"))
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        expr("(1000 * 2 * n_triangles) div (degree * (degree - 1))")
          .as("clustering_permille"))
      .orderBy(col("n_triangles").desc, col("doc_id"))
      .limit(topK)
  }

  val q160Oracle: String =
    s"""WITH ${q21CandCte},
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand),
       |wed AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b),
       |tri AS (
       |  SELECT w.a, w.b, w.c
       |  FROM wed w JOIN e ON e.a = w.b AND e.b = w.c),
       |nodes AS (SELECT unnest([a, b, c]) AS doc_id FROM tri),
       |tcount AS (
       |  SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY doc_id),
       |deg AS (
       |  SELECT doc_id, count(*) AS degree FROM (
       |    SELECT a AS doc_id FROM e UNION ALL SELECT b AS doc_id FROM e) u
       |  GROUP BY doc_id)
       |SELECT t.doc_id, d.degree, t.n_triangles,
       |       CAST((1000 * 2 * t.n_triangles)
       |            // (d.degree * (d.degree - 1)) AS BIGINT)
       |         AS clustering_permille
       |FROM tcount t JOIN deg d ON d.doc_id = t.doc_id
       |ORDER BY t.n_triangles DESC, t.doc_id
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q189

  /** q189: degree assortativity of the LSH candidate graph — the
    * Pearson correlation of endpoint degrees over both orientations of
    * every edge (Newman 2002, "Assortative mixing in networks").
    * Positive r means near-dup hubs link to hubs (a template family);
    * strongly negative r means star-shaped boilerplate — which of the
    * two decides whether q156's canonical-keep or a blocklist is the
    * right removal policy. Degrees ride the same ≤2|E| union aggregate
    * as q160; the edge↔degree joins are co-partitioned on the 8-byte
    * doc id. Pearson r comes from integer-exact moment SUMS, not
    * corr(): the int64 sums are order-independent (Σ deg² stays exact
    * below ~10¹⁴ cap-bounded edges), the moment COMBINATION then runs
    * in doubles (see the in-query comment — n·sxx in int64 would wrap
    * where the oracle's HUGEINT stays exact), and a constant-degree
    * graph — e.g. a perfect matching — yields NULL via nullif where
    * ANSI corr() raises DIVIDE_BY_ZERO mid-aggregation. One row out.
    */
  def q189(spark: SparkSession, dir: String): DataFrame = {
    val e = candidatePairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val deg = e.select(col("doc_a").as("id"))
      .unionAll(e.select(col("doc_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val both = e.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionAll(e.select(col("doc_b").as("x"), col("doc_a").as("y")))
    both.join(deg.toDF("x", "deg_x"), "x")
      .join(deg.toDF("y", "deg_y"), "y")
      .agg(count(lit(1)).as("n"),
        max(col("deg_x")).as("max_degree"),
        sum(col("deg_x")).as("sx"), sum(col("deg_y")).as("sy"),
        sum(col("deg_x") * col("deg_y")).as("sxy"),
        sum(col("deg_x") * col("deg_x")).as("sxx"),
        sum(col("deg_y") * col("deg_y")).as("syy"))
      .crossJoin(broadcast(nNodes))
      // the moment COMBINATION runs in doubles: n·sxx in int64 wraps
      // (silently, or as an ANSI error) once n·max_deg² nears 2⁶³,
      // while the oracle's HUGEINT-promoted sums stay exact — a
      // cross-engine fork. BIGINT→DOUBLE casts and each * and − are
      // single correctly-rounded IEEE ops, identical on both engines;
      // only the SUM stage still needs int64 headroom (Σ deg² < 2⁶³ —
      // safe below ~10¹⁴ cap-bounded edges).
      .select((col("n") / 2).cast("long").as("n_edges"), col("n_nodes"),
        col("max_degree"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                nullif(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                       0.0), 4)""")
          .as("assortativity"))
  }

  val q189Oracle: String =
    s"""WITH ${q21CandCte},
       |e AS (SELECT doc_a, doc_b FROM cand),
       |deg AS (
       |  SELECT id, count(*) AS degree FROM (
       |    SELECT doc_a AS id FROM e
       |    UNION ALL SELECT doc_b AS id FROM e) u
       |  GROUP BY id),
       |both_dir AS (
       |  SELECT doc_a AS x, doc_b AS y FROM e
       |  UNION ALL SELECT doc_b AS x, doc_a AS y FROM e),
       |m AS (
       |  SELECT count(*) AS n, max(dx.degree) AS max_degree,
       |         sum(dx.degree) AS sx, sum(dy.degree) AS sy,
       |         sum(dx.degree * dy.degree) AS sxy,
       |         sum(dx.degree * dx.degree) AS sxx,
       |         sum(dy.degree * dy.degree) AS syy
       |  FROM both_dir b JOIN deg dx ON dx.id = b.x
       |  JOIN deg dy ON dy.id = b.y)
       |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       |       (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |       CAST(max_degree AS BIGINT) AS max_degree,
       |       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
       |             nullif(sqrt((CAST(n AS DOUBLE) * sxx
       |                          - CAST(sx AS DOUBLE) * sx)
       |                       * (CAST(n AS DOUBLE) * syy
       |                          - CAST(sy AS DOUBLE) * sy)), 0.0), 4)
       |         AS assortativity
       |FROM m""".stripMargin

  // ---------------------------------------------------------------- q201

  /** Peel-round bound for [[q201]]'s k-core — a LITERAL bound unrolled
    * identically in the oracle's CTE chain. The Spark loop EARLY-EXITS
    * the moment a round is a fixpoint (the alive set stops changing —
    * one tiny checksum row per round, the ConnectedComponents
    * discipline), which produces the identical result with fewer jobs:
    * once stable, every further peel is a no-op by construction. If the
    * bound is exhausted WITHOUT reaching a fixpoint the peel fails
    * loudly instead of silently reporting pendant nodes as core members
    * (both engines would agree on the bounded-but-wrong answer, so the
    * hash gate cannot catch it — the round-9 advisor's witness).
    */
  private[graft] val KCorePeelRounds = 8

  private[graft] val KCoreK = 2

  /** Order-insensitive fingerprint of the alive-id set (count + xor of
    * xxhash64(id)) — one tiny driver-side row per peel round, and the
    * round's only action (it also materializes the checkpoint).
    */
  private def aliveSig(alive: DataFrame): (Long, Long) = {
    val r = alive.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("id"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private[graft] def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreWithRounds(edges, k, rounds)._1

  /** k-core of an id-oriented edge frame by iterative peel: drop nodes
    * with degree < k, recompute, repeat — early-exiting at fixpoint,
    * failing loudly on cap-out (see [[KCorePeelRounds]]). Each round is
    * one join of the (checkpointed) bidirected edge list against the
    * shrinking alive set plus the checksum — shuffle keys are the
    * 8-byte doc ids, volume only ever decreases, and the alive frame is
    * checkpointed per round so the plan stays flat at any round count.
    * Returns the final survivors with their within-core degree plus the
    * number of peel rounds actually executed (spec hook for the
    * early-exit claim).
    */
  private[graft] def kCoreWithRounds(
      edges: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    val bidir = edges.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .unionAll(edges.select(col("doc_b").as("x"), col("doc_a").as("y")))
      .localCheckpoint()
    var alive = bidir.select(col("x").as("id")).distinct().localCheckpoint()
    var sig = aliveSig(alive)
    var used = 0
    var converged = false
    while (used < rounds && !converged) {
      val next = bidir
        .join(alive.toDF("x"), "x").join(alive.toDF("y"), "y")
        .groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("id"))
        .localCheckpoint(false)
      val nextSig = aliveSig(next)
      converged = nextSig == sig
      alive = next
      sig = nextSig
      used += 1
    }
    if (!converged) throw new IllegalStateException(
      s"$k-core peel did not reach a fixpoint in $rounds rounds — the " +
        "bounded result would misreport pendant nodes as core members; " +
        "raise the round bound (and mirror it in the oracle's CTE chain)")
    (bidir.join(alive.toDF("x"), "x").join(alive.toDF("y"), "y")
      .groupBy(col("x").as("doc_id")).agg(count(lit(1)).as("core_degree")),
      used)
  }

  /** q201: the 2-core of the LSH candidate graph — peel away pendant
    * vertices (isolated dup PAIRS and chain tails) until only cyclic
    * structure remains; what survives is the template-family core
    * where a blocklist beats per-pair review. Top-20 core members by
    * (degree, id) with the core's node/edge totals on every row (the
    * broadcast-scalar idiom). Complements q160 (triangles = smallest
    * 2-core witnesses) and q189 (who links to whom).
    */
  def q201(spark: SparkSession, dir: String): DataFrame = {
    val core = kCore(
      candidatePairs(spark, dir).select(col("doc_a"), col("doc_b")),
      KCoreK, KCorePeelRounds).localCheckpoint()
    val totals = core.agg(count(lit(1)).as("n_core_nodes"),
      (sum(col("core_degree")) / 2).cast("long").as("n_core_edges"))
    core
      .orderBy(col("core_degree").desc, col("doc_id"))
      .limit(20)
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("core_degree"), col("n_core_nodes"),
        col("n_core_edges"))
      .orderBy(col("core_degree").desc, col("doc_id"))
  }

  val q201Oracle: String = {
    // every round references the previous alive set TWICE (both join
    // endpoints): un-materialized CTEs would be inlined, doubling the
    // whole upstream LSH tree per round (2^rounds scans of documents —
    // observed as an fd-exhaustion failure). MATERIALIZED pins each
    // round to one evaluation, the exact analogue of the Spark side's
    // per-round localCheckpoint.
    val rounds = (1 to KCorePeelRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT b.x AS id, count(*) AS deg
         |  FROM bd b JOIN alive${r - 1} ax ON ax.id = b.x
         |  JOIN alive${r - 1} ay ON ay.id = b.y
         |  GROUP BY b.x),
         |alive$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${q21CandCte},
       |bd AS MATERIALIZED (
       |  SELECT doc_a AS x, doc_b AS y FROM cand
       |  UNION ALL SELECT doc_b AS x, doc_a AS y FROM cand),
       |alive0 AS MATERIALIZED (SELECT DISTINCT x AS id FROM bd),
       |$rounds,
       |core AS (
       |  SELECT b.x AS doc_id, count(*) AS core_degree
       |  FROM bd b JOIN alive$KCorePeelRounds ax ON ax.id = b.x
       |  JOIN alive$KCorePeelRounds ay ON ay.id = b.y
       |  GROUP BY b.x),
       |tot AS (
       |  SELECT count(*) AS n_core_nodes,
       |         CAST(coalesce(sum(core_degree), 0) / 2 AS BIGINT)
       |           AS n_core_edges
       |  FROM core)
       |SELECT doc_id, CAST(core_degree AS BIGINT) AS core_degree,
       |       CAST(n_core_nodes AS BIGINT) AS n_core_nodes, n_core_edges
       |FROM core CROSS JOIN tot
       |ORDER BY core_degree DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q212

  /** Group split for a cluster id — the same 900/50/50 permille
    * thresholds as [[ReleaseOps.splitOf]] under a DIFFERENT salt, so
    * group and doc assignments are independent hashes and the
    * migration count is a real measurement, not an artifact.
    */
  private[graft] def groupSplitOf(
      cluster: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = CrossHash.h60(concat(lit("gsplit:"),
      cluster.cast("string"))) % 1000
    when(bucket < ReleaseOps.SplitTrainUpto, "train")
      .when(bucket < ReleaseOps.SplitValUpto, "val")
      .otherwise("test")
  }

  /** q212: near-dup-GROUP-aware train/val/test split — the leakage-free
    * assignment a curation pipeline must use instead of per-doc hashing
    * (q114): hash the dedup CLUSTER, not the document, so near-
    * duplicates can never straddle train and test (the contamination
    * q120/q162 would otherwise measure after the fact is prevented by
    * construction — grouped splitting is the standard remedy, cf.
    * scikit-learn's GroupKFold). Clusters come from the SAME memoized
    * LSH + connected-components labels as q78/q87/q156/q157; docs
    * outside the candidate graph are their own singleton group. Per
    * split: group count, doc count, and the migration count (docs whose
    * naive per-doc split differs from their group split) — the price of
    * leakage-freedom.
    *
    * Scale shape: one left join of the corpus against the (bounded)
    * label frame, two pure-projection hash splits, one aggregate on the
    * 3-value split domain. The cluster hash is a pure function of the
    * label, so "no cluster straddles splits" holds by construction (the
    * spec pins it anyway — it is the property the operator exists for).
    */
  def q212(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)._1
      .select(col("id").as("doc_id"), col("label"))
    table(spark, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
      .select(col("doc_id"), col("cluster"),
        ReleaseOps.splitOf(col("doc_id")).as("doc_split"),
        groupSplitOf(col("cluster")).as("group_split"))
      .groupBy(col("group_split"))
      .agg(countDistinct(col("cluster")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_split") =!= col("group_split"), 1L).otherwise(0L))
          .as("n_migrated"))
      .orderBy(col("group_split"))
  }

  val q212Oracle: String = {
    val dh = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    val gh = CrossHash.h60Sql("'gsplit:' || CAST(cluster AS VARCHAR)")
    def splitCase(h: String) =
      s"""CASE WHEN ($h) % 1000 < ${ReleaseOps.SplitTrainUpto} THEN 'train'
         |     WHEN ($h) % 1000 < ${ReleaseOps.SplitValUpto} THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH RECURSIVE ${q21CandCte},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM cand
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM cand),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |walk(id, label) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id),
       |labels AS (SELECT id, min(label) AS label FROM walk GROUP BY id),
       |g AS (
       |  SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |a AS (
       |  SELECT doc_id, cluster,
       |         ${splitCase(dh)} AS doc_split,
       |         ${splitCase(gh)} AS group_split
       |  FROM g)
       |SELECT group_split,
       |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN doc_split <> group_split THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_migrated
       |FROM a GROUP BY group_split ORDER BY group_split""".stripMargin
  }

  // ---------------------------------------------------------------- q221

  /** q221: language-MODULARITY of the near-dup candidate graph (Newman
    * 2004) — does near-duplication concentrate WITHIN languages, or do
    * candidate pairs cross them? Cross-language near-dup mass is the
    * translation/mirror signal a multilingual curation pipeline has to
    * decide about explicitly (dedup across translations or keep them),
    * so the partition-quality score of the lang grouping is a standing
    * corpus-health number next to q169's source heat map.
    *
    * Newman's Q = Σ_c (e_c/m − (d_c/2m)²) over the [[candidatePairs]]
    * graph with communities = languages. Reported EXACTLY as integers
    * scaled by 4m²: q_contrib_scaled = 4·m·e_c − d_c², where e_c =
    * candidate pairs with both endpoints in lang c, d_c = sum of
    * degrees of lang-c endpoints, m = total candidate pairs. Exact
    * while 4·m·e_c < 2^63, i.e. m < 2^30.5 pairs (~1.5 B — beyond that
    * a deployment reports the permille quotient instead; the ADVICE-r9
    * document-the-actual-bound rule).
    *
    * Scale shape: the pair frame is the memoized banded-LSH candidate
    * set (never all-pairs, hot-bucket capped); two lang lookups join on
    * doc_id (shuffle equi-joins on the corpus key — the lang map is
    * corpus-sized, so broadcasting is not the 100 TB plan); everything
    * lands on the language domain. The oracle re-derives the identical
    * pair set via the shared q21 CTE chain.
    */
  def q221(spark: SparkSession, dir: String): DataFrame = {
    val pairs = candidatePairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val langs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    // checkpoint before the fan-out: the count action plus three
    // downstream consumers (both ends legs + intra) would otherwise
    // replay the two corpus-keyed lang joins four times
    val withLangs = pairs
      .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a")),
        "doc_a")
      .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b")),
        "doc_b")
      .localCheckpoint()
    val m = withLangs.count()
    val ends = withLangs
      .select(col("doc_a").as("doc_id"), col("lang_a").as("lang"))
      .unionAll(withLangs
        .select(col("doc_b").as("doc_id"), col("lang_b").as("lang")))
    val deg = ends.groupBy(col("lang")).agg(
      countDistinct(col("doc_id")).as("n_nodes"),
      count(lit(1)).as("endpoint_degree"))
    val intra = withLangs.filter(col("lang_a") === col("lang_b"))
      .groupBy(col("lang_a").as("lang"))
      .agg(count(lit(1)).as("intra_pairs"))
    deg.join(intra, Seq("lang"), "left")
      .select(col("lang"), col("n_nodes"),
        coalesce(col("intra_pairs"), lit(0L)).as("intra_pairs"),
        col("endpoint_degree"),
        (lit(4L) * lit(m) * coalesce(col("intra_pairs"), lit(0L)) -
          col("endpoint_degree") * col("endpoint_degree"))
          .as("q_contrib_scaled"))
      .orderBy(col("lang"))
  }

  val q221Oracle: String =
    s"""WITH ${q21CandCte},
       |cl AS (
       |  SELECT c.doc_a, c.doc_b, da.lang AS lang_a, db.lang AS lang_b
       |  FROM cand c
       |  JOIN documents da ON da.doc_id = c.doc_a
       |  JOIN documents db ON db.doc_id = c.doc_b),
       |m AS (SELECT count(*) AS m FROM cl),
       |ends AS (
       |  SELECT doc_a AS doc_id, lang_a AS lang FROM cl
       |  UNION ALL
       |  SELECT doc_b, lang_b FROM cl),
       |deg AS (
       |  SELECT lang, count(DISTINCT doc_id) AS n_nodes,
       |         count(*) AS endpoint_degree
       |  FROM ends GROUP BY lang),
       |intra AS (
       |  SELECT lang_a AS lang, count(*) AS intra_pairs
       |  FROM cl WHERE lang_a = lang_b GROUP BY lang_a)
       |SELECT d.lang,
       |       CAST(n_nodes AS BIGINT) AS n_nodes,
       |       CAST(coalesce(intra_pairs, 0) AS BIGINT) AS intra_pairs,
       |       CAST(endpoint_degree AS BIGINT) AS endpoint_degree,
       |       CAST(4 * (SELECT m FROM m) * coalesce(intra_pairs, 0)
       |            - endpoint_degree * endpoint_degree AS BIGINT)
       |         AS q_contrib_scaled
       |FROM deg d LEFT JOIN intra i ON i.lang = d.lang
       |ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q234

  /** Sorted-neighborhood window: each doc pairs with the next
    * `SnmWindow − 1` docs in its block's (n_chars, doc_id) order. */
  val SnmWindow = 4

  /** Char-length band width of the sort blocks: the window runs inside
    * (lang, n_chars div width) cells, so no single task ever owns a
    * whole language (the q61 blocking discipline). */
  val SnmBandWidth = 64L

  /** Candidate pairs at or above this token-set Jaccard permille are
    * reported as near-dup matches. */
  val SnmMinJac = 600L

  /** Matches reported (total-order tie-break, rerun-stable). */
  val SnmTop = 20

  /** q234: SORTED-NEIGHBORHOOD dedup blocking (Hernández/Stolfo 1995,
    * the SNM "merge/purge" method) — the third blocking paradigm beside
    * hash banding (q21 MinHash, q42 SimHash) and prefix filtering
    * (q173 PPJoin): sort the corpus on a cheap proxy key (language,
    * then char length — near-dups rarely differ much in length), slide
    * a fixed window of [[SnmWindow]], and verify ONLY in-window pairs
    * by exact distinct-token-set Jaccard. Reports the top
    * [[SnmTop]] matched pairs at ≥ [[SnmMinJac]]‰.
    *
    * The scale argument is the OPPOSITE trade to LSH: candidate volume
    * is at most n·(w−1) — fixed per document BY CONSTRUCTION, immune to
    * hot buckets and threshold tuning (the failure modes candidatePairs
    * needs its df cap for). The sort is blocked: the window runs inside
    * (lang, [[SnmBandWidth]]-char length band) cells — near-dups rarely
    * differ much in length, so they share a band — which keeps every
    * sort task bounded instead of funnelling a whole language through
    * one window task (the q61 blocking discipline; a lang-wide window
    * would be the straggler the q114 lesson warns about). Recall is
    * heuristic twice over (a pair > w apart in the order, or straddling
    * a band edge, is missed) — that trade is the documented SNM
    * contract, and the multi-pass fix is a second run with an offset
    * band or a different sort key. One window pass computes all w−1
    * neighbor columns; the pair frame is an explode of those columns,
    * not a re-run of the sort per neighbor offset.
    */
  def q234(spark: SparkSession, dir: String): DataFrame = {
    val f = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        expr("array_distinct(filter(split(text, ' '), t -> t <> ''))")
          .as("toks"))
      .withColumn("band", expr(s"n_chars div $SnmBandWidth"))
    val win = Window.partitionBy(col("lang"), col("band"))
      .orderBy(col("n_chars"), col("doc_id"))
    val w = (1 until SnmWindow).foldLeft(f) { (df, j) =>
      df.withColumn(s"b_id_$j", lead(col("doc_id"), j).over(win))
        .withColumn(s"b_toks_$j", lead(col("toks"), j).over(win))
    }
    val pairs = w
      .select(col("lang"), col("doc_id").as("a_id"), col("toks"),
        explode(array((1 until SnmWindow).map { j =>
          struct(col(s"b_id_$j").as("b_id"), col(s"b_toks_$j").as("btoks"))
        }: _*)).as("nb"))
      .select(col("lang"), col("a_id"), col("nb.b_id").as("b_id"),
        col("toks"), col("nb.btoks").as("btoks"))
      .filter(col("b_id").isNotNull)
    pairs
      .withColumn("inter",
        size(array_intersect(col("toks"), col("btoks"))).cast("long"))
      .withColumn("uni",
        size(col("toks")).cast("long") + size(col("btoks")).cast("long")
          - col("inter"))
      .withColumn("jac_permille",
        expr("coalesce((1000 * inter) div nullif(uni, 0), 0)"))
      .filter(col("jac_permille") >= SnmMinJac)
      .select(col("lang"), col("a_id"), col("b_id"), col("jac_permille"))
      .orderBy(col("jac_permille").desc, col("a_id"), col("b_id"))
      .limit(SnmTop)
  }

  val q234Oracle: String = {
    val leads = (1 until SnmWindow).map { j =>
      s"lead(doc_id, $j) OVER win AS b_id_$j, lead(toks, $j) OVER win AS b_toks_$j"
    }.mkString(",\n         ")
    val branches = (1 until SnmWindow).map { j =>
      s"""  SELECT lang, doc_id AS a_id, b_id_$j AS b_id, toks,
         |         b_toks_$j AS btoks
         |  FROM w WHERE b_id_$j IS NOT NULL""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH f AS (
       |  SELECT doc_id, lang, length(text) AS n_chars,
       |         length(text) // $SnmBandWidth AS band,
       |         list_distinct(list_filter(string_split(text, ' '),
       |                                   t -> t <> '')) AS toks
       |  FROM documents),
       |w AS (
       |  SELECT lang, doc_id, toks,
       |         $leads
       |  FROM f
       |  WINDOW win AS (PARTITION BY lang, band ORDER BY n_chars, doc_id)),
       |pairs AS (
       |$branches),
       |j AS (
       |  SELECT lang, a_id, b_id,
       |         CAST(len(list_filter(toks, x -> list_contains(btoks, x)))
       |              AS BIGINT) AS inter,
       |         CAST(len(toks) + len(btoks) AS BIGINT) AS szsum
       |  FROM pairs),
       |scored AS (
       |  SELECT lang, a_id, b_id,
       |         COALESCE((1000 * inter) // nullif(szsum - inter, 0), 0)
       |           AS jac_permille
       |  FROM j)
       |SELECT lang, a_id, b_id, jac_permille
       |FROM scored WHERE jac_permille >= $SnmMinJac
       |ORDER BY jac_permille DESC, a_id, b_id LIMIT $SnmTop""".stripMargin
  }

  // ---------------------------------------------------------------- q52

  /** Per-brand membership cap for q52's blocks — brand COUNT is a
    * constant of the data model (~25 values), so without a cap each
    * block grows linearly with the corpus and the levenshtein pass is
    * quadratic (round 9 measured 7.6× wall at 10× data). The cap
    * bounds every block's pair fan-out at cap·(cap−1)/2; lowest part
    * keys keep their seat (deterministic), mirrored verbatim in the
    * oracle's QUALIFY — the [[Dedup.MaxBucketDocs]] hot-bucket
    * discipline applied to entity-resolution blocking.
    */
  private[graft] val Q52BrandCap = 40

  /** Edit-distance similarity inside brand blocks: levenshtein over
    * same-brand part-name pairs. Blocking on p_brand keeps the self-join
    * quadratic only within each block (the standard entity-resolution
    * trick — at 100 TB you never levenshtein the full cross product);
    * the key inequality halves the pairs, and block membership is
    * bounded by [[Q52BrandCap]] so total pair volume is brands × cap² —
    * constant per brand at any corpus size.
    */
  def q52(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
      .filter(col("p_partkey") % 13 === 0)
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_brand")).orderBy(col("p_partkey"))))
      .filter(col("rn") <= Q52BrandCap)
      .drop("rn")
    val a = p.toDF("key_a", "brand", "name_a")
    val b = p.toDF("key_b", "brand_b", "name_b")
    a.join(b, col("brand") === col("brand_b") && (col("key_a") < col("key_b")))
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("edit_dist") <= 25)
      .select(col("brand"), col("key_a"), col("key_b"), col("edit_dist"))
      .orderBy(col("brand"), col("key_a"), col("key_b"))
  }

  val q52Oracle: String =
    s"""WITH p AS (
      |  SELECT p_partkey, p_brand, p_name
      |  FROM part WHERE p_partkey % 13 = 0
      |  QUALIFY row_number() OVER (PARTITION BY p_brand
      |                             ORDER BY p_partkey) <= $Q52BrandCap)
      |SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
      |FROM p a JOIN p b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 25
      |ORDER BY brand, key_a, key_b""".stripMargin

  // ---------------------------------------------------------------- q57

  /** Blocklist dedup: drop every document whose exact text fingerprint
    * appears in a blocklist (here: all of src0/src1), via broadcast LEFT
    * ANTI join on md5(text). The blocklist is the small side by
    * construction (fingerprints only, deduplicated), so at 100 TB this is
    * a map-side anti join — no shuffle of the corpus.
    */
  def q57(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val block = docs
      .filter(col("source").isin("src0", "src1"))
      .select(md5(col("text")).as("bh"))
      .distinct()
    docs
      .join(broadcast(block), md5(col("text")) === col("bh"), "left_anti")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("source"))
  }

  val q57Oracle: String =
    """WITH block AS (
      |  SELECT DISTINCT md5(text) AS bh FROM documents
      |  WHERE source IN ('src0', 'src1'))
      |SELECT source, count(*) AS n_kept,
      |       CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM block b WHERE b.bh = md5(d.text))
      |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q221_lang_modularity" -> (q221 _),
    "q212_group_split" -> (q212 _),
    "q201_kcore" -> (q201 _),
    "q189_assortativity" -> (q189 _),
    "q17_dedup_exact" -> (q17 _),
    "q21_minhash_lsh" -> (q21 _),
    "q22_simhash" -> (q22 _),
    "q23_ngram_jaccard" -> (q23 _),
    "q78_dedup_clusters" -> (q78 _),
    "q87_dedup_pipeline" -> (q87 _),
    "q127_containment" -> (q127 _),
    "q147_minhash_calibration" -> (q147 _),
    "q156_canonical_keep" -> (q156 _),
    "q157_cluster_profile" -> (q157 _),
    "q160_triangle_census" -> (q160 _),
    "q234_snm_blocking" -> (q234 _),
    "q52_edit_distance" -> (q52 _),
    "q57_blocklist_antijoin" -> (q57 _))

  val oracles: Map[String, String] = Map(
    "q221_lang_modularity" -> q221Oracle,
    "q212_group_split" -> q212Oracle,
    "q201_kcore" -> q201Oracle,
    "q189_assortativity" -> q189Oracle,
    "q17_dedup_exact" -> q17Oracle,
    "q21_minhash_lsh" -> q21Oracle,
    "q22_simhash" -> q22Oracle,
    "q23_ngram_jaccard" -> q23Oracle,
    "q78_dedup_clusters" -> q78Oracle,
    "q87_dedup_pipeline" -> q87Oracle,
    "q127_containment" -> q127Oracle,
    "q147_minhash_calibration" -> q147Oracle,
    "q156_canonical_keep" -> q156Oracle,
    "q157_cluster_profile" -> q157Oracle,
    "q160_triangle_census" -> q160Oracle,
    "q234_snm_blocking" -> q234Oracle,
    "q52_edit_distance" -> q52Oracle,
    "q57_blocklist_antijoin" -> q57Oracle)
}
