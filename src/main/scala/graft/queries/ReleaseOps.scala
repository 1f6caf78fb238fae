package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table
import graft.functions.CrossHash
import graft.functions.CrossHash.h60Sql

/** q114-q116: round-7 widening — release-hygiene ops a training-data
  * pipeline runs between corpus snapshots: deterministic train/val/test
  * split assignment with a stratification audit, incremental exact
  * dedup of a new release against the shipped corpus, and a tokenizer
  * vocabulary-coverage (OOV-rate) audit. Round-6 discipline throughout:
  * integer-only ranking/ratio keys (floor DIV, never round), literal
  * top-k bounds, every query ends in a total ORDER BY.
  */
object ReleaseOps {

  // ---------------------------------------------------------------- q114

  /** Train/val/test quota boundaries on a 1000-bucket hash domain:
    * [0,900) train, [900,950) val, [950,1000) test.
    */
  val SplitTrainUpto = 900
  val SplitValUpto = 950

  /** Deterministic split assignment + stratification audit. Every doc
    * hashes to a 1000-bucket domain via the salted content-independent
    * key h60('split:' || doc_id) — id-based, so re-editing a doc's TEXT
    * cannot migrate it across splits (the leakage rule: eval membership
    * must survive re-crawls), and salted, so the split hash is
    * independent of every other h60 use of doc_id. The audit reports,
    * per (lang, split): doc count, exact per-mille share of the lang
    * (integer floor DIV — both engines agree bit-for-bit), and the
    * id-sum as a content pin.
    *
    * Scale shape: one narrow scan → hash → two-level aggregate on a
    * (lang × 3) domain; the lang totals come from a second partial
    * aggregate on the already-tiny (lang, split) counts (no window over
    * the corpus, no second scan of the data).
    */
  /** The split of a doc id — a pure function of the id column alone
    * (PinnedBy ReleaseOpsSpec: no other column can influence it).
    */
  def splitOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = CrossHash.h60(concat(lit("split:"), docId.cast("string"))) % 1000
    when(bucket < SplitTrainUpto, "train")
      .when(bucket < SplitValUpto, "val")
      .otherwise("test")
  }

  def q114(spark: SparkSession, dir: String): DataFrame = {
    val assigned = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), splitOf(col("doc_id")).as("split"))
    val perSplit = assigned.groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    // lang totals via a window OVER THE AGGREGATE (O(langs×3) rows) — a
    // second groupBy from `assigned` would re-scan the corpus (Catalyst
    // does not reuse the differently-keyed exchange), paying the 100 TB
    // read twice for a number derivable from the tiny frame
    perSplit
      .withColumn("lang_total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("split"), col("n_docs"),
        // integer floor division (Spark `div` ≡ DuckDB `//`) — never
        // double `/`, whose rounding the two engines need not share
        expr("1000 * n_docs div lang_total").as("share_permille"),
        col("id_sum"))
      .orderBy(col("lang"), col("split"))
  }

  val q114Oracle: String = {
    val h = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH assigned AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN $h % 1000 < $SplitTrainUpto THEN 'train'
       |              WHEN $h % 1000 < $SplitValUpto THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents),
       |per_split AS (
       |  SELECT lang, split, count(*) AS n_docs,
       |         CAST(sum(doc_id) AS BIGINT) AS id_sum
       |  FROM assigned GROUP BY lang, split),
       |per_lang AS (
       |  SELECT lang, sum(n_docs) AS lang_total
       |  FROM per_split GROUP BY lang)
       |SELECT s.lang, s.split, s.n_docs,
       |       CAST(1000 * s.n_docs // l.lang_total AS BIGINT) AS share_permille,
       |       s.id_sum
       |FROM per_split s JOIN per_lang l ON s.lang = l.lang
       |ORDER BY s.lang, s.split""".stripMargin
  }

  // ---------------------------------------------------------------- q115

  /** Incremental exact dedup of a new release against the shipped
    * corpus — "don't re-ingest what you already have", decided by
    * CONTENT, not id. Each snapshot-B doc ([[ReleaseOps.snapshotB]] —
    * the same derived release q113 diffs) is classified against
    * snapshot A's fingerprint index:
    *
    *  - `dup_same_id`  — fp unchanged at the same id (the re-crawl)
    *  - `dup_other_id` — fp exists in A only under DIFFERENT id(s)
    *    (mirror/repost: novel id, stale content)
    *  - `novel`        — content A has never shipped
    *
    * Output: per-status doc count + id-sum (the content pin).
    *
    * Scale shape: two hash joins, both on 8-byte keys — the same-id
    * probe co-partitions by doc_id (the CDC layout), the content probe
    * semi-joins B against A's DISTINCT fp set, co-partitioned by fp;
    * at 100 TB the fp set is the dedup index a release pipeline already
    * maintains, and a bloom pre-filter (q91's machinery) cuts the probe
    * traffic before the shuffle. Statuses partition B by construction.
    */
  def q115(spark: SparkSession, dir: String): DataFrame = {
    val a = ReleaseOps.snapshotA(spark, dir)
    val b = ReleaseOps.snapshotB(spark, dir)
    val withSame = b.join(a, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp_b"),
        (col("fp_a").isNotNull && col("fp_a") === col("fp_b")).as("same_id"))
    val aFps = a.select(col("fp_a").as("fp_b")).distinct()
      .withColumn("in_a", lit(true))
    withSame.join(aFps, Seq("fp_b"), "left")
      .select(col("doc_id"),
        when(col("same_id"), "dup_same_id")
          .when(col("in_a").isNotNull, "dup_other_id")
          .otherwise("novel").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("status"))
  }

  val q115Oracle: String = {
    val fpA = CrossHash.h60Sql("text")
    val fpB = CrossHash.h60Sql(
      "CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END")
    val fpNew = CrossHash.h60Sql("'new:' || text")
    s"""WITH a AS (
       |  SELECT doc_id, $fpA AS fp_a FROM documents),
       |b AS (
       |  SELECT doc_id, $fpB AS fp_b FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, $fpNew AS fp_b
       |  FROM documents WHERE doc_id % 17 = 0),
       |cls AS (
       |  SELECT b.doc_id,
       |         CASE WHEN EXISTS (SELECT 1 FROM a
       |                           WHERE a.doc_id = b.doc_id
       |                             AND a.fp_a = b.fp_b) THEN 'dup_same_id'
       |              WHEN EXISTS (SELECT 1 FROM a
       |                           WHERE a.fp_a = b.fp_b) THEN 'dup_other_id'
       |              ELSE 'novel' END AS status
       |  FROM b)
       |SELECT status, count(*) AS n_docs,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM cls GROUP BY status ORDER BY status""".stripMargin
  }

  // ---------------------------------------------------------------- q116

  /** Vocabulary size for the OOV audit. */
  val VocabSize = 400

  /** Tokenizer vocabulary-coverage audit: build the top-[[VocabSize]]
    * corpus vocabulary by TOKEN frequency (tie-break: term ascending —
    * a total integer+string order, so both engines elect the identical
    * vocabulary), then report per-lang token totals, out-of-vocabulary
    * token counts, and the integer OOV per-mille — the go/no-go number
    * for shipping a fixed-vocab tokenizer against a corpus.
    *
    * Scale shape: two corpus passes, both narrow — pass 1 explodes
    * tokens into one (term, count) partial+final aggregate and takes
    * the vocabulary as a literal top-k (TakeOrderedAndProject over the
    * TERM domain, never the token stream); pass 2 re-explodes and
    * joins the VocabSize-row vocabulary back BROADCAST, aggregating on
    * the (lang) domain. Re-reading beats materializing the token
    * stream: no shuffle ever carries token-level rows except the
    * (term, count) partial agg.
    */
  def q116(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("lang"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term"))
      .limit(VocabSize)
      .select(col("term"))
    toks.join(broadcast(vocab.withColumn("in_vocab", lit(true))),
        Seq("term"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        expr("1000 * n_oov div n_tokens").as("oov_permille"))
      .orderBy(col("lang"))
  }

  val q116Oracle: String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(list_filter(string_split(text, ' '),
       |                                  t -> t <> '')) AS term
       |  FROM documents),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, count(*) AS freq FROM toks GROUP BY term)
       |  ORDER BY freq DESC, term LIMIT $VocabSize)
       |SELECT lang, count(*) AS n_tokens,
       |       count(CASE WHEN v.term IS NULL THEN 1 END) AS n_oov,
       |       CAST(1000 * count(CASE WHEN v.term IS NULL THEN 1 END)
       |            // count(*) AS BIGINT) AS oov_permille
       |FROM toks t LEFT JOIN vocab v USING (term)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q117

  /** Drift histogram bin width (chars) and bin count (last bin open). */
  val DriftBinWidth = 200
  val DriftBins = 20

  /** The drift histogram bin of a length column. Divide-then-truncate
    * equals DuckDB's `//` here: lengths are non-negative and far below
    * 2^53, so the correctly-rounded double quotient can never cross an
    * integer boundary (bin gap 1/200 >> 1 ulp) and the long cast is
    * the exact floor. Shared with the streaming monitor
    * ([[graft.streaming.StreamingDriftMonitor]]) so both paths bin
    * identically.
    */
  def driftBin(len: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(len.cast("long").divide(lit(DriftBinWidth)).cast("long"),
      lit(DriftBins - 1L))

  /** Snapshot length-distribution drift — the release monitor that
    * catches "the new crawl is full of stubs / boilerplate" before
    * training does: document LENGTH histograms of snapshot A vs the
    * derived release B over [[DriftBins]] fixed [[DriftBinWidth]]-char
    * bins (last bin open), per-bin integer per-mille shares, and the
    * per-bin absolute share drift. The total variation distance is
    * sum(drift)/2 — the spec pins that identity; the per-bin rows are
    * the actionable output (WHICH length band moved).
    *
    * B's lengths come from [[ReleaseOps.snapshotBDocs]] — the single
    * copy of the release derivation — as narrow length projections of
    * the one corpus scan.
    *
    * Scale shape: one union of two narrow (length → bin) projections,
    * one aggregate on the 20-bin domain; side totals via windows OVER
    * THE AGGREGATE (40 rows — the q114 rule: never a second corpus
    * pass for a number derivable from the tiny frame).
    */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
    def binOf(len: org.apache.spark.sql.Column) = driftBin(len)
    val a = base.select(binOf(length(col("text"))).as("bin"),
      lit("a").as("side"))
    val b = ReleaseOps.snapshotBDocs(spark, dir)
      .select(binOf(length(col("text"))).as("bin"), lit("b").as("side"))
    a.unionAll(b)
      .groupBy(col("bin"))
      .agg(count(when(col("side") === "a", 1)).as("n_a"),
        count(when(col("side") === "b", 1)).as("n_b"))
      .withColumn("tot_a", sum(col("n_a")).over(Window.partitionBy()))
      .withColumn("tot_b", sum(col("n_b")).over(Window.partitionBy()))
      .select(col("bin"), col("n_a"), col("n_b"),
        expr("1000 * n_a div tot_a").as("share_a_permille"),
        expr("1000 * n_b div tot_b").as("share_b_permille"),
        abs(expr("1000 * n_a div tot_a") - expr("1000 * n_b div tot_b"))
          .as("drift_permille"))
      .orderBy(col("bin"))
  }

  val q117Oracle: String =
    s"""WITH a AS (
       |  SELECT least(length(text) // $DriftBinWidth, ${DriftBins - 1}) AS bin
       |  FROM documents),
       |b AS (
       |  SELECT least(len // $DriftBinWidth, ${DriftBins - 1}) AS bin FROM (
       |    SELECT CASE WHEN doc_id % 7 = 0 THEN length(text) + 3
       |                ELSE length(text) END AS len
       |    FROM documents WHERE doc_id % 13 <> 0
       |    UNION ALL
       |    SELECT length(text) + 4 AS len
       |    FROM documents WHERE doc_id % 17 = 0)),
       |binned AS (
       |  SELECT bin, count(CASE WHEN side = 'a' THEN 1 END) AS n_a,
       |         count(CASE WHEN side = 'b' THEN 1 END) AS n_b
       |  FROM (SELECT bin, 'a' AS side FROM a
       |        UNION ALL SELECT bin, 'b' AS side FROM b)
       |  GROUP BY bin),
       |tot AS (
       |  SELECT bin, n_a, n_b,
       |         sum(n_a) OVER () AS tot_a, sum(n_b) OVER () AS tot_b
       |  FROM binned)
       |SELECT CAST(bin AS BIGINT) AS bin, n_a, n_b,
       |       CAST(1000 * n_a // tot_a AS BIGINT) AS share_a_permille,
       |       CAST(1000 * n_b // tot_b AS BIGINT) AS share_b_permille,
       |       CAST(abs(1000 * n_a // tot_a - 1000 * n_b // tot_b) AS BIGINT)
       |         AS drift_permille
       |FROM tot ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q118

  /** Corpus content overlap between releases — the set-level companion
    * to q115's per-doc classification: per lang, the EXACT Jaccard of
    * the two snapshots' distinct content-fingerprint sets (how much of
    * the corpus actually turned over, by content, regardless of ids).
    *
    * Scale shape: each side is scan → (lang, fp) distinct (one
    * aggregate); the overlap is ONE full-outer join co-partitioned on
    * (lang, fp) with presence flags folded into a (lang)-domain
    * aggregate. The integer Jaccard (per-mille, floor) keeps the
    * cross-engine contract exact; |A∪B| = n_a + n_b − n_inter is
    * computed from the same counts, never a second pass.
    */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
    val a = base.select(col("lang"),
      graft.functions.CrossHash.h60(col("text")).as("fp")).distinct()
      .withColumn("in_a", lit(1L))
    val b = ReleaseOps.snapshotBDocs(spark, dir)
      .select(col("lang"), graft.functions.CrossHash.h60(col("text")).as("fp"))
      .distinct()
      .withColumn("in_b", lit(1L))
    a.join(b, Seq("lang", "fp"), "full_outer")
      .groupBy(col("lang"))
      .agg(sum(coalesce(col("in_a"), lit(0L))).as("n_a"),
        sum(coalesce(col("in_b"), lit(0L))).as("n_b"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_inter"))
      .select(col("lang"), col("n_a"), col("n_b"), col("n_inter"),
        expr("1000 * n_inter div (n_a + n_b - n_inter)")
          .as("jaccard_permille"))
      .orderBy(col("lang"))
  }

  val q118Oracle: String = {
    val fpA = CrossHash.h60Sql("text")
    val fpB = CrossHash.h60Sql(
      "CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END")
    val fpNew = CrossHash.h60Sql("'new:' || text")
    s"""WITH a AS (
       |  SELECT DISTINCT lang, $fpA AS fp FROM documents),
       |b AS (
       |  SELECT DISTINCT lang, fp FROM (
       |    SELECT lang, $fpB AS fp FROM documents WHERE doc_id % 13 <> 0
       |    UNION ALL
       |    SELECT lang, $fpNew AS fp FROM documents WHERE doc_id % 17 = 0)),
       |j AS (
       |  SELECT coalesce(a.lang, b.lang) AS lang,
       |         CASE WHEN a.fp IS NOT NULL THEN 1 ELSE 0 END AS in_a,
       |         CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END AS in_b
       |  FROM a FULL OUTER JOIN b ON a.lang = b.lang AND a.fp = b.fp)
       |SELECT lang, CAST(sum(in_a) AS BIGINT) AS n_a,
       |       CAST(sum(in_b) AS BIGINT) AS n_b,
       |       CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
       |       CAST(1000 * sum(in_a * in_b)
       |            // (sum(in_a) + sum(in_b) - sum(in_a * in_b)) AS BIGINT)
       |         AS jaccard_permille
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q119

  /** Fixed quantization scale for the drift metric (q94's floor(x·10⁴)
    * discipline — a FIXED scale, unlike q50's per-vector one, so the
    * two releases' values are directly comparable).
    */
  val EmbQScale = 10000L

  /** Embedding-space drift between releases — the q117 companion for
    * the VECTOR side of a corpus: when the embedding model is updated
    * or re-run, per-label centroid shift tells release QA whether the
    * space moved uniformly or one label's region deformed. Release B
    * is deterministically derived: vec_id % 11 == 0 vectors are
    * deprecated (dropped), vec_id % 9 == 0 vectors are "re-embedded"
    * (quantized value at dimension vec_id % 64 shifts by +0.25·scale).
    *
    * All arithmetic is exact int64: elements quantize to
    * floor(x·10⁴) at the scan, per-(label, dim) means are truncated
    * quotients (Spark `div` ≡ DuckDB `//` — BOTH truncate toward zero,
    * verified, so negative sums agree), and the drift is the exact
    * integer squared-L2 between mean vectors. |mean| ≤ 10⁴-ish ⇒ the
    * 64-term squared sum stays far inside 2⁶³.
    *
    * Scale shape: posexplode → one (label, dim) aggregate per side
    * (the union folds both into ONE aggregate pass over ~2·n·64 narrow
    * rows); the final drift aggregate runs on the (label × 64) domain.
    * No joins at all — label/dim alignment happens in the groupBy.
    */
  def q119(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr(s"transform(embedding, e -> cast(floor(cast(e as double) * $EmbQScale) as bigint))")
          .as("q"))
    val aSide = base.select(col("label"), lit("a").as("side"),
      posexplode(col("q")).as(Seq("dim", "x")))
    val bSide = base.filter(col("vec_id") % 11 =!= 0)
      .select(col("label"), lit("b").as("side"), col("vec_id"),
        posexplode(col("q")).as(Seq("dim", "x")))
      .select(col("label"), col("side"), col("dim"),
        when(col("vec_id") % 9 === 0 && col("dim") === col("vec_id") % 64,
          col("x") + EmbQScale / 4).otherwise(col("x")).as("x"))
    aSide.unionAll(bSide)
      .groupBy(col("label"), col("dim"))
      .agg(sum(when(col("side") === "a", col("x"))).as("s_a"),
        count(when(col("side") === "a", 1)).as("n_a"),
        sum(when(col("side") === "b", col("x"))).as("s_b"),
        count(when(col("side") === "b", 1)).as("n_b"))
      // a label whose every vector is %11-deprecated has no B centroid:
      // n_b = 0 would throw under ANSI `div` on the Spark side while
      // the oracle's `// 0` yields NULL — drop such labels from the
      // report on BOTH sides (drift is undefined without a B centroid)
      .filter(col("n_b") > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        expr("s_a div n_a").as("m_a"), expr("s_b div n_b").as("m_b"))
      .groupBy(col("label"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum((col("m_a") - col("m_b")) * (col("m_a") - col("m_b")))
          .as("shift_sq"))
      .orderBy(col("label"))
  }

  val q119Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * $EmbQScale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |a AS (
       |  SELECT label, 'a' AS side,
       |         generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS x
       |  FROM q),
       |b AS (
       |  SELECT label, 'b' AS side, dim,
       |         CASE WHEN vec_id % 9 = 0 AND dim = vec_id % 64
       |              THEN x + ${EmbQScale / 4} ELSE x END AS x
       |  FROM (SELECT vec_id, label,
       |               generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS x
       |        FROM q WHERE vec_id % 11 <> 0)),
       |m AS (
       |  SELECT label, dim,
       |         sum(CASE WHEN side = 'a' THEN x END) AS s_a,
       |         count(CASE WHEN side = 'a' THEN 1 END) AS n_a,
       |         sum(CASE WHEN side = 'b' THEN x END) AS s_b,
       |         count(CASE WHEN side = 'b' THEN 1 END) AS n_b
       |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
       |  GROUP BY label, dim),
       |mm AS (
       |  SELECT label, n_a, n_b,
       |         CAST(s_a // n_a AS BIGINT) AS m_a,
       |         CAST(s_b // n_b AS BIGINT) AS m_b
       |  FROM m WHERE n_b > 0)
       |SELECT label, max(n_a) AS n_a, max(n_b) AS n_b,
       |       CAST(sum((m_a - m_b) * (m_a - m_b)) AS BIGINT) AS shift_sq
       |FROM mm GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q120

  /** Train→test leakage scan — the split-hygiene audit that must run
    * before any eval number is trusted: documents assigned to the
    * `test` split by [[splitOf]] whose CONTENT fingerprint also appears
    * in the `train` split (exact cross-split contamination — the
    * near-dup variant composes q21's LSH machinery on top of the same
    * shape). Output per lang: test-set size, leaked count, integer
    * per-mille leakage.
    *
    * Scale shape: one corpus scan → (split, lang, fp) projection; the
    * leak check is a semi-join of the test slice against the DISTINCT
    * train-fp set, co-partitioned on fp (bloom-prefilterable, q91);
    * the report aggregates on the lang domain. Duplicate test docs
    * count individually (each leaked doc is a contaminated eval row).
    */
  /** Memoized (doc_id, lang, fp, split) assignment frame per (session,
    * dir) — q120 and q162 (and their per-iteration bench reruns) share
    * ONE evaluation of the full-text content hash + split assignment
    * instead of recomputing the corpus projection each time; the same
    * memo discipline as the PQ codebooks and [[Dedup.candidatePairs]].
    */
  private[queries] def assignedFps(
      spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "ReleaseOps.assignedFps")(
      table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          CrossHash.h60(col("text")).as("fp"),
          splitOf(col("doc_id")).as("split"))
        .localCheckpoint())

  /** Memoized DISTINCT train-split fingerprint set (the semi-join build
    * side of q120/q162).
    */
  private[queries] def trainFpSet(
      spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "ReleaseOps.trainFpSet")(
      assignedFps(spark, dir).filter(col("split") === "train")
        .select(col("fp")).distinct().localCheckpoint())

  def q120(spark: SparkSession, dir: String): DataFrame = {
    val assigned = assignedFps(spark, dir)
    val trainFps = trainFpSet(spark, dir).withColumn("leaked", lit(true))
    assigned.filter(col("split") === "test")
      .join(trainFps, Seq("fp"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_test"),
        count(when(col("leaked"), 1)).as("n_leaked"))
      .select(col("lang"), col("n_test"), col("n_leaked"),
        expr("1000 * n_leaked div n_test").as("leak_permille"))
      .orderBy(col("lang"))
  }

  val q120Oracle: String = {
    val h = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    val fp = CrossHash.h60Sql("text")
    s"""WITH assigned AS (
       |  SELECT doc_id, lang, $fp AS fp,
       |         CASE WHEN $h % 1000 < $SplitTrainUpto THEN 'train'
       |              WHEN $h % 1000 < $SplitValUpto THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents),
       |train_fps AS (
       |  SELECT DISTINCT fp FROM assigned WHERE split = 'train')
       |SELECT a.lang, count(*) AS n_test,
       |       count(CASE WHEN t.fp IS NOT NULL THEN 1 END) AS n_leaked,
       |       CAST(1000 * count(CASE WHEN t.fp IS NOT NULL THEN 1 END)
       |            // count(*) AS BIGINT) AS leak_permille
       |FROM assigned a LEFT JOIN train_fps t ON a.fp = t.fp
       |WHERE a.split = 'test'
       |GROUP BY a.lang ORDER BY a.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q121

  /** Shingle novelty of a release — the finest-grained turnover metric
    * in the release trio: q118 measures whole-document content churn,
    * q117 distribution shape; this measures how much genuinely NEW
    * TEXT the release adds, as the fraction of the derived release's
    * per-doc-distinct 5-token shingles whose 60-bit hash never occurs
    * anywhere in the shipped corpus. Low novelty on a "big" release is
    * the classic re-crawl-of-the-same-web signal.
    *
    * Scale shape: q89's contamination machinery re-pointed — shingles
    * are hashed by the native fused WordShingles60 BEFORE any shuffle
    * (8-byte keys, never shingle strings), the corpus side collapses
    * to a distinct-hash set (map-side combine), and the novelty check
    * is one left join on the hash, both sides co-partitioned; at
    * 100 TB the corpus shingle set seeds a bloom prefilter exactly as
    * q89 documents. Report aggregates on the lang domain.
    */
  def q121(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
    def shingles(df: DataFrame, extra: Seq[String]): DataFrame =
      df.withColumn("toks",
          expr("filter(split(text, ' '), t -> t <> '')"))
        .filter(size(col("toks")) >= 5)
        .select((col("doc_id") +: extra.map(col)) :+ explode(array_distinct(
          graft.functions.WordShingles60.wordShingles60(col("toks"), 5)))
          .as("h"): _*)
    val aSet = shingles(base, Seq.empty).select(col("h")).distinct()
      .withColumn("seen", lit(true))
    shingles(ReleaseOps.snapshotBDocs(spark, dir), Seq("lang"))
      .join(aSet, Seq("h"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("seen").isNull, 1)).as("n_novel"))
      .select(col("lang"), col("n_shingles"), col("n_novel"),
        expr("1000 * n_novel div n_shingles").as("novelty_permille"))
      .orderBy(col("lang"))
  }

  val q121Oracle: String = {
    val h = CrossHash.h60Sql("shingle")
    s"""WITH bdocs AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, lang, 'new:' || text AS text
       |  FROM documents WHERE doc_id % 17 = 0),
       |atoks AS (
       |  SELECT doc_id, tok, pos FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) t WHERE tok <> ''),
       |ash AS (
       |  SELECT DISTINCT shingle FROM (
       |    SELECT tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
       |           || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS shingle
       |    FROM atoks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
       |  WHERE shingle IS NOT NULL),
       |aset AS (SELECT DISTINCT $h AS h FROM ash),
       |btoks AS (
       |  SELECT doc_id, lang, tok, pos FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM bdocs) t WHERE tok <> ''),
       |bsh AS (
       |  SELECT DISTINCT doc_id, lang, shingle FROM (
       |    SELECT doc_id, lang,
       |           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
       |           || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS shingle
       |    FROM btoks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
       |  WHERE shingle IS NOT NULL),
       |bhs AS (SELECT doc_id, lang, $h AS h FROM bsh)
       |SELECT lang, count(*) AS n_shingles,
       |       count(CASE WHEN a.h IS NULL THEN 1 END) AS n_novel,
       |       CAST(1000 * count(CASE WHEN a.h IS NULL THEN 1 END)
       |            // count(*) AS BIGINT) AS novelty_permille
       |FROM bhs LEFT JOIN aset a USING (h)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q162

  /** q162: q120's split-leakage scan with the documented
    * "bloom-prefilterable at scale" claim made REAL — the test side is
    * prefiltered through Spark's own Catalyst bloom machinery
    * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * builds the sketch over the distinct train fingerprints,
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * probes it as a codegen'd literal-bound predicate), and only
    * might-contain survivors reach the exact semi-join. A bloom "no" is
    * definitive, so the final counts are bit-identical to q120's exact
    * scan — the oracle IS q120's — while the exchange feeding the join
    * shrinks by the bloom's rejection rate (at 100 TB, the overwhelming
    * majority of test docs are not leaked, so the shuffle carries only
    * the rare candidates + false positives).
    *
    * Driver traffic: ONE bloom sketch (1 MiB at the default 8M bits) —
    * bounded coordination state like the KMeans/PQ codebooks, not
    * data-sized. At cluster scale the same sketch ships once per
    * executor as a literal inside the codegen'd predicate.
    */
  /** Memoized train-fp bloom sketch bytes per (session, dir) — built
    * once over [[trainFpSet]] and reused across reruns (1 MiB of
    * bounded coordination state, like a codebook).
    */
  private def trainFpBloom(spark: SparkSession, dir: String): Array[Byte] =
    Artifacts.get(spark, dir, "ReleaseOps.trainFpBloom") {
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.ColumnBridge
      trainFpSet(spark, dir)
        .select(ColumnBridge.column(new BloomFilterAggregate(
            ColumnBridge.expression(xxhash64(col("fp"))))
          .toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]](0)
    }

  def q162(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    val assigned = assignedFps(spark, dir)
    val trainFps = trainFpSet(spark, dir)
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal.create(trainFpBloom(spark, dir), BinaryType),
      ColumnBridge.expression(xxhash64(col("fp")))))

    val test = assigned.filter(col("split") === "test")
    val leaked = test.filter(mightContain)
      .join(trainFps, Seq("fp"), "left_semi")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_leaked"))
    test.groupBy(col("lang")).agg(count(lit(1)).as("n_test"))
      .join(leaked, Seq("lang"), "left")
      .select(col("lang"), col("n_test"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        expr("1000 * coalesce(n_leaked, 0) div n_test").as("leak_permille"))
      .orderBy(col("lang"))
  }

  /** The bloom prefilter cannot change results (a bloom "no" is exact,
    * and survivors are re-verified by the semi-join), so q162's oracle
    * is q120's leakage query verbatim.
    */
  val q162Oracle: String = q120Oracle

  // ---------------------------------------------------------------- q128

  /** Outliers reported by q128. */
  val OutlierTop = 25

  /** Centroid-distance OUTLIER detection — the curation twin of q119's
    * drift monitor: instead of comparing two releases' centroids, each
    * vector is scored by its exact int64 squared-L2 distance to its own
    * label's centroid, and the farthest vectors are the mislabeled /
    * noisy-sample candidates an embedding-quality pass would prune.
    *
    * Same arithmetic discipline as q119: floor(x·10⁴) quantization,
    * truncated-quotient centroid means (Spark `div` ≡ DuckDB `//`),
    * integer differences squared — bit-identical cross-engine, no float
    * anywhere. Headroom: |x| ≤ 2·10⁴ ⇒ diff² ≤ 1.6·10⁹, × 64 dims ≈
    * 10¹¹ ≪ 2⁶³.
    *
    * Scale shape: one (label, dim) aggregate builds the centroid table
    * (labels × dims rows — tiny), which broadcasts back to the exploded
    * vector dims; the per-vector distance folds in the same shuffle-free
    * pass; top-k is TakeOrderedAndProject.
    */
  def q128(spark: SparkSession, dir: String): DataFrame = {
    val dims = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(expr(s"transform(embedding, e -> " +
          s"cast(floor(cast(e as double) * $EmbQScale) as bigint))"))
          .as(Seq("dim", "x")))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), expr("s div n").as("m"))
    dims.join(broadcast(cent), Seq("label", "dim"))
      .select(col("vec_id"), col("label"),
        ((col("x") - col("m")) * (col("x") - col("m"))).as("d2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("d2")).as("dist_sq"))
      .orderBy(col("dist_sq").desc, col("vec_id"))
      .limit(OutlierTop)
  }

  val q128Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * $EmbQScale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |dims AS (
       |  SELECT vec_id, label,
       |         generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS x
       |  FROM q),
       |cent AS (
       |  SELECT label, dim, CAST(sum(x) // count(*) AS BIGINT) AS m
       |  FROM dims GROUP BY label, dim)
       |SELECT d.vec_id, d.label,
       |       CAST(sum((d.x - c.m) * (d.x - c.m)) AS BIGINT) AS dist_sq
       |FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
       |GROUP BY d.vec_id, d.label
       |ORDER BY dist_sq DESC, d.vec_id LIMIT $OutlierTop""".stripMargin

  // ---------------------------------------------------------------- q130

  /** Per-vector embedding CDC between releases — completes the
    * change-data-capture trio (q113 documents, q115 content
    * fingerprints, q130 vectors): release B (q119's derivation — %11 of
    * vectors dropped, %9 perturbed at one dimension) is joined
    * against A on vec_id and every surviving vector gets its EXACT
    * int64 quantized squared-L2 version shift; the per-label report
    * counts dropped / changed / unchanged and the worst shift.
    *
    * Scale shape: the dim-level shift aggregates on (vec_id) straight
    * out of the (vec_id, dim) join — both sides co-partition on the
    * 8-byte vec_id, the CDC join shape of q113; the vec-level LEFT
    * join then only carries (vec_id, label, dist_sq). At a real 100 TB
    * release pair, B is an independent table and the plan is unchanged.
    */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    def dims(df: DataFrame) = df.select(col("vec_id"), col("label"),
      posexplode(expr(s"transform(embedding, e -> " +
        s"cast(floor(cast(e as double) * $EmbQScale) as bigint))"))
        .as(Seq("dim", "x")))
    val a = dims(table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding")))
    val b = a.filter(col("vec_id") % 11 =!= 0)
      .select(col("vec_id"), col("dim"),
        when(col("vec_id") % 9 === 0 && col("dim") === col("vec_id") % 64,
          col("x") + EmbQScale / 4).otherwise(col("x")).as("xb"))
    val shifts = a
      .join(b, Seq("vec_id", "dim"), "left")
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("xb").isNull.cast("int")).as("dropped"),
        sum(when(col("xb").isNotNull,
          (col("xb") - col("x")) * (col("xb") - col("x")))).as("dist_sq"))
    shifts.groupBy(col("label"))
      .agg(count(lit(1)).as("n_a"),
        count(when(col("dropped") === 0, 1)).as("n_b"),
        count(when(col("dropped") === 1, 1)).as("n_dropped"),
        count(when(col("dropped") === 0 && col("dist_sq") > 0, 1))
          .as("n_changed"),
        count(when(col("dropped") === 0 && col("dist_sq") === 0, 1))
          .as("n_unchanged"),
        max(when(col("dropped") === 0, col("dist_sq"))).as("max_dist_sq"))
      .orderBy(col("label"))
  }

  val q130Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * $EmbQScale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |a AS (
       |  SELECT vec_id, label,
       |         generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS x
       |  FROM q),
       |b AS (
       |  SELECT vec_id, dim,
       |         CASE WHEN vec_id % 9 = 0 AND dim = vec_id % 64
       |              THEN x + ${EmbQScale / 4} ELSE x END AS xb
       |  FROM a WHERE vec_id % 11 <> 0),
       |shifts AS (
       |  SELECT a.vec_id, a.label,
       |         max(CASE WHEN b.xb IS NULL THEN 1 ELSE 0 END) AS dropped,
       |         sum(CASE WHEN b.xb IS NOT NULL
       |                  THEN (b.xb - a.x) * (b.xb - a.x) END) AS dist_sq
       |  FROM a LEFT JOIN b ON b.vec_id = a.vec_id AND b.dim = a.dim
       |  GROUP BY a.vec_id, a.label)
       |SELECT label,
       |       count(*) AS n_a,
       |       count(CASE WHEN dropped = 0 THEN 1 END) AS n_b,
       |       count(CASE WHEN dropped = 1 THEN 1 END) AS n_dropped,
       |       count(CASE WHEN dropped = 0 AND dist_sq > 0 THEN 1 END)
       |         AS n_changed,
       |       count(CASE WHEN dropped = 0 AND dist_sq = 0 THEN 1 END)
       |         AS n_unchanged,
       |       CAST(max(CASE WHEN dropped = 0 THEN dist_sq END) AS BIGINT)
       |         AS max_dist_sq
       |FROM shifts GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q113

  /** Corpus snapshot diff — the CDC audit every dataset release runs:
    * compare snapshot A (the documents table) against snapshot B (a
    * deterministically derived next release: docs with id % 13 == 0
    * deleted, id % 7 == 0 re-edited, and a batch of new ids appended)
    * by content fingerprint, and report per-status row counts. The
    * fingerprint is the 60-bit content hash, so "changed" means the
    * TEXT changed, not that a row moved or was rewritten in place —
    * the property that makes the diff storage-layout-independent.
    *
    * Scale shape: both sides are narrow scan→project (id, fp); the
    * diff is ONE full-outer join co-partitioned on doc_id (the CDC
    * shape — at 100 TB both snapshots bucket by id and the join is
    * storage-partitioned with no extra shuffle); the report is a
    * partial+final aggregate on a 4-value status domain.
    */
  /** Snapshot A's fingerprint index: (doc_id, fp_a). Shared with the
    * streaming twin ([[graft.streaming.SnapshotDiffStream]]) so both
    * diffs compare the exact same derivation.
    */
  def snapshotA(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), CrossHash.h60(col("text")).as("fp_a"))

  /** The deterministically derived next release as full document rows
    * (doc_id, lang, text) — THE single copy of the derivation rule
    * (%13 delete, %7 ' v2' re-edit, %17 'new:' re-add under a negated
    * id). Every consumer projects from here: [[snapshotB]] (fps, q113/
    * q115), q117 (lengths), q118 (lang+fp), q121 (lang+text) — so the
    * rule can never fork across the release-hygiene family.
    *
    * New ids are negated (-(id)-1) so they can NEVER collide with a
    * real doc_id (ids are non-negative at every scale — an additive
    * offset would collide once the corpus id span exceeds it).
    */
  def snapshotBDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
    base
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(base.filter(col("doc_id") % 17 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), col("lang"),
          concat(lit("new:"), col("text")).as("text")))
  }

  /** Snapshot B's fingerprint index: (doc_id, fp_b). Shared with the
    * streaming twin.
    */
  def snapshotB(spark: SparkSession, dir: String): DataFrame =
    snapshotBDocs(spark, dir)
      .select(col("doc_id"), CrossHash.h60(col("text")).as("fp_b"))

  def q113(spark: SparkSession, dir: String): DataFrame = {
    val a = snapshotA(spark, dir)
    val b = snapshotB(spark, dir)
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("status"))
  }

  val q113Oracle: String = {
    val fpA = graft.functions.CrossHash.h60Sql("text")
    val fpB = graft.functions.CrossHash.h60Sql(
      "CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END")
    val fpNew = graft.functions.CrossHash.h60Sql("'new:' || text")
    s"""WITH a AS (
       |  SELECT doc_id, $fpA AS fp_a FROM documents),
       |b AS (
       |  SELECT doc_id, $fpB AS fp_b FROM documents WHERE doc_id % 13 <> 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, $fpNew AS fp_b
       |  FROM documents WHERE doc_id % 17 = 0),
       |d AS (
       |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       |         CASE WHEN a.fp_a IS NULL THEN 'added'
       |              WHEN b.fp_b IS NULL THEN 'removed'
       |              WHEN a.fp_a <> b.fp_b THEN 'changed'
       |              ELSE 'unchanged' END AS status
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT status, count(*) AS n_docs,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM d GROUP BY status ORDER BY status""".stripMargin
  }

  // ---------------------------------------------------------------- q236

  /** q236: lang×split CHI-SQUARE independence audit — is the q114
    * hash split independent of language, or did the salt accidentally
    * correlate with a stratum? q114 reports the shares; this query
    * reports the TEST: per-cell observed count, expected count (margin
    * product, exact integer milli), and the cell's X² contribution
    * (n·o − rt·ct)² / (n·rt·ct). The per-cell terms are emitted as RAW
    * doubles computed by the identical single-IEEE-op chain on
    * int64-exact inputs (bit-identical cross-engine; a cross-cell sum
    * would instead pin a float summation ORDER neither engine
    * guarantees — the spec does the summing and the df-based
    * significance call). Int64 budget: n·o and rt·ct exact while
    * n < 3·10⁹ docs; 1000·rt·ct needs n < 9.6·10⁷ (the q231
    * documentation discipline — permille-quantize margins beyond).
    *
    * Scale shape: one corpus scan into the ≤ |langs|×3 cell frame
    * (q114's aggregate); margins are windows OVER that tiny frame
    * (never a corpus re-scan — the q114 lesson); the test itself costs
    * nothing at any corpus size.
    */
  def q236(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "documents")
      .select(col("lang"), ReleaseOps.splitOf(col("doc_id")).as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("lang"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("split"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .select(col("lang"), col("split"), col("o"),
        expr("(1000 * rt * ct) div n").as("exp_milli"),
        expr("(cast(n * o - rt * ct as double) * cast(n * o - rt * ct as double))" +
          " / (cast(n as double) * cast(rt as double) * cast(ct as double))")
          .as("contrib"))
      .orderBy(col("lang"), col("split"))
  }

  val q236Oracle: String = {
    val h = graft.functions.CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH assigned AS (
       |  SELECT lang,
       |         CASE WHEN $h % 1000 < ${ReleaseOps.SplitTrainUpto} THEN 'train'
       |              WHEN $h % 1000 < ${ReleaseOps.SplitValUpto} THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents),
       |cells AS (
       |  SELECT lang, split, count(*) AS o
       |  FROM assigned GROUP BY lang, split),
       |m AS (
       |  SELECT lang, split, o,
       |         CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS rt,
       |         CAST(sum(o) OVER (PARTITION BY split) AS BIGINT) AS ct,
       |         CAST(sum(o) OVER () AS BIGINT) AS n
       |  FROM cells)
       |SELECT lang, split, o,
       |       (1000 * rt * ct) // n AS exp_milli,
       |       (CAST(n * o - rt * ct AS DOUBLE) * CAST(n * o - rt * ct AS DOUBLE))
       |         / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
       |         AS contrib
       |FROM m ORDER BY lang, split""".stripMargin
  }

  // ---------------------------------------------------------------- q166

  /** Decontamination n-gram width (the GPT-3/PaLM 13-gram standard) and
    * the flag threshold: a test doc is contaminated when more than
    * [[DecontamMax]]‰ of its DISTINCT 13-grams appear anywhere in the
    * train split.
    */
  val DecontamN = 13
  val DecontamMax = 500L

  /** q166: eval-set decontamination by partial n-gram overlap — the
    * standard published decontamination rule (13-gram collision against
    * the train set), which catches PARTIAL containment that q120/q162's
    * whole-document fingerprints cannot: a test doc quoting half a
    * train doc fingerprints differently but floods 13-gram overlap.
    *
    * Per test doc (≥ 13 tokens): overlap_permille = 1000·|G(d) ∩ T|
    * DIV |G(d)| over the doc's distinct gram set, T = the train
    * split's distinct gram-hash set. Rolled up per language.
    *
    * Scale shape: grams travel as 60-bit integer hashes from the
    * moment they leave the row ([[CrossHash.h60]] — 8-byte shuffle
    * keys, the q121 discipline); the train set is distinct-reduced
    * before the join and the test side joins left to count matches —
    * both exchanges carry gram hashes, never text. At 100 TB the train
    * gram set is the big side; the join is shuffle-on-8-byte-key with
    * AQE skew handling, and a bloom prefilter (q162's device) slots in
    * front unchanged if the test side needs thinning first.
    */
  /** DISTINCT n-gram 60-bit hashes of each doc's `text`, one output row
    * per (keep-columns, gh). THE single gram construction — q166 and
    * [[graft.streaming.StreamingDecontam]] both route through it so the
    * batch scan and the streaming probe can never disagree on what a
    * gram is. Docs shorter than `n` tokens produce no rows.
    */
  private[graft] def explodedGramHashes(docs: DataFrame, n: Int,
      keep: Seq[String]): DataFrame = {
    import graft.functions.CrossHash
    docs
      .select(keep.map(col) :+
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"): _*)
      .withColumn("dl", size(col("toks")).cast("long"))
      .filter(col("dl") >= n)
      .select(keep.map(col) :+
        explode(expr(s"array_distinct(transform(sequence(1, dl - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(toks, CAST(i AS INT), $n))))"))
          .as("gram"): _*)
      .select(keep.map(col) :+ CrossHash.h60(col("gram")).as("gh"): _*)
  }

  /** Memoized DISTINCT train-split 13-gram hash set per (session, dir)
    * — the expensive side of q166 (full-corpus tokenize + gram explode
    * + distinct), shared across bench reruns like
    * [[ReleaseOps.trainFpSet]]. The set is gram-hash-only (8-byte
    * rows), so the checkpoint is small relative to the corpus.
    */
  private[queries] def trainGramSet(
      spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "ReleaseOps.trainGramSet")(
      explodedGramHashes(
        table(spark, dir, "documents")
          .select(col("doc_id"),
            ReleaseOps.splitOf(col("doc_id")).as("split"), col("text"))
          .filter(col("split") === "train"),
        DecontamN, Seq("doc_id"))
        .select(col("gh")).distinct().localCheckpoint())

  def q166(spark: SparkSession, dir: String): DataFrame = {
    val docs = explodedGramHashes(
      table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          ReleaseOps.splitOf(col("doc_id")).as("split"), col("text")),
      DecontamN, Seq("doc_id", "lang", "split"))
    val trainGrams = trainGramSet(spark, dir).withColumn("hit", lit(true))
    docs.filter(col("split") === "test")
      .join(trainGrams, Seq("gh"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("hit"), 1)).as("n_hit"))
      .select(col("doc_id"), col("lang"),
        expr("1000 * n_hit DIV n_grams").as("overlap_permille"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("overlap_permille") > DecontamMax, 1L).otherwise(0L))
          .as("n_contaminated"),
        max(col("overlap_permille")).as("max_overlap_permille"))
      .orderBy(col("lang"))
  }

  val q166Oracle: String = {
    import graft.functions.CrossHash
    val h = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN $h % 1000 < ${ReleaseOps.SplitTrainUpto} THEN 'train'
       |              WHEN $h % 1000 < ${ReleaseOps.SplitValUpto} THEN 'val'
       |              ELSE 'test' END AS split,
       |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, split,
       |         unnest(list_distinct(list_transform(
       |           range(1, len(toks) - ${DecontamN - 2}),
       |           i -> array_to_string(toks[i:i + ${DecontamN - 1}], ' ')))) AS gram
       |  FROM d WHERE len(toks) >= $DecontamN),
       |gh AS (SELECT doc_id, lang, split, ${CrossHash.h60Sql("gram")} AS gh FROM g),
       |t AS (SELECT DISTINCT gh FROM gh WHERE split = 'train'),
       |per_doc AS (
       |  SELECT s.doc_id, s.lang,
       |         1000 * count(t.gh) // count(*) AS overlap_permille
       |  FROM gh s LEFT JOIN t ON s.gh = t.gh
       |  WHERE s.split = 'test'
       |  GROUP BY s.doc_id, s.lang)
       |SELECT lang, count(*) AS n_test,
       |       CAST(sum(CASE WHEN overlap_permille > $DecontamMax
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |       CAST(max(overlap_permille) AS BIGINT) AS max_overlap_permille
       |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q89

  /** Train/test contamination check: which held-out docs (doc_id % 10
    * = 7) share at least one 5-word shingle with the training split?
    * The canonical eval-integrity scan before an LLM training run.
    *
    * Scale shape: shingles are hashed to 60 bits BEFORE the join, so
    * the shuffle key is 8 bytes, never the shingle text; the train side
    * is collapsed to distinct hashes (map-side combine) and the inner
    * join on the hash is the semi-join — both sides hash-partitioned on
    * the same key, one shuffle each. A false positive needs a 60-bit
    * collision, and both engines compute the identical hash, so the
    * result is still deterministic cross-engine. At 100 TB the train
    * side's distinct-hash set can also seed a bloom filter pushed into
    * the test-side scan as a prefilter.
    */
  def q89(spark: SparkSession, dir: String): DataFrame = {
    def shingleHashes(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
        .filter(size(col("toks")) >= 5)
        // round 6: shingle construction + hashing fused in the native
        // WordShingles60 (no per-window concat_ws lambda, no shingle
        // strings); array_distinct now dedups the 8-byte hashes
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.WordShingles60.wordShingles60(col("toks"), 5)))
          .as("h"))
    val docs = table(spark, dir, "documents")
    val trainH = shingleHashes(docs.filter(col("doc_id") % 10 =!= 7))
      .select(col("h")).distinct()
    shingleHashes(docs.filter(col("doc_id") % 10 === 7))
      .join(trainH, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val q89Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, tok, pos FROM (
       |    SELECT doc_id,
       |           unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) t
       |  WHERE tok <> ''),
       |sh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
       |               || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS shingle
       |    FROM toks
       |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
       |  WHERE shingle IS NOT NULL),
       |hs AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM sh),
       |train AS (SELECT DISTINCT h FROM hs WHERE doc_id % 10 <> 7),
       |test AS (SELECT doc_id, h FROM hs WHERE doc_id % 10 = 7)
       |SELECT t.doc_id, count(DISTINCT t.h) AS n_shared
       |FROM test t JOIN train tr ON t.h = tr.h
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q114_split_assign" -> (q114 _),
    "q115_incremental_dedup" -> (q115 _),
    "q116_oov_rate" -> (q116 _),
    "q117_snapshot_drift" -> (q117 _),
    "q118_corpus_overlap" -> (q118 _),
    "q119_embedding_drift" -> (q119 _),
    "q120_split_leakage" -> (q120 _),
    "q121_shingle_novelty" -> (q121 _),
    "q128_embedding_outliers" -> (q128 _),
    "q130_embedding_diff" -> (q130 _),
    "q162_bloom_leakage" -> (q162 _),
    "q113_snapshot_diff" -> (q113 _),
    "q236_split_chisq" -> (q236 _),
    "q166_ngram_decontam" -> (q166 _),
    "q89_contamination" -> (q89 _))

  val oracles: Map[String, String] = Map(
    "q114_split_assign" -> q114Oracle,
    "q115_incremental_dedup" -> q115Oracle,
    "q116_oov_rate" -> q116Oracle,
    "q117_snapshot_drift" -> q117Oracle,
    "q118_corpus_overlap" -> q118Oracle,
    "q119_embedding_drift" -> q119Oracle,
    "q120_split_leakage" -> q120Oracle,
    "q121_shingle_novelty" -> q121Oracle,
    "q128_embedding_outliers" -> q128Oracle,
    "q130_embedding_diff" -> q130Oracle,
    "q162_bloom_leakage" -> q162Oracle,
    "q113_snapshot_diff" -> q113Oracle,
    "q236_split_chisq" -> q236Oracle,
    "q166_ngram_decontam" -> q166Oracle,
    "q89_contamination" -> q89Oracle)
}
