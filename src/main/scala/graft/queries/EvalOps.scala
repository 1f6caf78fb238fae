package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table
import graft.functions.{CrossHash, VectorOps}

/** Evaluation-domain operators (absorbs the former round-10 packs
  * #4/#8): semantic decontamination and train-order permutation
  * (q228-q232), ranking/model-evaluation readouts (q243-q247), and
  * evaluation-set engineering / split hygiene —
  * Neyman (variance-optimal) eval allocation (q252) and the
  * contamination BLAST RADIUS through near-dup clusters (q253).
  */
object EvalOps {

  // ---------------------------------------------------------------- q252

  /** Eval budget the allocation distributes (documents). */
  val EvalBudget = 1000L

  /** q252: NEYMAN allocation of an eval budget across language strata —
    * the variance-optimal sampling rule (n_h ∝ N_h·σ_h, Neyman 1934)
    * q108's Hamilton apportionment deliberately ignores: proportional
    * allocation wastes budget on large LOW-VARIANCE strata, while
    * Neyman spends it where the quality score actually varies, shrinking
    * the estimator's variance at the same budget. The weight N_h·σ_h is
    * computed WITHOUT any float variance: N·σ = √(n·Σq² − (Σq)²)
    * exactly, so the weight is isqrt(M_h) of an integer moment held in
    * DECIMAL(38,0)/HUGEINT (int64 would wrap at ~3·10⁶ docs per
    * stratum) — both engines take floor(IEEE √) of the identical
    * integer (exact below 2⁵³; above, still bit-identical
    * cross-engine, within ±1 of true — the q165 isqrt discipline).
    * Output per language: stratum size, the
    * moment root, the Neyman and proportional allocations, and their
    * difference (the shift the variance information buys). Floor
    * remainders are deliberately not redistributed — q108 owns the
    * apportionment-of-remainders problem.
    *
    * Scale shape: one corpus scan into per-lang integer moments
    * (map-side partial); the weight total and both allocations run on
    * the language-domain frame.
    */
  def q252(spark: SparkSession, dir: String): DataFrame = {
    val mom = Dedup.withQualU3(
        table(spark, dir, "documents")
          .withColumn("n_chars", length(col("text")).cast("long")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_u3")).as("s"),
        sum(col("q_u3") * col("q_u3")).as("s2"))
      // the moment n·Σq² − (Σq)² in DECIMAL(38,0): n·s2 would wrap
      // int64 at only ~3·10⁶ docs per stratum (s2 ≤ n·10⁶); 38 digits
      // hold it exactly for any corpus below ~10¹⁶ docs, and both
      // engines (Spark decimal, DuckDB HUGEINT) stay exact before the
      // one cast to double the isqrt reads
      .withColumn("w",
        floor(sqrt((col("n_docs").cast("decimal(38,0)") * col("s2") -
          col("s").cast("decimal(38,0)") * col("s"))
          .cast("double"))).cast("long"))
    val w = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mom
      .withColumn("tot_w", sum(col("w")).over(w))
      .withColumn("tot_n", sum(col("n_docs")).over(w))
      .select(col("lang"), col("n_docs"), col("w"),
        expr(s"($EvalBudget * w) div nullif(tot_w, 0)").as("neyman_docs"),
        expr(s"($EvalBudget * n_docs) div tot_n").as("prop_docs"))
      .withColumn("shift", expr("neyman_docs - prop_docs"))
      .orderBy(col("lang"))
  }

  val q252Oracle: String = {
    val qualSql = Dedup.QualU3Expr.replace(" div ", " // ")
    s"""WITH docsq AS (
       |  SELECT lang, $qualSql AS q_u3
       |  FROM (
       |    SELECT lang, length(text) AS n_chars,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS n_tokens,
       |           len(list_filter(string_split(text, ' '),
       |               t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |             AS stop_tokens,
       |           length(regexp_replace(text, '[^a-z]', '', 'g'))
       |             AS alpha_chars
       |    FROM documents)),
       |mom AS (
       |  SELECT lang, count(*) AS n_docs,
       |         CAST(sum(q_u3) AS BIGINT) AS s,
       |         CAST(sum(q_u3 * q_u3) AS BIGINT) AS s2
       |  FROM docsq GROUP BY lang),
       |wt AS (
       |  SELECT lang, n_docs,
       |         CAST(floor(sqrt(CAST(CAST(n_docs AS HUGEINT) * s2 -
       |                              CAST(s AS HUGEINT) * s AS DOUBLE)))
       |              AS BIGINT) AS w
       |  FROM mom),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w,
       |               CAST(sum(n_docs) AS BIGINT) AS tot_n FROM wt)
       |SELECT lang, n_docs, w,
       |       ($EvalBudget * w) // nullif(tot_w, 0) AS neyman_docs,
       |       ($EvalBudget * n_docs) // tot_n AS prop_docs,
       |       ($EvalBudget * w) // nullif(tot_w, 0) -
       |         ($EvalBudget * n_docs) // tot_n AS shift
       |FROM wt CROSS JOIN tot ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q253

  /** q253: contamination BLAST RADIUS — q120 finds train↔eval EXACT
    * content collisions; this answers the question a quarantine
    * actually needs: "which OTHER train documents are compromised
    * because they are near-dups of a leaked one?" A paraphrase of a
    * leaked doc teaches the eval answer just as well, so the quarantine
    * set is the direct leaks PLUS every train doc sharing a near-dup
    * CC cluster with one (the full transitive closure — labels ARE
    * components). Per language: train size, direct leaks (train docs
    * whose fp appears in the val/test fp set), transitive additions,
    * and the quarantine permille.
    *
    * Composes three memoized artifacts — [[ReleaseOps.assignedFps]]
    * (the split + fp projection), its eval-side fp set, and
    * [[Dedup.ccLabels]] (the banding + CC fixpoint) — so the marginal
    * cost over q120+q156 is three label-domain joins. The oracle
    * replays the identical CC walk via [[Dedup.ccWalkCtes]].
    *
    * Regime coverage: sf0.01 has zero cross-split collisions (the
    * all-clean path), sf0.1 has direct hits — the two gates TOGETHER
    * pin both branches (the q243 pattern); the transitive MECHANISM is
    * pinned by the spec's crafted fixture corpus, where a train
    * paraphrase of a leaked doc must be quarantined.
    */
  def q253(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ReleaseOps.assignedFps(spark, dir)
    val evalFps = assigned.filter(col("split") =!= "train")
      .select(col("fp")).distinct()
      .withColumn("hit", lit(true))
    val labels = Dedup.ccLabels(spark, dir)._1
      .withColumnRenamed("id", "doc_id")
    val tr = assigned.filter(col("split") === "train")
      .join(evalFps, Seq("fp"), "left")
      .withColumn("direct", coalesce(col("hit"), lit(false)))
      .drop("hit")
      // NOT broadcast (ADVICE r16): labels is keyed by doc_id over the
      // whole near-dup candidate graph — a corpus-PROPORTIONAL set, not
      // a domain-bounded one. At 100 TB it can blow the 8 GB broadcast
      // cap; AQE picks the strategy from the measured size instead (at
      // sf0.1 it still resolves to a broadcast at runtime). The contam
      // frame below stays hinted: it is a DISTINCT label set of the
      // contaminated clusters only, orders smaller than labels itself.
      .join(labels, Seq("doc_id"), "left")
    val contam = tr.filter(col("direct") && col("label").isNotNull)
      .select(col("label")).distinct()
      .withColumn("chit", lit(true))
    tr.join(broadcast(contam), Seq("label"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_train"),
        sum(when(col("direct"), 1L).otherwise(0L)).as("n_direct"),
        sum(when(!col("direct") && coalesce(col("chit"), lit(false)), 1L)
          .otherwise(0L)).as("n_transitive"))
      .withColumn("quarantine_permille",
        expr("(1000 * (n_direct + n_transitive)) div n_train"))
      .orderBy(col("lang"))
  }

  val q253Oracle: String = {
    val h = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    val fp = CrossHash.h60Sql("text")
    s"""WITH RECURSIVE ${Dedup.ccWalkCtes},
       |assigned AS (
       |  SELECT doc_id, lang, $fp AS fp,
       |         CASE WHEN $h % 1000 < ${ReleaseOps.SplitTrainUpto}
       |              THEN 'train' ELSE 'eval' END AS split
       |  FROM documents),
       |eval_fps AS (
       |  SELECT DISTINCT fp FROM assigned WHERE split <> 'train'),
       |tr AS (
       |  SELECT a.doc_id, a.lang,
       |         CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS direct,
       |         l.label
       |  FROM assigned a
       |  LEFT JOIN eval_fps e ON a.fp = e.fp
       |  LEFT JOIN labels l ON a.doc_id = l.id
       |  WHERE a.split = 'train'),
       |contam AS (
       |  SELECT DISTINCT label FROM tr
       |  WHERE direct = 1 AND label IS NOT NULL)
       |SELECT t.lang, count(*) AS n_train,
       |       CAST(sum(t.direct) AS BIGINT) AS n_direct,
       |       CAST(sum(CASE WHEN t.direct = 0 AND c.label IS NOT NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_transitive,
       |       (1000 * (CAST(sum(t.direct) AS BIGINT) +
       |          CAST(sum(CASE WHEN t.direct = 0 AND c.label IS NOT NULL
       |                        THEN 1 ELSE 0 END) AS BIGINT))) // count(*)
       |         AS quarantine_permille
       |FROM tr t LEFT JOIN contam c ON t.label = c.label
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  }


  // ---------------------------------------------------------------- q228

  /** Squared-L2 leak threshold in quantized units: on the corpus's
    * unit-norm vectors, d² = (2 − 2·cos)·QScale², so cos ≥ 0.4 ⇔
    * d² ≤ 1.2·10⁸ — active at both gate SFs (measured min-to-panel d²
    * spans 0.8–1.5·10⁸ there), and EXACT: the comparison is int64 vs
    * int64, no float boundary to straddle.
    */
  val SemLeakD2Max = 120000000L

  /** q228: SEMANTIC decontamination — the embedding-space member of
    * the leakage family (q89/q120/q162/q166 catch lexical overlap; a
    * paraphrased benchmark answer shares no n-gram and sails through
    * all four, but its embedding is still near the benchmark's). The
    * held-out panel is a FIXED set (vec_id % 17 = 0 AND vec_id < 1700,
    * ≤ 100 vectors at any corpus size — the q103/q192 fixed-panel
    * rule), every other vector gets its EXACT int64 min quantized
    * squared-L2 distance to the panel (floor(x·10⁴) quantization, the
    * q119/q128 discipline — no float anywhere, so the hash gate
    * certifies the decontaminator itself), and vectors within
    * [[SemLeakD2Max]] are flagged as contamination-suspect.
    *
    * Scale shape: the panel is BROADCAST; the corpus makes ONE pass
    * (panel×corpus pair rows, linear in the corpus), folding each pair
    * to one int64 inside the projection — no corpus self-join, no
    * shuffle before the label-sized aggregate. Int64 budget: |qa−qb| ≤
    * 2·10⁴ ⇒ pair d² ≤ 64·4·10⁸ ≈ 2.6·10¹⁰ ≪ 2⁶³. Dims are pinned to
    * 64 on BOTH engines by the same filter, so a ragged vector can't
    * fork a NULL-vs-skip difference.
    */
  /** The 64-dim quantized frame `(vec_id, label, qv)` — q228's input
    * shape, shared with [[graft.streaming.StreamingSemDecontam]] so the
    * batch and streaming decontaminators quantize identically.
    */
  private[graft] def quantized64(emb: DataFrame): DataFrame = emb
    .filter(size(col("embedding")) === 64)
    .select(col("vec_id"), col("label").cast("long").as("label"),
      graft.functions.VectorOps
        .quantize(col("embedding"), ReleaseOps.EmbQScale).as("qv"))

  /** q228's panel membership predicate (on `vec_id`). */
  private[graft] def isSemPanel(vecId: Column): Column =
    vecId % 17 === 0 && vecId < 1700

  /** Per-vector exact min quantized squared-L2 to the broadcast panel:
    * `(vec_id, label, min_d2)`. One corpus pass, pairs folded to int64
    * in-projection. The single definition both q228 and the streaming
    * twin score with.
    */
  private[graft] def minD2ToPanel(corpus: DataFrame, panel: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(panel))
      .select(col("vec_id"), col("label"),
        graft.functions.VectorOps.intSqDist(col("qv"), col("pv")).as("d2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("d2")).as("min_d2"))

  def q228(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized64(table(spark, dir, "embeddings"))
    val panel = q.filter(isSemPanel(col("vec_id")))
      .select(col("vec_id").as("p_id"), col("qv").as("pv"))
    val corpus = q.filter(not(isSemPanel(col("vec_id"))))
    minD2ToPanel(corpus, panel)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("min_d2") <= SemLeakD2Max, 1L).otherwise(0L))
          .as("n_leaked"),
        min(col("min_d2")).as("closest_d2"))
      .withColumn("leak_permille", expr("(1000 * n_leaked) div n_vecs"))
      .select(col("label"), col("n_vecs"), col("n_leaked"),
        col("leak_permille"), col("closest_d2"))
      .orderBy(col("label"))
  }

  val q228Oracle: String =
    s"""WITH q AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * ${ReleaseOps.EmbQScale})
       |                AS BIGINT)) AS qv
       |  FROM embeddings WHERE len(embedding) = 64),
       |panel AS (
       |  SELECT vec_id AS p_id, qv AS pv FROM q
       |  WHERE vec_id % 17 = 0 AND vec_id < 1700),
       |corpus AS (
       |  SELECT * FROM q WHERE NOT (vec_id % 17 = 0 AND vec_id < 1700)),
       |d AS (
       |  SELECT c.vec_id, c.label,
       |         min(CAST(list_sum(list_transform(range(1, 65),
       |             i -> (c.qv[i] - p.pv[i]) * (c.qv[i] - p.pv[i])))
       |           AS BIGINT)) AS min_d2
       |  FROM corpus c CROSS JOIN panel p GROUP BY 1, 2)
       |SELECT label, count(*) AS n_vecs,
       |       CAST(sum(CASE WHEN min_d2 <= $SemLeakD2Max THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_leaked,
       |       (1000 * CAST(sum(CASE WHEN min_d2 <= $SemLeakD2Max
       |                             THEN 1 ELSE 0 END) AS BIGINT))
       |         // count(*) AS leak_permille,
       |       min(min_d2) AS closest_d2
       |FROM d GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q229

  /** Feistel rounds; 3 suffice for a bijection (this is a shuffle, not
    * a cipher — the adversary is sort bias, not cryptanalysis). */
  val FeistelRounds = 3

  /** Half-domain modulus: 2²⁰, so the full permutation domain is
    * [0, 2⁴⁰) — ids beyond it raise loudly (the q84/Exact guard
    * discipline; never a silent wrong answer). */
  val FM20 = 1048576L

  /** Knuth multiplicative constant + per-round offsets for the round
    * function F(h, r) = (h·[[FMult]] + r·[[FAddR]] + [[FAddC]]) mod
    * [[FM20]]. h < 2²⁰ keeps h·FMult < 2⁵² — inside int64. */
  val FMult = 2654435761L
  val FAddR = 40503L
  val FAddC = 40699L

  /** Rows reported by q229 (the head of the training order). */
  val TrainOrderTop = 100

  /** q229: deterministic TRAINING-ORDER permutation — a 3-round
    * Feistel network over id halves (format-preserving encryption's
    * construction) maps every doc_id to a unique pseudo-random
    * position in [0, 2⁴⁰). This is how a 100 TB corpus gets "shuffled"
    * without ever materializing a shuffle: the position is a STATELESS
    * per-row bijection (modular-add Feistel — each round
    * (l, h) → (h, (l + F(h, r)) mod 2²⁰) is invertible), so an
    * exporter range-partitions on `pos` directly, reruns are
    * byte-stable, and incrementally added docs slot into fixed
    * positions without re-shuffling the corpus — none of which holds
    * for ORDER BY rand(). Every step is integer mod/mul/add, identical
    * in both engines, so the hash gate certifies the permutation
    * arithmetic itself; the spec pins bijectivity + invertibility.
    *
    * Scale shape: a pure narrow projection (whole-stage codegen) and a
    * global top-[[TrainOrderTop]] (TakeOrderedAndProject — per-
    * partition heads, never a full sort).
    */
  def q229(spark: SparkSession, dir: String): DataFrame = {
    val guarded = when(
      col("doc_id") >= 0L && col("doc_id") < (1L << 40), col("doc_id"))
      .otherwise(raise_error(concat(
        lit("q229: doc_id "), col("doc_id").cast("string"),
        lit(" outside the 2^40 Feistel domain — widen FM20"))))
    var df = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), guarded.as("gid"))
      .withColumn("l0", expr(s"gid div $FM20"))
      .withColumn("h0", expr(s"gid % $FM20"))
    for (r <- 1 to FeistelRounds) {
      df = df
        .withColumn(s"l$r", col(s"h${r - 1}"))
        .withColumn(s"h$r", expr(
          s"(l${r - 1} + (h${r - 1} * $FMult + $r * $FAddR + $FAddC)" +
            s" % $FM20) % $FM20"))
    }
    df.select(
        (col(s"l$FeistelRounds") * FM20 + col(s"h$FeistelRounds")).as("pos"),
        col("doc_id"), col("lang"))
      .orderBy(col("pos"))
      .limit(TrainOrderTop)
  }

  val q229Oracle: String = {
    val rounds = (1 to FeistelRounds).map { r =>
      s"""r$r AS (
         |  SELECT doc_id, lang, h${r - 1} AS l$r,
         |         (l${r - 1} + (h${r - 1} * $FMult + $r * $FAddR + $FAddC)
         |          % $FM20) % $FM20 AS h$r
         |  FROM r${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH r0 AS (
       |  SELECT doc_id, lang, doc_id // $FM20 AS l0, doc_id % $FM20 AS h0
       |  FROM documents),
       |$rounds
       |SELECT CAST(l$FeistelRounds * $FM20 + h$FeistelRounds AS BIGINT) AS pos,
       |       doc_id, lang
       |FROM r$FeistelRounds ORDER BY pos LIMIT $TrainOrderTop""".stripMargin
  }

  // ---------------------------------------------------------------- q230

  /** q230: SPEARMAN rank correlation between two quality signals —
    * does doc length predict alphabetic cleanliness? Rank statistics
    * are the standard report for signal-redundancy analysis (Pearson
    * on raw values is driven by outliers; ranks are not), but the
    * naive ranking is a corpus-wide sort. Both signals here live on
    * SMALL integer domains (token count, alpha-permille ≤ 1000), so
    * the midranks come from a cumulative walk over the bounded
    * (lang, value) HISTOGRAM — the q168 quantile trick applied to
    * ranking: no corpus sort at any scale. Doubled midranks
    * (2·below + count + 1) are exact int64, both engines derive them
    * from identical histograms, and ρ = Pearson over the midranks
    * (the tie-corrected Spearman identity). The moment sums stay
    * int64-exact (bound: per-lang n < 2²⁰ keeps Σm² < 4n³ < 2⁶²; a
    * bigger corpus needs two-level sums — the q189 documentation
    * discipline) and only the final combination runs in DOUBLE with
    * the same single correctly-rounded IEEE ops on both engines
    * (variances clamped at 0 so a constant signal yields NULL, not
    * NaN). `sxy` is emitted exactly so the gate pins the integer
    * moment, not just the rounded ρ.
    *
    * Scale shape: ONE corpus scan into the bounded joint (lang, x, y)
    * histogram — every later consumer (both marginal histograms, the
    * midrank join-back, the moments) re-aggregates THAT frame, whose
    * shuffle Catalyst reuses across the three branches (identical
    * exchange subtree — unlike a bare corpus projection, which each
    * consumer would re-scan; the q114 lesson applied one level up).
    * Moments are weighted by the joint cell count, so they equal the
    * per-doc sums exactly.
    */
  def q230(spark: SparkSession, dir: String): DataFrame = {
    val joint = table(spark, dir, "documents")
      .select(col("lang"),
        expr("size(filter(split(text, ' '), t -> t <> ''))")
          .cast("long").as("x"),
        expr("(1000 * cast(length(regexp_replace(text, '[^a-z]', '')) as bigint))" +
          " div length(text)").as("y"))
      .groupBy(col("lang"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      // bounded (|x-domain|·|y-domain| per lang); materialized so all
      // three consumers read it instead of racing AQE stage reuse —
      // measured: without this, two of the three branches still paid
      // the corpus scan (parallel stage submission defeats reuse)
      .localCheckpoint()
    def midranks(vcol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("lang")).orderBy(col(vcol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joint.groupBy(col("lang"), col(vcol)).agg(sum(col("cnt")).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .select(col("lang"), col(vcol),
          (lit(2L) * (col("cum") - col("c")) + col("c") + lit(1L)).as(out))
    }
    joint.join(broadcast(midranks("x", "ax")), Seq("lang", "x"))
      .join(broadcast(midranks("y", "ay")), Seq("lang", "y"))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(col("cnt") * col("ax")).as("sx"),
        sum(col("cnt") * col("ay")).as("sy"),
        sum(col("cnt") * col("ax") * col("ax")).as("sxx"),
        sum(col("cnt") * col("ay") * col("ay")).as("syy"),
        sum(col("cnt") * col("ax") * col("ay")).as("sxy"))
      .select(col("lang"), col("n").as("n_docs"), col("sxy"),
        expr("round((cast(n as double) * sxy - cast(sx as double) * sy) /" +
          " nullif(sqrt(greatest(cast(n as double) * sxx -" +
          " cast(sx as double) * sx, 0)) *" +
          " sqrt(greatest(cast(n as double) * syy -" +
          " cast(sy as double) * sy, 0)), 0), 6)").as("spearman_rho"))
      .orderBy(col("lang"))
  }

  val q230Oracle: String =
    """WITH f AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |              AS BIGINT) AS x,
      |         (1000 * length(regexp_replace(text, '[^a-z]', '', 'g')))
      |           // length(text) AS y
      |  FROM documents),
      |hx AS (SELECT lang, x, count(*) AS c FROM f GROUP BY 1, 2),
      |mx AS (
      |  SELECT lang, x,
      |         CAST(2 * (sum(c) OVER (PARTITION BY lang ORDER BY x
      |                  ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT)
      |           AS ax
      |  FROM hx),
      |hy AS (SELECT lang, y, count(*) AS c FROM f GROUP BY 1, 2),
      |my AS (
      |  SELECT lang, y,
      |         CAST(2 * (sum(c) OVER (PARTITION BY lang ORDER BY y
      |                  ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS BIGINT)
      |           AS ay
      |  FROM hy),
      |j AS (
      |  SELECT f.lang, mx.ax, my.ay
      |  FROM f
      |  JOIN mx ON mx.lang = f.lang AND mx.x = f.x
      |  JOIN my ON my.lang = f.lang AND my.y = f.y),
      |mo AS (
      |  SELECT lang, count(*) AS n,
      |         CAST(sum(ax) AS BIGINT) AS sx, CAST(sum(ay) AS BIGINT) AS sy,
      |         CAST(sum(ax * ax) AS BIGINT) AS sxx,
      |         CAST(sum(ay * ay) AS BIGINT) AS syy,
      |         CAST(sum(ax * ay) AS BIGINT) AS sxy
      |  FROM j GROUP BY lang)
      |SELECT lang, n AS n_docs, sxy,
      |       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |             nullif(sqrt(greatest(CAST(n AS DOUBLE) * sxx -
      |                         CAST(sx AS DOUBLE) * sx, 0)) *
      |                    sqrt(greatest(CAST(n AS DOUBLE) * syy -
      |                         CAST(sy AS DOUBLE) * sy, 0)), 0), 6)
      |         AS spearman_rho
      |FROM mo ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q231

  /** q231: COHEN'S KAPPA of the marker langid against the labeled
    * truth — the chance-corrected agreement score (raw accuracy is
    * meaningless under class imbalance: predicting the majority class
    * everywhere can score 90%; κ scores it 0). Shares the classifier
    * with q25 through [[TextAnalysis.langidPredicted]] (single-copy
    * rule), reduces the corpus to the tiny confusion matrix in one
    * aggregate, and computes κ entirely on that matrix in exact int64:
    * κ_permille = 1000·(n·agree − pe_num) div (n² − pe_num) with
    * pe_num = Σₖ rowₖ·colₖ. Exact while 1000·n² < 2⁶³ ⇔ n < 9.6·10⁷
    * docs; beyond that, permille-quantize the margins first (the q189
    * documentation discipline). The exact `pe_num` rides along so the
    * gate pins the margin products, not just the final ratio.
    *
    * Scale shape: one corpus scan into a ≤ 6×6 confusion matrix;
    * everything after runs on that matrix (margins, products, κ) — at
    * 100 TB the post-scan cost is constant.
    */
  def q231(spark: SparkSession, dir: String): DataFrame = {
    val conf = TextAnalysis.langidPredicted(spark, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("c"))
      // ≤ 6×6 rows; materialized so the three margin consumers don't
      // re-scan the corpus (the q230 lesson)
      .localCheckpoint()
    val tot = conf.agg(
      sum(col("c")).as("n"),
      sum(when(col("lang") === col("predicted"), col("c")).otherwise(0L))
        .as("agree"))
    val rowt = conf.select(col("lang").as("k"), col("c"))
      .groupBy(col("k")).agg(sum(col("c")).as("rt"))
    val colt = conf.select(col("predicted").as("k"), col("c"))
      .groupBy(col("k")).agg(sum(col("c")).as("ct"))
    val pe = rowt.join(colt, Seq("k"))
      .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).as("pe_num"))
    tot.crossJoin(pe)
      .select(
        col("n").as("n_docs"), col("agree").as("n_agree"), col("pe_num"),
        expr("(1000 * agree) div n").as("po_permille"),
        expr("(1000 * pe_num) div (n * n)").as("pe_permille"),
        expr("(1000 * (n * agree - pe_num)) div nullif(n * n - pe_num, 0)")
          .as("kappa_permille"))
      .orderBy(col("n_docs"))
  }

  val q231Oracle: String =
    s"""WITH ${TextAnalysis.langidPredCtes},
       |conf AS (
       |  SELECT lang, predicted, count(*) AS c
       |  FROM pred GROUP BY lang, predicted),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN lang = predicted THEN c ELSE 0 END)
       |              AS BIGINT) AS agree
       |  FROM conf),
       |rowt AS (SELECT lang AS k, CAST(sum(c) AS BIGINT) AS rt
       |         FROM conf GROUP BY lang),
       |colt AS (SELECT predicted AS k, CAST(sum(c) AS BIGINT) AS ct
       |         FROM conf GROUP BY predicted),
       |pe AS (
       |  SELECT CAST(coalesce(sum(rt * ct), 0) AS BIGINT) AS pe_num
       |  FROM rowt JOIN colt USING (k))
       |SELECT n AS n_docs, agree AS n_agree, pe_num,
       |       (1000 * agree) // n AS po_permille,
       |       (1000 * pe_num) // (n * n) AS pe_permille,
       |       (1000 * (n * agree - pe_num)) // nullif(n * n - pe_num, 0)
       |         AS kappa_permille
       |FROM tot, pe ORDER BY n_docs""".stripMargin

  // ---------------------------------------------------------------- q232

  /** q232: the quality→duplication CALIBRATION curve — does the q156
    * keep-policy quality score actually separate duplicated from
    * unique content? Docs land in fixed-width quality bins
    * (q_u3 div 100 over the integer 0..1000 score — fixed bins, never
    * a corpus-quantile pass) and each bin reports its exact-duplicate
    * rate (md5 whole-text fingerprint seen > 1×, the q17/q60 exact-dup
    * rule). A filter threshold is only defensible if this curve is
    * monotone-ish — this query is the evidence either way, the same
    * audit q147 runs for MinHash banding. Integer end to end
    * ([[Dedup.QualU3Expr]] shared with q156, single-copy rule).
    *
    * Scale shape: one corpus scan; the only shuffle is the fingerprint
    * window (co-partitioned count per fp — the q60 shape); the result
    * lands on the fixed 11-bin domain.
    */
  def q232(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val w = Window.partitionBy(col("fp"))
    Dedup.withQualU3(docs)
      .withColumn("fp", md5(col("text")))
      .withColumn("n_fp", count(lit(1)).over(w))
      .withColumn("qbin", expr("q_u3 div 100"))
      .groupBy(col("qbin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_fp") > 1, 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_permille", expr("(1000 * n_dups) div n_docs"))
      .orderBy(col("qbin"))
  }

  val q232Oracle: String = {
    val qualSql = Dedup.QualU3Expr.replace(" div ", " // ")
    s"""WITH docsq AS (
       |  SELECT doc_id, text, $qualSql AS q_u3
       |  FROM (
       |    SELECT doc_id, text, length(text) AS n_chars,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS n_tokens,
       |           len(list_filter(string_split(text, ' '),
       |               t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |             AS stop_tokens,
       |           length(regexp_replace(text, '[^a-z]', '', 'g'))
       |             AS alpha_chars
       |    FROM documents)),
       |d AS (
       |  SELECT q_u3 // 100 AS qbin,
       |         count(*) OVER (PARTITION BY md5(text)) AS n_fp
       |  FROM docsq)
       |SELECT qbin, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dups,
       |       (1000 * CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END)
       |                    AS BIGINT)) // count(*) AS dup_permille
       |FROM d GROUP BY qbin ORDER BY qbin""".stripMargin
  }


  // ---------------------------------------------------------------- q243

  /** q243: Mann-Whitney AUC of the quality score as a DUPLICATION
    * predictor — the one-number ranking summary of q232's calibration
    * curve (q232 shows the per-bin dup rate; this answers "across ALL
    * thresholds, how well does q_u3 rank duplicated above unique
    * content?"). AUC = P(score_dup > score_unique) + ½·P(tie), computed
    * by the rank-sum identity over the bounded (q_u3, label) histogram
    * — never a pairwise pass: u2 = Σ_s pos(s)·(2·cumneg(<s) + neg(s))
    * doubles the U statistic so ties stay integer. 500‰ = score is
    * uninformative; < 500‰ = quality ANTI-predicts duplication (the
    * expected direction for boilerplate-heavy dup farms).
    *
    * Scale shape: one corpus scan + the q232 fingerprint window (count
    * per md5 fp, co-partitioned); everything after lands on the ≤ 1001
    * row score histogram (the single-partition cumsum window is over
    * that bounded frame, not the corpus — the q225 contract). Int64
    * budget: the permille step computes 1000·u2 with u2 ≤ 2·n_pos·
    * n_neg, so exactness holds while n_pos·n_neg < ~4.6·10¹⁵ — any
    * corpus below ~6·10⁷ docs per class, ~10⁹ docs when dups are a
    * few percent; beyond that drop the permille factor into the
    * divisor first (the q189 documented-bound discipline).
    *
    * Regime coverage: sf0.01 has zero exact dups (n_pos = 0, NULL AUC
    * — the degenerate path), sf0.1 has 16 — the two hash gates
    * TOGETHER pin both branches (the CapActivitySpec pattern), and the
    * spec brute-forces the active regime pairwise.
    */
  def q243(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val w = Window.partitionBy(col("fp"))
    val hist = Dedup.withQualU3(docs)
      .withColumn("fp", md5(col("text")))
      .withColumn("n_fp", count(lit(1)).over(w))
      .select(col("q_u3"),
        when(col("n_fp") > 1, 1L).otherwise(0L).as("pos"))
      .groupBy(col("q_u3"))
      .agg(sum(col("pos")).as("pos"), sum(lit(1L) - col("pos")).as("neg"))
    val ws = Window.orderBy(col("q_u3"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cumneg", sum(col("neg")).over(ws) - col("neg"))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cumneg") + col("neg"))).as("u2"))
      .withColumn("auc_permille",
        expr("(1000 * u2) div nullif(2 * n_pos * n_neg, 0)"))
      .select(col("n_pos"), col("n_neg"), col("u2"), col("auc_permille"))
  }

  val q243Oracle: String = {
    val qualSql = Dedup.QualU3Expr.replace(" div ", " // ")
    s"""WITH docsq AS (
       |  SELECT text, $qualSql AS q_u3
       |  FROM (
       |    SELECT text, length(text) AS n_chars,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS n_tokens,
       |           len(list_filter(string_split(text, ' '),
       |               t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |             AS stop_tokens,
       |           length(regexp_replace(text, '[^a-z]', '', 'g'))
       |             AS alpha_chars
       |    FROM documents)),
       |d AS (
       |  SELECT q_u3,
       |         CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1
       |              THEN 1 ELSE 0 END AS pos
       |  FROM docsq),
       |hist AS (
       |  SELECT q_u3, CAST(sum(pos) AS BIGINT) AS pos,
       |         CAST(sum(1 - pos) AS BIGINT) AS neg
       |  FROM d GROUP BY q_u3),
       |c AS (
       |  SELECT pos, neg,
       |         CAST(sum(neg) OVER (ORDER BY q_u3
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - neg AS cumneg
       |  FROM hist)
       |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       |       CAST(sum(neg) AS BIGINT) AS n_neg,
       |       CAST(sum(pos * (2 * cumneg + neg)) AS BIGINT) AS u2,
       |       (1000 * CAST(sum(pos * (2 * cumneg + neg)) AS BIGINT)) //
       |         nullif(2 * CAST(sum(pos) AS BIGINT) *
       |                    CAST(sum(neg) AS BIGINT), 0) AS auc_permille
       |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------- q244

  /** q244: HELD-OUT Kneser-Ney bigram evaluation — the LM-quality
    * readout q223 cannot give: q223 self-scores (train = score), so it
    * never meets an unseen bigram and needs no smoothing; this trains
    * on the `train` split (the q114 id-hash) and scores `val`+`test`
    * bigrams, where unseen events are the POINT — interpolated
    * Kneser-Ney (absolute discount D = 3/4) backs them off to the
    * continuation distribution (how many distinct contexts a word
    * completes), the smoothing every production n-gram scorer
    * (CCNet's KenLM) ships.
    *
    * Everything is integer-exact: with D = 3/4, P(cur|prev) is the
    * rational num/den with num = Nbt·(4·c(prev,cur) − 3)⁺ +
    * 3·N1+(prev·)·N1+(·cur), den = 4·c(prev)·Nbt (Nbt = distinct train
    * bigram types), and the bit-surprisal floor(log₂(den/num)) =
    * bitlen(den div num) − 1 exactly (the q223 bit-length identity
    * lifted from integers to rationals — valid because num ≤ den, i.e.
    * P ≤ 1, which KN guarantees termwise). Unseen contexts (and the
    * measure-zero num = 0 corner) take the documented floor
    * P₀ = 1/(4·Nbt). Exact while c(prev)·Nbt < 2⁶¹ — any one model
    * shard in practice; beyond that the den literally overflows int64
    * and a production scorer shards the model per language anyway.
    *
    * Scale shape: one scan builds train bigram counts (the MODEL —
    * bigram-type-sized, orders below the corpus; localCheckpoint'ed
    * because four consumers read it: context counts, continuation
    * counts, the type total, and the eval join — the q230 rule; and
    * memoized per (session, dir) in [[knModel]], since the streaming
    * scorer reads the identical artifact);
    * context/continuation/Nbt all reduce from that frame, never a
    * second corpus pass. The eval pass is the second scan, joining the
    * model on its natural keys under AQE; per-lang totals land on the
    * language domain.
    */
  /** Per-doc bigram instances `(doc_id, lang[, split], prev, cur)` of
    * any documents-shaped frame — THE single copy of the bigram
    * tokenization + pairing (q223's self-scored LM, q244's KN train and
    * eval sides, and [[graft.streaming.StreamingKnScore]]'s live
    * batches all pair through it, so no two LM consumers can disagree
    * on what a bigram is). `withSplit = false` skips the per-doc
    * id-hash entirely — the streaming scorer and q223 never read it,
    * so they should not pay the md5 per document.
    */
  private[graft] def bigramsOf(
      docs: DataFrame, withSplit: Boolean = true): DataFrame = {
    val base =
      if (withSplit) docs.select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"),
        ReleaseOps.splitOf(col("doc_id")).as("split"))
      else docs.select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
    val keep = Seq(col("doc_id"), col("lang")) ++
      (if (withSplit) Seq(col("split")) else Nil)
    base
      .filter(size(col("toks")) >= 2)
      .select(keep :+ explode(expr(
        "transform(slice(toks, 2, size(toks) - 1)," +
          " (x, i) -> struct(element_at(toks, i + 1) AS prev, x AS cur))"))
        .as("bg"): _*)
      .select(keep :+ col("bg.prev").as("prev") :+
        col("bg.cur").as("cur"): _*)
  }

  /** The trained KN model: bigram counts, context counts + distinct
    * continuations per context, distinct-context counts per word, and
    * the 1-row bigram-type total. */
  private[graft] case class KnModel(
      bc: DataFrame, ctx: DataFrame, cont: DataFrame, nbt: DataFrame)

  /** Memoized per (session, dir): the KN bigram model trained on the
    * `train` split (the q218 trainedMerges pattern — the model is an
    * ARTIFACT; q244 and the streaming scorer must read the same one).
    * Only `bc` is materialized; the three reductions derive from it.
    */
  private[graft] def knModel(spark: SparkSession, dir: String): KnModel =
    Artifacts.get(spark, dir, "EvalOps.knModel") {
      val bc = bigramsOf(table(spark, dir, "documents"))
        .filter(col("split") === "train")
        .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("bcnt"))
        .localCheckpoint()
      KnModel(
        bc,
        bc.groupBy(col("prev"))
          .agg(sum(col("bcnt")).as("ccnt"), count(lit(1)).as("n1p")),
        bc.groupBy(col("cur")).agg(count(lit(1)).as("cont")),
        bc.agg(count(lit(1)).as("nbt")))
    }

  /** Scores a bigram frame `(…, prev, cur)` against a [[KnModel]],
    * appending the exact integer bit-surprisal `surp` plus the `ccnt`/
    * `bcnt` join results (NULL-ness encodes the unseen-context /
    * unseen-bigram cases the caller counts). THE single scorer copy —
    * batch q244 and the streaming twin both flow through it.
    */
  private[graft] def scoreKn(ev: DataFrame, m: KnModel): DataFrame = ev
    .join(m.bc, Seq("prev", "cur"), "left")
    .join(m.ctx, Seq("prev"), "left")
    .join(m.cont, Seq("cur"), "left")
    .crossJoin(broadcast(m.nbt))
    .withColumn("num",
      expr("nbt * (CASE WHEN bcnt IS NULL THEN 0 ELSE 4 * bcnt - 3 END)" +
        " + 3 * n1p * coalesce(cont, 0)"))
    .withColumn("surp", expr(
      """CASE WHEN ccnt IS NULL OR num <= 0
        |     THEN length(bin(4 * nbt)) - 1
        |     ELSE length(bin((4 * ccnt * nbt) div num)) - 1 END"""
        .stripMargin).cast("long"))

  def q244(spark: SparkSession, dir: String): DataFrame = {
    val ev = bigramsOf(table(spark, dir, "documents"))
      .filter(col("split") =!= "train")
    scoreKn(ev, knModel(spark, dir))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("ccnt").isNull, 1L).otherwise(0L)).as("n_oov_ctx"),
        sum(when(col("ccnt").isNotNull && col("bcnt").isNull, 1L)
          .otherwise(0L)).as("n_unseen"),
        sum(col("surp")).as("sum_surp"))
      .withColumn("surp_permille", expr("(1000 * sum_surp) div n_bigrams"))
      .orderBy(col("lang"))
  }

  val q244Oracle: String = {
    val h = CrossHash.h60Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT lang,
       |         CASE WHEN $h % 1000 < ${ReleaseOps.SplitTrainUpto}
       |              THEN 'train' ELSE 'eval' END AS split,
       |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |bigr AS (
       |  SELECT lang, split, toks[i] AS prev, toks[i + 1] AS cur
       |  FROM d, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2),
       |bc AS MATERIALIZED (
       |  SELECT prev, cur, count(*) AS bcnt FROM bigr
       |  WHERE split = 'train' GROUP BY prev, cur),
       |ctx AS (
       |  SELECT prev, CAST(sum(bcnt) AS BIGINT) AS ccnt,
       |         count(*) AS n1p
       |  FROM bc GROUP BY prev),
       |co AS (SELECT cur, count(*) AS cont FROM bc GROUP BY cur),
       |nb AS (SELECT count(*) AS nbt FROM bc),
       |ev AS (
       |  SELECT e.lang, c.ccnt, b.bcnt,
       |         nbt * (CASE WHEN b.bcnt IS NULL THEN 0
       |                     ELSE 4 * b.bcnt - 3 END)
       |           + 3 * c.n1p * COALESCE(o.cont, 0) AS num,
       |         nb.nbt AS nbt
       |  FROM bigr e
       |  LEFT JOIN bc b ON e.prev = b.prev AND e.cur = b.cur
       |  LEFT JOIN ctx c ON e.prev = c.prev
       |  LEFT JOIN co o ON e.cur = o.cur
       |  CROSS JOIN nb
       |  WHERE e.split <> 'train'),
       |sc AS (
       |  SELECT lang, ccnt, bcnt,
       |         CAST(CASE WHEN ccnt IS NULL OR num <= 0
       |              THEN length(bin(4 * nbt)) - 1
       |              ELSE length(bin((4 * ccnt * nbt) // num)) - 1 END
       |           AS BIGINT) AS surp
       |  FROM ev)
       |SELECT lang, count(*) AS n_bigrams,
       |       CAST(sum(CASE WHEN ccnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_oov_ctx,
       |       CAST(sum(CASE WHEN ccnt IS NOT NULL AND bcnt IS NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       |       CAST(sum(surp) AS BIGINT) AS sum_surp,
       |       (1000 * CAST(sum(surp) AS BIGINT)) // count(*)
       |         AS surp_permille
       |FROM sc GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q245

  /** Token budget as a fraction of each language's volume: numerator
    * over 10 (3 → keep the top-quality 30% of tokens). */
  val Q245BudgetNum = 3L

  /** q245: TOKEN-BUDGET quality threshold — q241 asks "which score cut
    * is fair across languages?"; this asks the question the budget
    * owner actually has: "what is the LOOSEST quality cut whose
    * selection still fits the token budget?" (select by tokens, not
    * docs — pretraining buys tokens). Per language: the maximal q_u3
    * cut whose ≥-cut selection carries at least
    * [[Q245BudgetNum]]/10 of the language's tokens, the selection's
    * doc/token volume, and the overshoot permille (the granularity
    * cost of cutting at a score boundary — a weighted-quantile
    * readout, so it is exact where a sampled quantile would not be).
    *
    * Scale shape: one corpus scan → the bounded (lang, q_u3) token
    * histogram (≤ langs×1001 rows, localCheckpoint'ed — the q230/q241
    * rule); the descending cumsum, crossing search, and report all run
    * on that frame. Integer end to end: cut = max q with
    * cum_tokens(≥ q) ≥ target, target = (num·total) div 10.
    */
  def q245(spark: SparkSession, dir: String): DataFrame = {
    val hist = Dedup.withQualU3(
        table(spark, dir, "documents")
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("ntok",
            size(expr("filter(split(text, ' '), t -> t <> '')"))
              .cast("long")))
      .groupBy(col("lang"), col("q_u3"))
      .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("toks"))
      .localCheckpoint()
    val wd = Window.partitionBy(col("lang")).orderBy(col("q_u3").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy(col("lang"))
    hist
      .withColumn("cum_toks", sum(col("toks")).over(wd))
      .withColumn("cum_docs", sum(col("docs")).over(wd))
      .withColumn("target",
        expr(s"($Q245BudgetNum * sum(toks) over" +
          s" (partition by lang)) div 10"))
      .withColumn("tot_toks", sum(col("toks")).over(wl))
      .withColumn("tot_docs", sum(col("docs")).over(wl))
      .groupBy(col("lang"))
      .agg(
        max(col("tot_docs")).as("n_docs"),
        max(col("tot_toks")).as("n_tokens"),
        max(col("target")).as("target_tokens"),
        max(when(col("cum_toks") >= col("target"), col("q_u3"))).as("cut_q"),
        min(when(col("cum_toks") >= col("target"), col("cum_docs")))
          .as("sel_docs"),
        min(when(col("cum_toks") >= col("target"), col("cum_toks")))
          .as("sel_tokens"))
      .withColumn("overshoot_permille",
        expr("(1000 * (sel_tokens - target_tokens)) div" +
          " nullif(target_tokens, 0)"))
      .orderBy(col("lang"))
  }

  val q245Oracle: String = {
    val qualSql = Dedup.QualU3Expr.replace(" div ", " // ")
    s"""WITH docsq AS (
       |  SELECT lang, ntok, $qualSql AS q_u3
       |  FROM (
       |    SELECT lang, length(text) AS n_chars,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS n_tokens,
       |           len(list_filter(string_split(text, ' '), t -> t <> ''))
       |             AS ntok,
       |           len(list_filter(string_split(text, ' '),
       |               t -> t IN ('the', 'a', 'of', 'and', 'in')))
       |             AS stop_tokens,
       |           length(regexp_replace(text, '[^a-z]', '', 'g'))
       |             AS alpha_chars
       |    FROM documents)),
       |hist AS (
       |  SELECT lang, q_u3, count(*) AS docs,
       |         CAST(sum(ntok) AS BIGINT) AS toks
       |  FROM docsq GROUP BY 1, 2),
       |c AS (
       |  SELECT lang, q_u3, docs, toks,
       |         CAST(sum(toks) OVER (PARTITION BY lang ORDER BY q_u3 DESC
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks,
       |         CAST(sum(docs) OVER (PARTITION BY lang ORDER BY q_u3 DESC
       |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
       |         ($Q245BudgetNum * CAST(sum(toks) OVER (PARTITION BY lang)
       |                                AS BIGINT)) // 10 AS target,
       |         CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT)
       |           AS tot_toks,
       |         CAST(sum(docs) OVER (PARTITION BY lang) AS BIGINT)
       |           AS tot_docs
       |  FROM hist)
       |SELECT lang, max(tot_docs) AS n_docs, max(tot_toks) AS n_tokens,
       |       max(target) AS target_tokens,
       |       max(CASE WHEN cum_toks >= target THEN q_u3 END) AS cut_q,
       |       min(CASE WHEN cum_toks >= target THEN cum_docs END)
       |         AS sel_docs,
       |       min(CASE WHEN cum_toks >= target THEN cum_toks END)
       |         AS sel_tokens,
       |       (1000 * (min(CASE WHEN cum_toks >= target THEN cum_toks END)
       |                - max(target))) // nullif(max(target), 0)
       |         AS overshoot_permille
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- q246

  /** q246 baseline panel predicate: ≤ 100 vectors at any corpus size
    * (the q228 fixed-panel rule; 29 is coprime to the q228 17 so the
    * two panels don't alias). */
  val AlignPanelMod = 29L
  val AlignPanelMax = 2900L

  /** q246: embedding ALIGNMENT audit (Wang & Isola's alignment side,
    * arXiv:2005.10242) — are the pairs the sign-LSH index proposes
    * actually CLOSE, relative to how far random vectors sit? Reports
    * the candidate pairs' exact quantized squared-L2 mean against a
    * fixed random panel's all-pairs mean, and their ratio: an index
    * whose alignment_permille ≈ 1000 is proposing random pairs (broken
    * banding); a useful one sits far below. The uniformity side of the
    * paper's pair (log E exp(−2d²)) is deliberately replaced by the
    * baseline MEAN — exp is a transcendental the two engines need not
    * round identically, while every number here is exact int64 (the
    * q228 quantization discipline), so the hash gate certifies the
    * audit itself.
    *
    * Composes THE q42 banding ([[Similarity2.signBands]] +
    * [[Similarity2.bucketPairs]], the single pairing copy) over the %4
    * sample RESTRICTED to the 64-dim contract — auditing a
    * reimplementation would certify nothing, but the exact int64 d²
    * needs equal dims, so the audit covers the fixed-dim subset of
    * q42's index and a ragged tail (none in the gate corpora) is
    * outside its scope, exactly as for q228/q233.
    *
    * Scale shape: banded self-join (never all-pairs) for positives; a
    * ≤ 100-vector broadcast panel (≤ 4950 pairs, constant at any
    * corpus size) for the baseline; both fold d² in-projection and
    * land on 1-row aggregates. The ratio divides the integer MEANS
    * (each ≤ 64·(2·10⁴)² ≈ 2.6·10¹⁰), so no product can overflow.
    */
  def q246(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
      .filter(size(col("embedding")) === 64)
    val sample = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val qs = sample.select(col("vec_id"),
      VectorOps.quantize(col("embedding"), ReleaseOps.EmbQScale).as("qv"))
    val bands = Similarity2.signBands(sample,
      Similarity2.bitsPerBand(spark, dir))
    val pos = Similarity2.bucketPairs(bands, bands)
      .filter(col("va") < col("vb"))
      .join(qs.select(col("vec_id").as("va"), col("qv").as("qa")), "va")
      .join(qs.select(col("vec_id").as("vb"), col("qv").as("qb")), "vb")
      .select(VectorOps.intSqDist(col("qa"), col("qb")).as("d2"))
      .agg(count(lit(1)).as("n_pos_pairs"), sum(col("d2")).as("s_pos"))
    val panel = emb
      .filter(col("vec_id") % AlignPanelMod === 0 &&
        col("vec_id") < AlignPanelMax)
      .select(col("vec_id"),
        VectorOps.quantize(col("embedding"), ReleaseOps.EmbQScale)
          .as("qv"))
    val base = panel.as("a")
      .join(broadcast(panel.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(VectorOps.intSqDist(col("a.qv"), col("b.qv")).as("d2"))
      .agg(count(lit(1)).as("n_base_pairs"), sum(col("d2")).as("s_base"))
    pos.crossJoin(broadcast(base))
      .select(
        col("n_pos_pairs"),
        expr("s_pos div nullif(n_pos_pairs, 0)").as("mean_pos_d2"),
        col("n_base_pairs"),
        expr("s_base div nullif(n_base_pairs, 0)").as("mean_base_d2"),
        expr("(1000 * (s_pos div nullif(n_pos_pairs, 0))) div" +
          " nullif(s_base div nullif(n_base_pairs, 0), 0)")
          .as("alignment_permille"))
  }

  val q246Oracle: String = {
    s"""WITH sample AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE len(embedding) = 64 AND vec_id % 4 = 0),
       |${Similarity2.bandsCtesSql},
       |${Similarity2.candCteSql()},
       |qs AS (
       |  SELECT vec_id,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * ${ReleaseOps.EmbQScale})
       |                AS BIGINT)) AS qv
       |  FROM sample),
       |pos AS (
       |  SELECT count(*) AS n_pos_pairs,
       |         CAST(sum(CAST(list_sum(list_transform(range(1, 65),
       |             i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
       |           AS BIGINT)) AS BIGINT) AS s_pos
       |  FROM (SELECT va, vb FROM cand WHERE va < vb) c
       |  JOIN qs a ON c.va = a.vec_id
       |  JOIN qs b ON c.vb = b.vec_id),
       |panel AS (
       |  SELECT vec_id,
       |         list_transform(embedding, e ->
       |           CAST(floor(CAST(e AS DOUBLE) * ${ReleaseOps.EmbQScale})
       |                AS BIGINT)) AS qv
       |  FROM embeddings
       |  WHERE len(embedding) = 64 AND vec_id % $AlignPanelMod = 0
       |    AND vec_id < $AlignPanelMax),
       |base AS (
       |  SELECT count(*) AS n_base_pairs,
       |         CAST(sum(CAST(list_sum(list_transform(range(1, 65),
       |             i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
       |           AS BIGINT)) AS BIGINT) AS s_base
       |  FROM panel a JOIN panel b ON a.vec_id < b.vec_id)
       |SELECT n_pos_pairs,
       |       s_pos // nullif(n_pos_pairs, 0) AS mean_pos_d2,
       |       n_base_pairs,
       |       s_base // nullif(n_base_pairs, 0) AS mean_base_d2,
       |       (1000 * (s_pos // nullif(n_pos_pairs, 0))) //
       |         nullif(s_base // nullif(n_base_pairs, 0), 0)
       |         AS alignment_permille
       |FROM pos CROSS JOIN base""".stripMargin
  }

  // ---------------------------------------------------------------- q247

  /** Context lengths the packing-efficiency curve is evaluated at. */
  val CtxLens: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)

  /** q247: PADDING-WASTE curve — the cost of the naive "one document
    * per sequence, pad to context length" batching that q109's packer
    * exists to avoid, measured at the standard context lengths. Per
    * ctx: sequences emitted (each doc contributes ceil(ntok/ctx) — the
    * overflow chunks are full, only the last pads), total padded slots,
    * and waste permille. The curve is the evidence for HOW MUCH packing
    * buys at each context length — waste grows with ctx under naive
    * batching, which is exactly why long-context training packs.
    *
    * Scale shape: ONE corpus scan computes all four context lengths'
    * sequence counts as map-side sums in a single aggregate; the
    * 1-row → 4-row unpivot happens after. Integer end to end
    * (ceil(n/c) = (n + c − 1) div c).
    */
  def q247(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = table(spark, dir, "documents")
      .select(size(expr("filter(split(text, ' '), t -> t <> '')"))
        .cast("long").as("ntok"))
    val aggCols =
      Seq(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens")) ++
        CtxLens.map(c =>
          sum(expr(s"(ntok + ${c - 1}) div $c")).as(s"seqs_$c"))
    val one = perDoc.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs =
      CtxLens.map(c => s"${c}L, seqs_$c").mkString(", ")
    one.select(
        expr(s"stack(${CtxLens.size}, $stackArgs) AS (ctx_len, n_seqs)"),
        col("n_docs"), col("n_tokens"))
      .withColumn("padded_tokens", expr("n_seqs * ctx_len"))
      .withColumn("waste_permille",
        expr("(1000 * (padded_tokens - n_tokens)) div padded_tokens"))
      .select(col("ctx_len"), col("n_docs"), col("n_tokens"),
        col("n_seqs"), col("padded_tokens"), col("waste_permille"))
      .orderBy(col("ctx_len"))
  }

  val q247Oracle: String = {
    val seqSums = CtxLens.map(c =>
      s"CAST(sum((ntok + ${c - 1}) // $c) AS BIGINT) AS seqs_$c")
      .mkString(",\n       |         ")
    val arms = CtxLens.map(c =>
      s"SELECT CAST($c AS BIGINT) AS ctx_len, n_docs, n_tokens," +
        s" seqs_$c AS n_seqs FROM a").mkString("\n  UNION ALL\n  ")
    s"""WITH d AS (
       |  SELECT len(list_filter(string_split(text, ' '), t -> t <> ''))
       |           AS ntok
       |  FROM documents),
       |a AS (
       |  SELECT count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |         $seqSums
       |  FROM d),
       |u AS (
       |  $arms)
       |SELECT ctx_len, n_docs, n_tokens, n_seqs,
       |       n_seqs * ctx_len AS padded_tokens,
       |       (1000 * (n_seqs * ctx_len - n_tokens)) //
       |         (n_seqs * ctx_len) AS waste_permille
       |FROM u ORDER BY ctx_len""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q252_neyman_allocation" -> (q252 _),
    "q253_leak_blast_radius" -> (q253 _),
    "q228_semantic_decontam" -> (q228 _),
    "q229_train_order" -> (q229 _),
    "q230_spearman_signals" -> (q230 _),
    "q231_langid_kappa" -> (q231 _),
    "q232_quality_dup_curve" -> (q232 _),
    "q243_quality_auc" -> (q243 _),
    "q244_kn_heldout" -> (q244 _),
    "q245_budget_quality_cut" -> (q245 _),
    "q246_alignment_audit" -> (q246 _),
    "q247_padding_waste" -> (q247 _))

  val oracles: Map[String, String] = Map(
    "q252_neyman_allocation" -> q252Oracle,
    "q253_leak_blast_radius" -> q253Oracle,
    "q228_semantic_decontam" -> q228Oracle,
    "q229_train_order" -> q229Oracle,
    "q230_spearman_signals" -> q230Oracle,
    "q231_langid_kappa" -> q231Oracle,
    "q232_quality_dup_curve" -> q232Oracle,
    "q243_quality_auc" -> q243Oracle,
    "q244_kn_heldout" -> q244Oracle,
    "q245_budget_quality_cut" -> q245Oracle,
    "q246_alignment_audit" -> q246Oracle,
    "q247_padding_waste" -> q247Oracle)
}
