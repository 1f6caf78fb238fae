package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table

/** q158-q159: product quantization (PQ) — the ANN compression scheme a
  * 100 TB embedding store actually needs (IVF alone still reads full
  * vectors; PQ stores one small code per subspace per vector and
  * evaluates candidate distances from a per-probe lookup table). The
  * 64-dim embedding splits into [[PqM]] = 16 contiguous 4-dim
  * subspaces; one multi-subspace Lloyd trainer fits all 16 codebooks
  * (k = [[PqK]]) in a SINGLE corpus pass per iteration, every vector
  * encodes to 16 codes (16 bytes vs 256 bytes of float32 — 16×
  * compression), and search is the production two-stage shape:
  * asymmetric distance computation (ADC) over the codes shortlists
  * [[PqShortlist]] candidates per probe, then the shortlist re-ranks
  * by EXACT distance (full vectors are read only for the ~50
  * shortlisted ids, never for the corpus). Measured on this corpus:
  * the shortlist captures 8-9 of the exact top-10 (spec-pinned floor).
  *
  * Everything is integer: quantization is `floor(x·10⁴)`, distances
  * are int64 squared L2, argmin ties break toward the lower centroid
  * id — so train → encode → shortlist → re-rank is verified
  * cross-engine under the hash gate (the q94 oracle device,
  * generalized: the DuckDB twin unrolls the SAME Lloyd rounds with the
  * subspace id riding every key).
  */
object Similarity3 {

  private[graft] val PqM = 16 // subspaces
  private[graft] val PqSubDim = 4 // dims per subspace (embedding dim 64)
  private[graft] val PqK = 16 // centroids per subspace
  private[graft] val PqIters = 3 // Lloyd rounds (unrolled in the oracle)
  private[graft] val PqScale = 10000L

  private def intDist(a: Column, b: Column): Column =
    graft.functions.VectorOps.intSqDist(a, b) // native codegen'd fold

  /** Quantized subvector frame (vec_id, s, xq): one corpus pass, the
    * M slices exploded from a single array literal.
    */
  private def subVectors(spark: SparkSession, dir: String): DataFrame = {
    val slices = (0 until PqM).map { s =>
      expr(s"transform(slice(embedding, ${s * PqSubDim + 1}, $PqSubDim), " +
        s"x -> CAST(floor(CAST(x AS DOUBLE) * ${PqScale}D) AS BIGINT))")
    }
    table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(array(slices: _*)).as(Seq("s", "xq")))
  }

  /** Multi-subspace Lloyd trainer: all [[PqM]] codebooks fit together,
    * ONE corpus shuffle per iteration (16 independent fitQuantized
    * runs would scan 16×). Contract matches
    * [[graft.ops.KMeans.fitQuantized]] per subspace exactly — seeding
    * by the k lowest vec_ids (same vectors for every subspace),
    * integer squared-L2 assignment with ties toward the lower cent_id,
    * `floor(sum/count)` updates with the loud n·max|xq| < 2⁵³ budget
    * guard, emptied clusters keep their previous centroid — so the
    * oracle's unrolled-CTE twin (and any rerun at any partitioning)
    * reproduces the codebook bit-for-bit.
    *
    * Driver traffic per round: M·k·subdim partial sums (1024 longs
    * here) — the codebook, nothing data-sized.
    */
  /** Memoized (subs, codebook) per (session, dir): q158 and q159 both
    * need the trained codebook and the quantized subvector frame —
    * without sharing, a bench run of the pair pays the collect-driven
    * Lloyd training (and its corpus scans) twice for a bit-identical
    * result. `subs` is localCheckpoint'ed once here and reused for
    * train, encode, and the probe table; the codebook is a driver-side
    * M·k-row frame, cheap to rebuild from its map. `rotated` fits the
    * q262 OPQ layout ([[subVectorsRotated]]) as its own artifact.
    */
  private def fitted(spark: SparkSession, dir: String,
      rotated: Boolean = false): (DataFrame, DataFrame) =
    Artifacts.get(spark, dir,
        if (rotated) "Similarity3.fittedRotated" else "Similarity3.fitted") {
      val subs = (if (rotated) subVectorsRotated(spark, dir)
        else subVectors(spark, dir)).localCheckpoint()
      (subs, pqFit(spark, subs))
    }

  private def pqFit(spark: SparkSession, subs: DataFrame): DataFrame = {
    import spark.implicits._

    def cbDf(cb: Map[(Int, Int), Array[Long]]): DataFrame =
      cb.toSeq.map { case ((s, c), v) => (s, c, v.toSeq) }
        .toDF("s", "cent_id", "cq")

    def assign(cb: Map[(Int, Int), Array[Long]]): DataFrame =
      subs.join(broadcast(cbDf(cb)), Seq("s"))
        .select(col("vec_id"), col("s"),
          struct(intDist(col("xq"), col("cq")).as("dist"),
            col("cent_id").as("cent_id")).as("dc"))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(col("dc")).as("best"))
        .select(col("vec_id"), col("s"),
          col("best.cent_id").as("cluster"))

    val seedIds = subs.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(PqK).as[Long].collect()
    require(seedIds.length == PqK, s"need >= $PqK vectors to seed")
    val rank = seedIds.sorted.zipWithIndex.toMap
    var cb: Map[(Int, Int), Array[Long]] = subs
      .filter(col("vec_id").isin(seedIds: _*))
      .collect()
      .map { r => ((r.getInt(1), rank(r.getLong(0))),
        r.getSeq[Long](2).toArray) }
      .toMap

    for (_ <- 1 to PqIters) {
      val upd = assign(cb)
        .join(subs, Seq("vec_id", "s"))
        .select(col("s"), col("cluster"), posexplode(col("xq")).as(Seq("dim", "v")))
        .groupBy(col("s"), col("cluster"), col("dim"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
          max(abs(col("v"))).as("ma"))
        .collect()
      val next = upd.groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          val v = new Array[Long](PqSubDim)
          rows.foreach { r: Row =>
            val (sv, n, ma) = (r.getLong(3), r.getLong(4), r.getLong(5))
            require(BigInt(n) * BigInt(ma) < (BigInt(1) << 53),
              s"pqFit budget breached at $key dim ${r.getInt(2)}: n=$n " +
                s"max|xq|=$ma — n·max|xq| must stay < 2^53")
            v(r.getInt(2)) = math.floor(sv.toDouble / n).toLong
          }
          (key, v)
        }
      cb = cb.map { case (key, old) => (key, next.getOrElse(key, old)) }
    }
    cbDf(cb)
  }

  /** PQ encode: per (vector, subspace), the nearest codebook entry by
    * int64 squared L2, ties toward the lower cent_id — ONE corpus pass
    * against the broadcast M·k-row codebook (the shape that writes the
    * 16-byte-per-vector index at 100 TB). Carries the residual for
    * q159.
    */
  private def encode(subs: DataFrame, cb: DataFrame): DataFrame =
    subs
      .join(broadcast(cb), Seq("s"))
      .select(col("vec_id"), col("s"),
        struct(intDist(col("xq"), col("cq")).as("dist"),
          col("cent_id").as("cent_id")).as("dc"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("dc")).as("best"))
      .select(col("vec_id"), col("s"),
        col("best.cent_id").cast("long").as("code"),
        col("best.dist").as("resid"))

  /** Memoized encoded-codes frame per (session, dir): q158 and q159
    * (and their bench reruns) each consumed a fresh encode pass over
    * the corpus for a bit-identical (vec_id, s, code, resid) result —
    * the index TABLE is as cacheable as the codebook that built it
    * (M small ints per vector, checkpointed).
    */
  private def encoded(spark: SparkSession, dir: String): DataFrame =
    Artifacts.get(spark, dir, "Similarity3.encoded") {
      val (subs, cb) = fitted(spark, dir)
      encode(subs, cb).localCheckpoint()
    }

  // ---------------------------------------------------------------- q158

  /** q158 probes — the q94 panel, so IVF and PQ search the same ids. */
  val PqProbeLo = 10L
  val PqProbeHi = 14L
  val PqShortlist = 50
  val PqTopK = 3

  /** PQ two-stage top-k: each probe precomputes its (subspace,
    * centroid) distance table — [[PqM]]·[[PqK]] integers, broadcast —
    * every corpus vector's ADC estimate is the sum of [[PqM]] lookups
    * at its stored codes, the best [[PqShortlist]] per probe form the
    * candidate set, and the candidates re-rank by exact int64 squared
    * L2 over their FULL vectors.
    *
    * Scale shape: stage 1 touches only the codes frame (16 small ints
    * per vector) plus an M·k-row broadcast table; stage 2 reads full
    * vectors for probes·shortlist ids only — a semi-join-bounded
    * lookup, not a scan. Both ranks are per-probe windows with literal
    * bounds; ties break on neighbor_id everywhere.
    */
  def q158(spark: SparkSession, dir: String): DataFrame = {
    val (subs, cb) = fitted(spark, dir)
    val codes = encoded(spark, dir)
    val ptab = subs
      .filter(col("vec_id").between(PqProbeLo, PqProbeHi))
      .select(col("vec_id").as("probe_id"), col("s").as("ps"), col("xq"))
      .join(broadcast(cb), col("ps") === col("s"))
      .select(col("probe_id"), col("s"), col("cent_id"),
        intDist(col("xq"), col("cq")).as("pdist"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val shortlist = codes
      .join(broadcast(ptab),
        codes("s") === ptab("s") && codes("code") === ptab("cent_id") &&
          codes("vec_id") =!= ptab("probe_id"))
      .groupBy(col("probe_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("pdist")).as("adc_dist"))
      .withColumn("adc_rnk", row_number().over(wAdc))
      .filter(col("adc_rnk") <= PqShortlist)
      .select(col("probe_id"), col("neighbor_id"), col("adc_dist"))
    val full = table(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * " +
          s"${PqScale}D) AS BIGINT))").as("fq"))
    val wExact = Window.partitionBy(col("probe_id"))
      .orderBy(col("exact_dist"), col("neighbor_id"))
    shortlist
      .join(broadcast(full
          .filter(col("vec_id").between(PqProbeLo, PqProbeHi))
          .select(col("vec_id").as("probe_id"), col("fq").as("pq_"))),
        Seq("probe_id"))
      .join(full.select(col("vec_id").as("neighbor_id"), col("fq").as("nq")),
        Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), col("adc_dist"),
        intDist(col("pq_"), col("nq")).as("exact_dist"))
      .withColumn("rnk", row_number().over(wExact).cast("long"))
      .filter(col("rnk") <= PqTopK)
      .orderBy(col("probe_id"), col("rnk"))
  }

  // ---------------------------------------------------------------- q159

  /** PQ residual audit — the compression-quality table published next
    * to a PQ index: per subspace, the count, mean (integer div), and
    * max of the encode residuals, plus how many distinct codes are in
    * use (dead codes mean wasted codebook capacity).
    */
  def q159(spark: SparkSession, dir: String): DataFrame =
    encoded(spark, dir)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(resid) div count(*)").as("avg_resid"),
        max(col("resid")).as("max_resid"),
        countDistinct(col("code")).as("codes_used"))
      .select(col("s").cast("long").as("s"), col("n_vecs"),
        col("avg_resid"), col("max_resid"), col("codes_used"))
      .orderBy(col("s"))

  // ------------------------------------------------------------ oracles

  /** One unrolled Lloyd round over ALL subspaces at once: the global
    * dim index `d` determines the subspace, so joining on `d` confines
    * every distance/update to its own subspace; `s` rides the keys.
    */
  private def pqIterCtes(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""a$i AS (
       |  SELECT eq.vec_id, c.s, c.cent_id,
       |         sum((eq.x - c.x) * (eq.x - c.x)) AS dist
       |  FROM eq JOIN $prev c ON eq.d = c.d
       |  GROUP BY eq.vec_id, c.s, c.cent_id),
       |asg$i AS (
       |  SELECT vec_id, s, cent_id AS cluster FROM (
       |    SELECT vec_id, s, cent_id,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, cent_id) AS rn
       |    FROM a$i) t
       |  WHERE rn = 1),
       |u$i AS (
       |  SELECT g.s, g.cluster AS cent_id, eq.d,
       |         CAST(floor(CAST(sum(eq.x) AS DOUBLE) / count(*)) AS BIGINT) AS x
       |  FROM asg$i g JOIN eq ON g.vec_id = eq.vec_id AND eq.s = g.s
       |  GROUP BY g.s, g.cluster, eq.d),
       |c$i AS (
       |  SELECT c.s, c.cent_id, c.d, COALESCE(u.x, c.x) AS x
       |  FROM $prev c LEFT JOIN u$i u
       |    ON c.s = u.s AND c.cent_id = u.cent_id AND c.d = u.d)""".stripMargin
  }

  /** Shared CTE prefix ending in `codes(vec_id, s, cluster, resid)` —
    * quantize, seed (k lowest vec_ids per subspace, same vectors for
    * every subspace, exactly pqFit's contract), [[PqIters]] unrolled
    * rounds, final assignment with residual.
    */
  private val pqCodesCte: String = {
    val cf = s"c$PqIters"
    s"""eq AS (
       |  SELECT vec_id,
       |         CAST((generate_subscripts(embedding, 1) - 1) // $PqSubDim
       |              AS INT) AS s,
       |         generate_subscripts(embedding, 1) AS d,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $PqScale)
       |              AS BIGINT) AS x
       |  FROM embeddings),
       |c0 AS (
       |  SELECT s, CAST(rnk - 1 AS INT) AS cent_id, d, x FROM (
       |    SELECT vec_id, s, d, x, dense_rank() OVER (ORDER BY vec_id) AS rnk
       |    FROM eq) t
       |  WHERE rnk <= $PqK),
       |${(1 to PqIters).map(pqIterCtes).mkString(",\n")},
       |aF AS (
       |  SELECT eq.vec_id, c.s, c.cent_id,
       |         sum((eq.x - c.x) * (eq.x - c.x)) AS dist
       |  FROM eq JOIN $cf c ON eq.d = c.d
       |  GROUP BY eq.vec_id, c.s, c.cent_id),
       |codes AS (
       |  SELECT vec_id, s, cent_id AS cluster, dist AS resid FROM (
       |    SELECT vec_id, s, cent_id, dist,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, cent_id) AS rn
       |    FROM aF) t
       |  WHERE rn = 1)""".stripMargin
  }

  val q158Oracle: String =
    s"""WITH $pqCodesCte,
       |ptab AS (
       |  SELECT eq.vec_id AS probe_id, c.s, c.cent_id,
       |         sum((eq.x - c.x) * (eq.x - c.x)) AS pdist
       |  FROM eq JOIN c$PqIters c ON eq.d = c.d
       |  WHERE eq.vec_id BETWEEN $PqProbeLo AND $PqProbeHi
       |  GROUP BY eq.vec_id, c.s, c.cent_id),
       |adc AS (
       |  SELECT p.probe_id, k.vec_id AS neighbor_id,
       |         CAST(sum(p.pdist) AS BIGINT) AS adc_dist
       |  FROM codes k
       |  JOIN ptab p ON p.s = k.s AND p.cent_id = k.cluster
       |    AND k.vec_id <> p.probe_id
       |  GROUP BY p.probe_id, k.vec_id),
       |short AS (
       |  SELECT probe_id, neighbor_id, adc_dist FROM (
       |    SELECT probe_id, neighbor_id, adc_dist,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY adc_dist, neighbor_id) AS rn
       |    FROM adc) t
       |  WHERE rn <= $PqShortlist),
       |rer AS (
       |  SELECT sh.probe_id, sh.neighbor_id, sh.adc_dist,
       |         CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS exact_dist
       |  FROM short sh
       |  JOIN eq a ON a.vec_id = sh.probe_id
       |  JOIN eq b ON b.vec_id = sh.neighbor_id AND b.d = a.d
       |  GROUP BY sh.probe_id, sh.neighbor_id, sh.adc_dist),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, adc_dist, exact_dist,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY exact_dist, neighbor_id) AS rnk
       |  FROM rer)
       |SELECT probe_id, neighbor_id, adc_dist, exact_dist,
       |       CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $PqTopK
       |ORDER BY probe_id, rnk""".stripMargin

  val q159Oracle: String =
    s"""WITH $pqCodesCte
       |SELECT CAST(s AS BIGINT) AS s, count(*) AS n_vecs,
       |       CAST(sum(resid) // count(*) AS BIGINT) AS avg_resid,
       |       CAST(max(resid) AS BIGINT) AS max_resid,
       |       count(DISTINCT cluster) AS codes_used
       |FROM codes GROUP BY s ORDER BY s""".stripMargin

  // ---------------------------------------------------------------- q262

  /** The deterministic signed permutation of the [[q262]] pre-rotation:
    * output dim j (0-based) reads source dim `opqMap(j)._1` (1-based)
    * scaled by sign `opqMap(j)._2` (±1). Derived from the shared
    * md5-h60 (the q237 jlSigns device): source order = dims ranked by
    * h60("opq:perm:d"), sign = parity of h60("opq:sign:j"). A signed
    * permutation is an ORTHOGONAL transform — norms and pairwise
    * distances are preserved exactly — and, unlike a dense rotation, it
    * stays integer-exact after quantization (multiplying a float by
    * ±1.0 is lossless), so the whole rotated training chain sits under
    * the hash gate. ONE Scala value is interpolated into BOTH the
    * engine expressions and the oracle's `pmap` VALUES literal, so the
    * map cannot fork between engines.
    */
  private[graft] lazy val opqMap: Array[(Int, Int)] = {
    def h(s: String): Long = graft.functions.CrossHash.h60FromDigest(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))
    val dim = PqM * PqSubDim
    val srcOrder = (1 to dim).sortBy(d => (h(s"opq:perm:$d"), d))
    Array.tabulate(dim) { j =>
      (srcOrder(j), if (h(s"opq:sign:${j + 1}") % 2 == 0) 1 else -1)
    }
  }

  /** Rotated quantized subvector frame: xq[j] = floor(sign_j ·
    * x[perm_j] · 10⁴), sliced into the same [[PqM]] subspaces. Same
    * single-corpus-pass shape as [[subVectors]].
    */
  private def subVectorsRotated(spark: SparkSession, dir: String): DataFrame = {
    val slices = (0 until PqM).map { s =>
      val elems = (0 until PqSubDim).map { j =>
        val (src, sgn) = opqMap(s * PqSubDim + j)
        expr(s"CAST(floor((${sgn}.0D * CAST(element_at(embedding, $src) AS DOUBLE))" +
          s" * ${PqScale}D) AS BIGINT)")
      }
      array(elems: _*)
    }
    table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(array(slices: _*)).as(Seq("s", "xq")))
  }

  /** q262: OPQ-style PRE-ROTATION for product quantization (Ge et al.
    * 2013, "Optimized Product Quantization" — the parametric insight:
    * PQ's per-subspace error depends on how dimensions are ALLOCATED to
    * subspaces, so transform the space before slicing). Full OPQ learns
    * the rotation by alternating SVD solves — not expressible as an
    * exact cross-engine chain — so this is the deterministic member of
    * the family: a signed-permutation rotation ([[opqMap]]) that
    * re-allocates dimensions across subspaces, then the SAME
    * integer-exact PQ trainer fits both layouts and the query reports,
    * per subspace, the total quantization error of baseline vs rotated
    * plus the integer-permille gain — the evidence table an OPQ
    * deployment decides from (negative gain = the rotation hurt that
    * subspace; both engines truncate the division toward zero).
    *
    * Scale shape: two independent PQ trainings (each the proven n·M·k
    * single-pass-per-round shape), both memoized; output is M rows.
    * Int64 budget: resid ≤ subdim·(2·scale)² ≈ 6.4e9 per (vec, s), so
    * the ×1000 permille numerator stays under 2⁶³ to ~5e9 vectors.
    */
  def q262(spark: SparkSession, dir: String): DataFrame = {
    val base = encoded(spark, dir).groupBy(col("s"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("resid")).as("resid_base"))
    val (rsubs, rcb) = fitted(spark, dir, rotated = true)
    val rot = encode(rsubs, rcb).groupBy(col("s"))
      .agg(sum(col("resid")).as("resid_rot"))
    base.join(rot, Seq("s"))
      .select(col("s").cast("long").as("s"), col("n_vecs"),
        col("resid_base"), col("resid_rot"),
        expr("((resid_base - resid_rot) * 1000) div greatest(resid_base, 1)")
          .as("gain_permille"))
      .orderBy(col("s"))
  }

  /** Prefixed, MATERIALIZED clone of the [[pqCodesCte]] chain for
    * oracles that need TWO independent trainings in one statement
    * (q262: baseline + rotated). `eqCte` supplies the full definition
    * of `${p}eq`; every other CTE name is prefixed. Emits
    * `${p}codes(vec_id, s, cluster, resid)`. The generated shape
    * mirrors pqCodesCte exactly (same seeding, rounds, ties, updates) —
    * MATERIALIZED added because the doubly-referenced two-chain tree
    * re-executes exponentially un-hinted (the kmAssignCtes lesson).
    */
  private def pqCodesCteP(p: String, eqCte: String): String = {
    def iter(i: Int): String = {
      val prev = s"${p}c${i - 1}"
      s"""${p}a$i AS MATERIALIZED (
         |  SELECT eq.vec_id, c.s, c.cent_id,
         |         sum((eq.x - c.x) * (eq.x - c.x)) AS dist
         |  FROM ${p}eq eq JOIN $prev c ON eq.d = c.d
         |  GROUP BY eq.vec_id, c.s, c.cent_id),
         |${p}asg$i AS MATERIALIZED (
         |  SELECT vec_id, s, cent_id AS cluster FROM (
         |    SELECT vec_id, s, cent_id,
         |           row_number() OVER (PARTITION BY vec_id, s
         |                              ORDER BY dist, cent_id) AS rn
         |    FROM ${p}a$i) t
         |  WHERE rn = 1),
         |${p}u$i AS MATERIALIZED (
         |  SELECT g.s, g.cluster AS cent_id, eq.d,
         |         CAST(floor(CAST(sum(eq.x) AS DOUBLE) / count(*)) AS BIGINT) AS x
         |  FROM ${p}asg$i g JOIN ${p}eq eq
         |    ON g.vec_id = eq.vec_id AND eq.s = g.s
         |  GROUP BY g.s, g.cluster, eq.d),
         |${p}c$i AS MATERIALIZED (
         |  SELECT c.s, c.cent_id, c.d, COALESCE(u.x, c.x) AS x
         |  FROM $prev c LEFT JOIN ${p}u$i u
         |    ON c.s = u.s AND c.cent_id = u.cent_id AND c.d = u.d)""".stripMargin
    }
    s"""$eqCte,
       |${p}c0 AS MATERIALIZED (
       |  SELECT s, CAST(rnk - 1 AS INT) AS cent_id, d, x FROM (
       |    SELECT vec_id, s, d, x, dense_rank() OVER (ORDER BY vec_id) AS rnk
       |    FROM ${p}eq) t
       |  WHERE rnk <= $PqK),
       |${(1 to PqIters).map(iter).mkString(",\n")},
       |${p}aF AS MATERIALIZED (
       |  SELECT eq.vec_id, c.s, c.cent_id,
       |         sum((eq.x - c.x) * (eq.x - c.x)) AS dist
       |  FROM ${p}eq eq JOIN ${p}c$PqIters c ON eq.d = c.d
       |  GROUP BY eq.vec_id, c.s, c.cent_id),
       |${p}codes AS MATERIALIZED (
       |  SELECT vec_id, s, cent_id AS cluster, dist AS resid FROM (
       |    SELECT vec_id, s, cent_id, dist,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, cent_id) AS rn
       |    FROM ${p}aF) t
       |  WHERE rn = 1)""".stripMargin
  }

  val q262Oracle: String = {
    val dim = PqM * PqSubDim
    val pmapVals = opqMap.zipWithIndex
      .map { case ((src, sgn), j) => s"(${j + 1}, $src, $sgn)" }.mkString(", ")
    val eqStd =
      s"""eq AS MATERIALIZED (
         |  SELECT vec_id,
         |         CAST((generate_subscripts(embedding, 1) - 1) // $PqSubDim
         |              AS INT) AS s,
         |         generate_subscripts(embedding, 1) AS d,
         |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $PqScale)
         |              AS BIGINT) AS x
         |  FROM embeddings)""".stripMargin
    val eqRot =
      s"""rraw AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS sd,
         |         CAST(unnest(embedding) AS DOUBLE) AS xf
         |  FROM embeddings),
         |pmap(outd, srcd, sgn) AS (VALUES $pmapVals),
         |req AS MATERIALIZED (
         |  SELECT r.vec_id,
         |         CAST((p.outd - 1) // $PqSubDim AS INT) AS s,
         |         p.outd AS d,
         |         CAST(floor((CAST(p.sgn AS DOUBLE) * r.xf) * $PqScale)
         |              AS BIGINT) AS x
         |  FROM rraw r JOIN pmap p ON p.srcd = r.sd)""".stripMargin
    s"""WITH ${pqCodesCteP("", eqStd)},
       |${pqCodesCteP("r", eqRot)},
       |base AS (
       |  SELECT s, count(*) AS n_vecs,
       |         CAST(sum(resid) AS BIGINT) AS resid_base
       |  FROM codes GROUP BY s),
       |rot AS (
       |  SELECT s, CAST(sum(resid) AS BIGINT) AS resid_rot
       |  FROM rcodes GROUP BY s)
       |SELECT CAST(b.s AS BIGINT) AS s, b.n_vecs, b.resid_base, r.resid_rot,
       |       ((b.resid_base - r.resid_rot) * 1000)
       |         // greatest(b.resid_base, 1) AS gain_permille
       |FROM base b JOIN rot r ON r.s = b.s
       |ORDER BY s""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_pq_ann" -> (q158 _),
    "q159_pq_residuals" -> (q159 _),
    "q262_opq_rotation" -> (q262 _))

  val oracles: Map[String, String] = Map(
    "q158_pq_ann" -> q158Oracle,
    "q159_pq_residuals" -> q159Oracle,
    "q262_opq_rotation" -> q262Oracle)
}
