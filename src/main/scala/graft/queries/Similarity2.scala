package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table
import graft.functions.VectorOps

/** q42-q43: embedding-cosine near-dup detection and the cross-modal
  * (documents ⋈ embeddings) join surface.
  */
object Similarity2 {

  // ---------------------------------------------------------------- q42

  /** Sign-LSH parameters: [[SigBands]]=4 bands of `bpb` random
    * hyperplanes each, where `bpb` GROWS with the corpus
    * ([[bitsPerBand]]) — a random (unrelated) pair collides in a band
    * with p = 2⁻ᵇᵖᵇ, so keeping 2ᵇᵖᵇ ∝ n keeps the expected random
    * candidate volume LINEAR in n (at fixed band bits it grows ~n²/2ᵇᵖᵇ
    * — the round-11 verdict's q42/q246 3.6-3.8× sf1 ratios). A
    * cosine-0.9 near-dup still collides with p = (1 − arccos .9/π)ᵇᵖᵇ
    * per band (≈ 0.29 at bpb=8, ≈ 0.16 at bpb=11) across 4 bands.
    */
  private val SigBands = 4
  /** Floor: the round-≤11 fixed banding (sf0.01/sf0.1 land here, so
    * their hashes are unchanged). Ceiling: 4×16 = 64 planes inlined. */
  private[queries] val MinBitsPerBand = 8
  private[queries] val MaxBitsPerBand = 16
  private val Dims = 64
  private val QScale = 10000.0 // embedding quantization: floor(x·10⁴)
  private val WScale = 1000.0 // plane quantization: floor(w·10³)

  /** Corpus-adaptive band width — the [[Similarity.kForCorpus]] rule
    * applied to the LSH index: `clamp(8..16, bitlen(n) − 4)` over the
    * embeddings-table row count, i.e. 2ᵇᵖᵇ tracks n/16..n/32 so random
    * collisions stay ~linear. Exact bit-length (`64 − nlz`), no float
    * log2 — the oracle derives the identical value from
    * `length(bin(count(*)))` in its `params` CTE, so the DERIVATION is
    * hash-verified cross-engine, not just the result. Memoized per
    * (session, dir): one narrow count(*), shared by all four consumers
    * (q42/q103/q110/q246).
    */
  private[queries] def bitsPerBand(spark: SparkSession, dir: String): Int =
    Artifacts.get(spark, dir, "Similarity2.bitsPerBand") {
      val n = table(spark, dir, "embeddings").count()
      bitsForCount(n)
    }

  /** The pure derivation rule (spec hook — engine and model share it). */
  private[graft] def bitsForCount(n: Long): Int = {
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(n)
    math.min(MaxBitsPerBand, math.max(MinBitsPerBand, bitlen - 4))
  }

  /** Integer plane weights, derived from [[SignLSH.planeComponent]] at
    * query-build time and inlined as LITERALS on both engines — the
    * whole bucketing is int64 arithmetic (quantized embedding · integer
    * plane), so signatures are bit-identical across Spark and DuckDB
    * with no floating-point sign ambiguity near the hyperplane.
    * Tabulated to the CEILING plane count; a given corpus uses the
    * first `4·bpb`.
    */
  private lazy val planesQ: Array[Array[Long]] =
    Array.tabulate(SigBands * MaxBitsPerBand, Dims)((j, d) =>
      math.floor(graft.functions.SignLSH.planeComponent(j, d) * WScale).toLong)

  /** Embedding near-dup detection, sign-LSH bucketed (the 100 TB shape —
    * the round-3 all-pairs crossJoin formulation is gone): quantize each
    * sample vector to int64 (`floor(x·10⁴)`), take 32 hyperplane signs
    * in exact integer arithmetic, band them 4×bpb into bucket keys, and
    * self-join on (band, bucket) — candidates ≪ n², no crossJoin
    * anywhere in the plan. Candidates are then verified with the exact
    * codegen'd cosine and each vector keeps its best candidate
    * (sim desc, id asc). Vectors whose buckets are all singletons emit
    * NULL neighbors — one row per sample vector either way, so the
    * output contract is scale-stable. The two band-explode sides are
    * identical subtrees, so Spark reuses one exchange for both
    * (ReusedExchange), same as q21.
    */
  /** Sign-LSH band signatures for any `(vec_id, embedding)` frame — THE
    * engine-side copy of the bucketing (quantize → integer hyperplane
    * dots → [[SigBands]]×[[BitsPerBand]] banded sign bits). q42 (the
    * index) and q103 (the recall evaluation of that index) both route
    * through here, so the index under test and the index being graded
    * can never fork. Pure narrow projection — no shuffle.
    */
  private[queries] def signBands(sample: DataFrame, bpb: Int): DataFrame = {
    require(bpb >= MinBitsPerBand && bpb <= MaxBitsPerBand, s"bpb=$bpb")
    val xq = sample.withColumn("xq", expr(
      s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${QScale}D) AS BIGINT))"))
    def dotQ(j: Int): Column = aggregate(
      zip_with(col("xq"), typedLit(planesQ(j).toSeq), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    def bandVal(b: Int): Column = (0 until bpb).map { i =>
      when(dotQ(b * bpb + i) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bandStructs = (0 until SigBands).map(b =>
      struct(lit(b).as("band_idx"), bandVal(b).as("bv")))
    xq.select(col("vec_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("vec_id"), col("band.band_idx").as("band_idx"),
        col("band.bv").as("bv"))
  }

  /** Bucket-collision pairs: left ⋈ right on (band_idx, bv) with id
    * inequality, deduped so a pair colliding in several bands appears
    * once. Right-side columns beyond the band triple survive the dedup
    * (q110 carries the voter's label through). THE single copy of the
    * pairing predicate — q42 (the index), q103 (its recall harness),
    * and q110 (propagation over it) all pair through here, so the
    * collision rule can never fork between the index and its consumers.
    */
  private[queries] def bucketPairs(left: DataFrame, right: DataFrame): DataFrame = {
    val extra = right.columns.filterNot(Set("vec_id", "band_idx", "bv")).toSeq
    left.as("a").join(right.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
      col("a.bv") === col("b.bv") &&
      col("a.vec_id") =!= col("b.vec_id"))
      .select((Seq(col("a.vec_id").as("va"), col("b.vec_id").as("vb")) ++
        extra.map(c => col(s"b.$c"))): _*)
      .distinct()
  }

  /** DuckDB twin of [[bucketPairs]] over the `bands` CTE as a `cand`
    * CTE; `leftWhere` restricts the probe side (q103's panel).
    */
  private[queries] def candCteSql(leftWhere: String = ""): String =
    s"""cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.bv = b.bv
       |   AND a.vec_id <> b.vec_id
       |  $leftWhere)""".stripMargin

  def q42(spark: SparkSession, dir: String): DataFrame = {
    val sample = table(spark, dir, "embeddings")
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"))
    val bands = signBands(sample, bitsPerBand(spark, dir))
    val cand = bucketPairs(bands, bands)
    val w = Window.partitionBy(col("va")).orderBy(col("sim").desc, col("vb"))
    val nn = cand
      .join(sample.select(col("vec_id").as("va_id"), col("embedding").as("ea")),
        col("va") === col("va_id"))
      .join(sample.select(col("vec_id").as("vb_id"), col("embedding").as("eb")),
        col("vb") === col("vb_id"))
      .select(col("va"), col("vb"),
        round(VectorOps.cosineNative(col("ea"), col("eb")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    sample.select(col("vec_id"))
      .join(nn, col("vec_id") === col("va"), "left")
      .select(col("vec_id"), col("vb").as("nn_id"), col("sim"),
        (col("sim") >= 0.3).as("is_near_dup"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin of [[signBands]] as a CTE chain
    * `w → params → e → dots → bands` over an existing
    * `sample(vec_id, embedding)` CTE — shared verbatim by the
    * q42/q103/q110/q246 oracles (same single-copy rationale). `params`
    * DERIVES bpb from `count(*)` over the embeddings table with the
    * exact-bit-length rule (`length(bin(n))` = floor(log2 n)+1, no
    * float log), so a corpus that flips the engine into a wider banding
    * flips the oracle identically — the adaptive rule itself is under
    * the hash gate. All 64 ceiling planes are inlined; `dots` prices
    * only the first `4·bpb`.
    */
  private[queries] lazy val bandsCtesSql: String = {
    val wRows = (for {
      j <- 0 until SigBands * MaxBitsPerBand
      d <- 0 until Dims
    } yield s"($j,${d + 1},${planesQ(j)(d)})").mkString(",")
    s"""w(j, d, wt) AS (VALUES $wRows),
       |params AS (
       |  SELECT LEAST($MaxBitsPerBand,
       |               GREATEST($MinBitsPerBand, length(bin(count(*))) - 4))
       |           AS bpb
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * ${QScale}) AS BIGINT) AS xq,
       |         generate_subscripts(embedding, 1) AS d
       |  FROM sample),
       |dots AS (
       |  SELECT e.vec_id, w.j, sum(e.xq * w.wt) AS dot
       |  FROM e JOIN w ON e.d = w.d, params p
       |  WHERE w.j < $SigBands * p.bpb
       |  GROUP BY e.vec_id, w.j),
       |bands AS (
       |  SELECT vec_id, CAST(j // p.bpb AS INT) AS band_idx,
       |         CAST(sum(CASE WHEN dot >= 0
       |                  THEN (1 << CAST(j % p.bpb AS INT))
       |                  ELSE 0 END) AS BIGINT) AS bv
       |  FROM dots, params p GROUP BY 1, 2)""".stripMargin
  }

  val q42Oracle: String = {
    s"""WITH sample AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
       |$bandsCtesSql,
       |${candCteSql()},
       |pairs AS (
       |  SELECT c.va, c.vb, sa.embedding AS pe, sb.embedding AS ne
       |  FROM cand c
       |  JOIN sample sa ON c.va = sa.vec_id
       |  JOIN sample sb ON c.vb = sb.vec_id),
       |un AS (
       |  SELECT va, vb, CAST(unnest(pe) AS DOUBLE) AS x,
       |         CAST(unnest(ne) AS DOUBLE) AS y
       |  FROM pairs),
       |sims AS (
       |  SELECT va, vb,
       |         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
       |           AS sim
       |  FROM un GROUP BY va, vb),
       |nn AS (
       |  SELECT va, vb, sim,
       |         row_number() OVER (PARTITION BY va
       |                            ORDER BY sim DESC, vb) AS rn
       |  FROM sims)
       |SELECT s.vec_id, nn.vb AS nn_id, nn.sim, nn.sim >= 0.3 AS is_near_dup
       |FROM sample s LEFT JOIN nn ON s.vec_id = nn.va AND nn.rn = 1
       |ORDER BY s.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q43

  /** Cross-modal join: text features and vector features of the same
    * corpus item combined in one pass — documents ⋈ embeddings on id,
    * rolled up per (lang, label). The join key is the corpus id, so both
    * modalities co-partition; at scale this is a bucketed or
    * storage-partitioned join with zero extra shuffle.
    */
  def q43(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .join(table(spark, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .select(col("lang"), col("label"),
        col("n_chars"),
        VectorOps.l2Norm(col("embedding")).as("norm"))
      .groupBy(col("lang"), col("label"))
      .agg(
        count(lit(1)).as("n_items"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("norm")), 4).as("avg_norm"))
      .orderBy(col("lang"), col("label"))

  // per-vector DOUBLE sum of 64 unit-scale squares (not an int64
  // moment; magnitude ~1e0) — no overflow budget applies
  val q43Oracle: String =
    """WITH un AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |norms AS (
      |  SELECT vec_id, label, sqrt(sum(x * x)) AS norm
      |  FROM un GROUP BY vec_id, label)
      |SELECT d.lang, n.label,
      |       count(*) AS n_items,
      |       round(avg(d.n_chars), 2) AS avg_chars,
      |       round(avg(n.norm), 4) AS avg_norm
      |FROM documents d JOIN norms n ON d.doc_id = n.vec_id
      |GROUP BY d.lang, n.label ORDER BY d.lang, n.label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_embedding_neardup" -> (q42 _),
    "q43_crossmodal_join" -> (q43 _))

  val oracles: Map[String, String] = Map(
    "q42_embedding_neardup" -> q42Oracle,
    "q43_crossmodal_join" -> q43Oracle)
}
