package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.{CrossHash, WordShingles60}

/** q190-q191: distribution-matching scores for data selection — the
  * "pick raw documents that look like the target domain" stage that
  * runs before mixture weighting (q165) and quality cuts (q26).
  *
  *  - q190 DSIR importance weights (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling", arXiv:2302.03169):
  *    hashed-bigram bucket counts give a target/raw likelihood ratio
  *    per bucket; a document's weight is its bucket-count-weighted sum
  *    of log ratios. The 64-entry bucket log-ratio table is quantized
  *    ONCE to integer micronats — after that every per-doc sum is
  *    exact int64 arithmetic, so no float summation order can fork the
  *    engines (the q167 "integers after one quantization" discipline;
  *    the single ln per bucket is the only libm call and its last-ulp
  *    wobble is 8 orders below the micronat grid).
  *  - q191 held-out cross-entropy of an add-one-smoothed unigram LM:
  *    train = even doc ids, validation = odd; H(val ‖ train) per
  *    language plus the OOV mass. Same micronat quantization, applied
  *    per vocabulary entry (one ln per TYPE, then exact integer
  *    tf-weighted sums).
  *
  * Scale shape: both queries' corpus-scale work is one tokenize+group
  * pass; q190's ratio table is 64 rows BROADCAST back (the published
  * DSIR uses 10⁴ buckets — still broadcast-trivial), and q191's joined
  * vocabulary frame is Heaps-law sublinear with per-lang totals
  * broadcast. Per-doc weight sums are bounded by n_bigrams·|lr| <
  * 2⁶³ for any document under ~10¹² tokens.
  */
object ImportanceOps {

  /** Hashed-bigram feature buckets (DSIR's paper default is 10⁴; 64
    * keeps the oracle's unrolled arithmetic readable while exercising
    * the identical plan shape).
    */
  val DsirBuckets = 64

  /** Docs reported by the importance ranking. */
  val DsirTop = 30

  // ---------------------------------------------------------------- q190

  /** q190: top-[[DsirTop]] raw documents by DSIR importance weight
    * toward the `lang = 'en'` target slice, in integer micronats.
    */
  def q190(spark: SparkSession, dir: String): DataFrame = {
    val db = table(spark, dir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(WordShingles60.wordShingles60(col("toks"), 2)).as("h"))
      .select(col("doc_id"), col("lang"),
        (col("h") % DsirBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("f"))
      // OPTIMIZATION r17 (guide §2.4): db has TWO consumers (the bucket
      // table below and the final per-doc join-back), and each replayed
      // the full tokenize + shingle-hash + explode chain — the r16 plan
      // honestly showed 2 documents scans, i.e. the corpus was
      // TOKENIZED TWICE per run (QProfile: the two 0.44 s + 0.33 s
      // single-task stages at sf0.1; at 100 TB, two full text passes).
      // Checkpointing db makes it one: db is the (doc, lang, bucket, f)
      // frame — ≤ DsirBuckets narrow integer rows per document, orders
      // smaller than the text it derives from, and exactly the frame
      // the DuckDB oracle declares MATERIALIZED. Corpus-PROPORTIONAL
      // like q110's bands (the ADVICE r16 deviation note applies: a
      // pipeline embedding this should persist(MEMORY_AND_DISK) at the
      // same point — the q183Basket(Persist) seam pattern).
      .localCheckpoint()
    // bs is DsirBuckets rows at any corpus size with two consumers
    // (tot + lr) — checkpointed since r16 so neither replays db
    val bs = db.groupBy(col("bucket"))
      .agg(sum(col("f")).as("r_b"),
        sum(when(col("lang") === "en", col("f")).otherwise(0L)).as("t_b"))
      .localCheckpoint()
    val tot = bs.agg(sum(col("r_b")).as("n_r"), sum(col("t_b")).as("n_t"))
    val lr = bs.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr(s"CAST(round((ln((t_b + 1.0) / (n_t + $DsirBuckets)) - " +
          s"ln((r_b + 1.0) / (n_r + $DsirBuckets))) * 1000000, 0) " +
          "AS BIGINT)").as("lr_micro"))
    db.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("f")).as("n_bigrams"),
        sum(col("f") * col("lr_micro")).as("weight_micronats"))
      .orderBy(col("weight_micronats").desc, col("doc_id"))
      .limit(DsirTop)
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("weight_micronats"))
  }

  val q190Oracle: String = {
    val h = CrossHash.h60Sql("bg")
    s"""WITH toks AS (
       |  SELECT doc_id, lang, tok, pos FROM (
       |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) t WHERE tok <> ''),
       |bg AS (
       |  SELECT doc_id, lang,
       |         ($h) % $DsirBuckets AS bucket
       |  FROM (
       |    SELECT doc_id, lang,
       |           tok || ' ' || lead(tok, 1) OVER
       |             (PARTITION BY doc_id ORDER BY pos) AS bg
       |    FROM toks) s
       |  WHERE bg IS NOT NULL),
       |db AS MATERIALIZED (
       |  SELECT doc_id, lang, bucket, count(*) AS f
       |  FROM bg GROUP BY doc_id, lang, bucket),
       |bs AS MATERIALIZED (
       |  SELECT bucket, sum(f) AS r_b,
       |         sum(CASE WHEN lang = 'en' THEN f ELSE 0 END) AS t_b
       |  FROM db GROUP BY bucket),
       |tot AS (SELECT sum(r_b) AS n_r, sum(t_b) AS n_t FROM bs),
       |lr AS (
       |  SELECT bucket,
       |         CAST(round((ln((t_b + 1.0) / (n_t + $DsirBuckets)) -
       |              ln((r_b + 1.0) / (n_r + $DsirBuckets))) * 1000000, 0)
       |           AS BIGINT) AS lr_micro
       |  FROM bs CROSS JOIN tot)
       |SELECT doc_id, lang, CAST(sum(f) AS BIGINT) AS n_bigrams,
       |       CAST(sum(f * lr_micro) AS BIGINT) AS weight_micronats
       |FROM db JOIN lr USING (bucket)
       |GROUP BY doc_id, lang
       |ORDER BY weight_micronats DESC, doc_id LIMIT $DsirTop""".stripMargin
  }

  // ---------------------------------------------------------------- q191

  /** q191: per-language cross-entropy (micronats/token) of odd-id
    * validation docs under an add-one unigram LM fit on even-id docs,
    * with the OOV token share.
    */
  def q191(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("tok"))
    val tr = toks.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c_tr"))
    val va = toks.filter(col("doc_id") % 2 === 1)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c_va"))
    val joined = tr.join(va, Seq("lang", "tok"), "full_outer")
      .select(col("lang"), col("tok"),
        coalesce(col("c_tr"), lit(0L)).as("c_tr"),
        coalesce(col("c_va"), lit(0L)).as("c_va"))
    val stats = joined.groupBy(col("lang"))
      .agg(sum(col("c_tr")).as("n_tr"), sum(col("c_va")).as("n_va"),
        count(lit(1)).as("v"))
    joined.join(broadcast(stats), "lang")
      .withColumn("lp_micro",
        expr("CAST(round(ln((c_tr + 1.0) / (n_tr + v)) * 1000000, 0) " +
          "AS BIGINT)"))
      .groupBy(col("lang"), col("n_tr"), col("n_va"), col("v"))
      .agg(sum(col("c_va") * col("lp_micro")).as("s"),
        sum(when(col("c_tr") === 0L, col("c_va")).otherwise(0L))
          .as("oov_tokens"))
      .select(col("lang"), col("n_tr").as("n_train_tokens"),
        col("n_va").as("n_val_tokens"), col("v").as("vocab_size"),
        expr("(0 - s) DIV n_va").as("cross_entropy_micronats"),
        expr("1000 * oov_tokens DIV n_va").as("oov_permille"))
      .orderBy(col("lang"))
  }

  // Int64 budget: |lp_micro| <= ln(n_tr + v) * 10^6 < 2^25 micronats while
  // n_tr + v < 10^13, so sum(c_va * lp_micro) <= n_va * 2^25 < 2^63 for
  // any validation slice under 2^38 tokens.
  val q191Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tr AS (SELECT lang, tok, count(*) AS c_tr FROM toks
      |       WHERE tok <> '' AND doc_id % 2 = 0 GROUP BY lang, tok),
      |va AS (SELECT lang, tok, count(*) AS c_va FROM toks
      |       WHERE tok <> '' AND doc_id % 2 = 1 GROUP BY lang, tok),
      |j AS (
      |  SELECT coalesce(tr.lang, va.lang) AS lang,
      |         coalesce(tr.tok, va.tok) AS tok,
      |         coalesce(c_tr, 0) AS c_tr, coalesce(c_va, 0) AS c_va
      |  FROM tr FULL OUTER JOIN va
      |    ON tr.lang = va.lang AND tr.tok = va.tok),
      |st AS (
      |  SELECT lang, sum(c_tr) AS n_tr, sum(c_va) AS n_va,
      |         count(*) AS v
      |  FROM j GROUP BY lang),
      |lp AS (
      |  SELECT j.lang, c_tr, c_va, n_tr, n_va, v,
      |         CAST(round(ln((c_tr + 1.0) / (n_tr + v)) * 1000000, 0)
      |           AS BIGINT) AS lp_micro
      |  FROM j JOIN st ON st.lang = j.lang)
      |SELECT lang, CAST(n_tr AS BIGINT) AS n_train_tokens,
      |       CAST(n_va AS BIGINT) AS n_val_tokens,
      |       CAST(v AS BIGINT) AS vocab_size,
      |       CAST((0 - sum(c_va * lp_micro)) // n_va AS BIGINT)
      |         AS cross_entropy_micronats,
      |       CAST(1000 * sum(CASE WHEN c_tr = 0 THEN c_va ELSE 0 END)
      |            // n_va AS BIGINT) AS oov_permille
      |FROM lp GROUP BY lang, n_tr, n_va, v ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q198

  /** q198: deterministic weighted sampling without replacement
    * (Efraimidis-Spirakis 2006 A-ES keys, u^(1/w) order, rewritten as
    * cost = −ln(u)/w ascending): the length-weighted document sample a
    * token-budgeted pretraining mix draws. The "random" u is the
    * engine-agnostic h60 of the doc id reduced mod the universal-hash
    * prime — reproducible on any engine, any partitioning, any run
    * (the repo's RNG-free h60 sampling discipline), and the single ln
    * per doc is micronat-quantized before the integer cost division
    * (negation FIRST: Spark's DIV truncates toward zero while DuckDB's
    * // floors, so negative-operand division is forbidden ground).
    * Plan: one narrow corpus pass + TakeOrderedAndProject.
    */
  def q198(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("w"),
        (CrossHash.h60(col("doc_id").cast("string")) % CrossHash.P)
          .as("hm"))
      .filter(col("w") > 0)
      .withColumn("neg_lnu_micro",
        expr(s"CAST(round(-ln((hm + 1.0) / ${CrossHash.P + 1}L) " +
          "* 1000000, 0) AS BIGINT)"))
      .select(col("doc_id"), col("w"),
        expr("neg_lnu_micro * 1000 DIV w").as("cost_milli"))
      .orderBy(col("cost_milli"), col("doc_id"))
      .limit(20)

  val q198Oracle: String = {
    val h = CrossHash.h60Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' '),
       |             t -> t <> '')) AS w,
       |         ($h) % ${CrossHash.P} AS hm
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, CAST(w AS BIGINT) AS w,
       |         CAST(round(-ln((hm + 1.0) / ${CrossHash.P + 1})
       |              * 1000000, 0) AS BIGINT) AS neg_lnu_micro
       |  FROM d WHERE w > 0)
       |SELECT doc_id, w,
       |       CAST(neg_lnu_micro * 1000 // w AS BIGINT) AS cost_milli
       |FROM k ORDER BY cost_milli, doc_id LIMIT 20""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_dsir_weights" -> (q190 _),
    "q191_cross_entropy" -> (q191 _),
    "q198_weighted_sample" -> (q198 _))

  val oracles: Map[String, String] = Map(
    "q190_dsir_weights" -> q190Oracle,
    "q191_cross_entropy" -> q191Oracle,
    "q198_weighted_sample" -> q198Oracle)
}
