package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Tables.table

/** Tokenizer TRAINING support (q124) — the other half of the tokenizer
  * story: q116 audits a vocabulary's coverage; this computes the data a
  * BPE trainer consumes. The inner loop of BPE training is "count
  * adjacent symbol pairs weighted by word frequency, merge the top
  * pair, repeat" — at 100 TB the corpus-scale part is exactly one
  * word-count (scan + one shuffle), after which every merge round runs
  * on the BOUNDED word-frequency table (top [[BpeVocabWords]] words),
  * never touching the corpus again. The query materializes two rounds
  * to pin the iteration step itself, not just the first count:
  *
  *   round 1: adjacent char-pair counts over the top-W word-freq table;
  *   round 2: the winning pair is merged into a single marker symbol
  *            (`replace`, left-to-right non-overlapping in BOTH
  *            engines) and pairs are re-counted — merged-symbol
  *            adjacencies ('0x'/'x0') now compete like any other pair.
  *
  * All weights are exact int64 sums of int64 word frequencies; every
  * ranking uses the total order (weight DESC, pair ASC), so both
  * engines agree bit-for-bit.
  */
object TokenizerOps {

  /** Word-frequency table bound: BPE trains on frequencies of the top-W
    * words, not the raw corpus — the state a 1000-executor trainer
    * would broadcast. Total order (freq DESC, word ASC) as q116.
    */
  val BpeVocabWords: Int = 500

  /** Pairs reported per round. */
  val BpePairTop: Int = 30

  def q124(spark: SparkSession, dir: String): DataFrame = {
    val wf = table(spark, dir, "documents")
      .select(explode(expr(
        "filter(split(lower(text), '[^a-z]+'), w -> length(w) >= 2)"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(BpeVocabWords)

    def pairCounts(words: DataFrame, round: Int): DataFrame =
      words
        .filter(length(col("word")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"),
          col("word"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("weight"),
          count_distinct(col("word")).as("n_words"))
        .orderBy(col("weight").desc, col("pair"))
        .limit(BpePairTop)
        .select(lit(round).as("round"), col("pair"), col("weight"),
          col("n_words"))

    val r1 = pairCounts(wf, 1)
    val top1 = r1.orderBy(col("weight").desc, col("pair")).limit(1)
      .select(col("pair").as("merge_pair"))
    val merged = wf.crossJoin(broadcast(top1))
      .select(expr("replace(word, merge_pair, '0')").as("word"), col("freq"))
    val r2 = pairCounts(merged, 2)

    r1.unionAll(r2).orderBy(col("round"), col("weight").desc, col("pair"))
  }

  val q124Oracle: String =
    s"""WITH wf AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                              w -> length(w) >= 2)) AS word
       |    FROM documents)
       |  GROUP BY word ORDER BY freq DESC, word LIMIT $BpeVocabWords),
       |p1 AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS weight,
       |         count(DISTINCT word) AS n_words
       |  FROM (
       |    SELECT word, freq, substring(word, i, 2) AS pair FROM (
       |      SELECT word, freq,
       |             unnest(generate_series(1, length(word) - 1)) AS i
       |      FROM wf WHERE length(word) >= 2))
       |  GROUP BY pair ORDER BY weight DESC, pair LIMIT $BpePairTop),
       |r1 AS (SELECT 1 AS round, pair, weight, n_words FROM p1),
       |top1 AS (SELECT pair FROM p1 ORDER BY weight DESC, pair LIMIT 1),
       |w2 AS (
       |  SELECT replace(word, (SELECT pair FROM top1), '0') AS word, freq
       |  FROM wf),
       |p2 AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS weight,
       |         count(DISTINCT word) AS n_words
       |  FROM (
       |    SELECT word, freq, substring(word, i, 2) AS pair FROM (
       |      SELECT word, freq,
       |             unnest(generate_series(1, length(word) - 1)) AS i
       |      FROM w2 WHERE length(word) >= 2))
       |  GROUP BY pair ORDER BY weight DESC, pair LIMIT $BpePairTop),
       |r2 AS (SELECT 2 AS round, pair, weight, n_words FROM p2)
       |SELECT CAST(round AS INT) AS round, pair, weight, n_words
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
       |ORDER BY round, weight DESC, pair""".stripMargin

  // ---------------------------------------------------------------- q129

  /** Id-range buckets for the growth curve. */
  val GrowthBuckets: Int = 10

  /** Vocabulary GROWTH audit (Heaps-law curve): how fast do the
    * distinct-term vocabulary AND the distinct 5-token shingle space
    * grow as the corpus is ingested in doc_id order? Terms tell a
    * tokenizer team when vocabulary coverage saturates; shingles track
    * CONTENT novelty (a closed word vocabulary still composes new
    * passages) — a sub-linear break in either curve flags
    * template/duplicated ingest batches.
    *
    * Scale shape: NO global sort anywhere (the q109 lesson) — ingest
    * checkpoints are id-RANGE deciles computed from the broadcast 1-row
    * (min, max) stats, so bucketing is a pure map; each term/shingle
    * collapses to its FIRST document (one groupBy per domain, shingles
    * as 8-byte native hashes), the per-bucket new counts aggregate
    * those domains, and the cumulative curves are windows over the
    * 10-row result. All integer (truncated div both engines).
    */
  def q129(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val stats = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    def bucketOf(c: String): String =
      s"least(${GrowthBuckets - 1}, (($c - lo) * $GrowthBuckets) div (hi - lo + 1))"
    def bucketCounts(firsts: DataFrame, cnt: String): DataFrame = firsts
      .crossJoin(broadcast(stats))
      .select(expr(bucketOf("first_doc")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(cnt))
    val docBuckets = docs.select(col("doc_id")).crossJoin(broadcast(stats))
      .select(expr(bucketOf("doc_id")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val newTerms = bucketCounts(
      docs.select(col("doc_id"),
          explode(expr("filter(split(text, ' '), t -> t <> '')")).as("term"))
        .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc")),
      "new_terms")
    val newShingles = bucketCounts(
      docs.withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.WordShingles60.wordShingles60(col("toks"), 5)))
          .as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("first_doc")),
      "new_shingles")
    val all = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docBuckets
      .join(newTerms, Seq("bucket"), "left")
      .join(newShingles, Seq("bucket"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
      .withColumn("docs_cum", sum(col("n_docs")).over(all))
      .withColumn("vocab_cum", sum(col("new_terms")).over(all))
      .withColumn("shingles_cum", sum(col("new_shingles")).over(all))
      .select(col("bucket"), col("n_docs"), col("docs_cum"),
        col("new_terms"), col("vocab_cum"),
        col("new_shingles"), col("shingles_cum"))
      .orderBy(col("bucket"))
  }

  val q129Oracle: String = {
    def bucketOf(c: String): String =
      s"least(${GrowthBuckets - 1}, (($c - lo) * $GrowthBuckets) // (hi - lo + 1))"
    // the toks/sh/hs CTEs come from the shared Shingles prefix (its
    // `rare` CTE goes unreferenced here — growth wants the RAW shingle
    // domain, not the df-capped one); concatenated after stripMargin
    "WITH " + graft.queries.Shingles.rareCteSql + ",\n" +
    s"""stats AS (
       |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
       |db AS (
       |  SELECT ${bucketOf("doc_id")} AS bucket, count(*) AS n_docs
       |  FROM documents CROSS JOIN stats GROUP BY 1),
       |firsts AS (
       |  SELECT term, min(doc_id) AS first_doc FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                      t -> t <> '')) AS term
       |    FROM documents)
       |  GROUP BY term),
       |nt AS (
       |  SELECT ${bucketOf("first_doc")} AS bucket, count(*) AS new_terms
       |  FROM firsts CROSS JOIN stats GROUP BY 1),
       |shf AS (SELECT hh, min(doc_id) AS first_doc FROM hs GROUP BY hh),
       |ns AS (
       |  SELECT ${bucketOf("first_doc")} AS bucket, count(*) AS new_shingles
       |  FROM shf CROSS JOIN stats GROUP BY 1)
       |SELECT CAST(db.bucket AS BIGINT) AS bucket,
       |       db.n_docs,
       |       CAST(sum(db.n_docs) OVER w AS BIGINT) AS docs_cum,
       |       CAST(COALESCE(nt.new_terms, 0) AS BIGINT) AS new_terms,
       |       CAST(sum(COALESCE(nt.new_terms, 0)) OVER w AS BIGINT) AS vocab_cum,
       |       CAST(COALESCE(ns.new_shingles, 0) AS BIGINT) AS new_shingles,
       |       CAST(sum(COALESCE(ns.new_shingles, 0)) OVER w AS BIGINT)
       |         AS shingles_cum
       |FROM db LEFT JOIN nt ON nt.bucket = db.bucket
       |LEFT JOIN ns ON ns.bucket = db.bucket
       |WINDOW w AS (ORDER BY db.bucket ROWS BETWEEN UNBOUNDED PRECEDING
       |             AND CURRENT ROW)
       |ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q218

  /** Merge rounds the q218 trainer runs. Fixed and small so the oracle
    * stays expressible as an unrolled CTE chain (the q206 discipline).
    */
  val BpeMergeRounds: Int = 10

  /** The '·'-delimited symbol string of a word (one char per symbol).
    * The delimiter cannot occur in `[a-z]+` words, so the last symbol
    * of a partial string is always the text after the last '·' — the
    * invariant the greedy-merge fold's `LIKE '%·l'` test relies on.
    */
  private def charSyms(wordCol: String): String =
    s"trim(TRAILING '·' FROM regexp_replace($wordCol, '(.)', '$$1·'))"

  /** q218: the BPE trainer q124 only unrolls two rounds of — a full
    * [[BpeMergeRounds]]-round merge-learning loop with REAL multi-char
    * symbols (q124 collapses the winning pair to a 1-char marker, which
    * cannot express merge-of-merge tokens like `ta`+`ble`). Each word
    * is a '·'-delimited symbol string; a round counts adjacent symbol
    * pairs weighted by word frequency, picks the argmax under the total
    * order (weight DESC, left, right), and applies the merge with a
    * greedy LEFT-TO-RIGHT fold (`aggregate` HOF here, `list_reduce` in
    * the oracle): append `x`, or extend the last symbol to `l||r` when
    * it equals `l` and `x = r` — a fold that is exactly Sennrich's
    * greedy non-overlapping application (a just-merged symbol can't
    * re-merge this round). Output: the learned merge table
    * (step, left, right, weight) — the tokenizer artifact itself.
    *
    * Scale shape: the corpus touches ONE scan (the word count); all
    * [[BpeMergeRounds]] rounds run on the bounded top-[[BpeVocabWords]]
    * frequency table, localCheckpointed per round to keep lineage flat
    * (the q206 lesson). The per-round argmax is a 1-row collect — the
    * KMeans-codebook class of bounded driver data: the winning pair
    * must become a literal in the next round's fold expression.
    */
  def q218(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir)
      .toDF("step", "left_sym", "right_sym", "pair_freq")
      .orderBy(col("step"))
  }

  /** Memoized learned merge table per (session, dir) — q218 reports it,
    * q220 APPLIES it corpus-wide; the training loop is identical, so
    * the PQ-codebook/CC-labels memo discipline applies.
    */
  private[queries] def trainedMerges(
      spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    Artifacts.get(spark, dir, "TokenizerOps.trainedMerges")(
      trainMerges(spark, dir))

  private def trainMerges(
      spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    val vocab = table(spark, dir, "documents")
      .select(explode(expr(
        "filter(split(lower(text), '[^a-z]+'), w -> length(w) >= 2)"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(BpeVocabWords)
    var words = vocab
      .select(expr(charSyms("word")).as("sym"), col("freq"))
      .localCheckpoint(true)

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= BpeMergeRounds && !exhausted) {
      val best = words
        .select(col("freq"), expr("split(sym, '·')").as("sp"))
        .filter(size(col("sp")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(slice(sp, 1, size(sp) - 1)," +
            " (x, i) -> struct(x AS l, element_at(sp, i + 2) AS r))"))
          .as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, w) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, w))
        words = words.select(expr(
          s"""aggregate(
             |  slice(split(sym, '·'), 2, size(split(sym, '·')) - 1),
             |  element_at(split(sym, '·'), 1),
             |  (acc, x) -> CASE WHEN (acc = '$l' OR acc LIKE '%·$l')
             |                    AND x = '$r'
             |              THEN acc || '$r' ELSE acc || '·' || x END)"""
            .stripMargin).as("sym"), col("freq"))
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.result()
  }

  /** Shared DuckDB CTE chain for the BPE trainer — `wf` (top-W word
    * counts), `w0` (char-symbol strings), then per round `p$k` (pair
    * counts), `b$k` (the winning merge) and `w$k` (the merged vocab).
    * q218 reports the `b$k` union; q220 CROSS JOINs each `b$k` into its
    * corpus-dictionary encode chain.
    */
  private lazy val bpeTrainCtes: String = {
    val rounds = (1 to BpeMergeRounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS w
         |  FROM (SELECT string_split(sym, '·') AS s, freq FROM w${k - 1}) t,
         |       unnest(range(1, len(s))) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, w FROM p$k ORDER BY w DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT list_reduce(string_split(t.sym, '·'),
         |    (acc, x) -> CASE WHEN (acc = b.l OR acc LIKE '%·' || b.l)
         |                      AND x = b.r
         |                THEN acc || b.r ELSE acc || '·' || x END) AS sym,
         |         t.freq
         |  FROM w${k - 1} t CROSS JOIN b$k b)""".stripMargin
    }.mkString(",\n")
    s"""wf AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                              w -> length(w) >= 2)) AS word
       |    FROM documents)
       |  GROUP BY word ORDER BY freq DESC, word LIMIT $BpeVocabWords),
       |w0 AS MATERIALIZED (
       |  SELECT rtrim(regexp_replace(word, '(.)', '\\1·', 'g'), '·') AS sym,
       |         freq
       |  FROM wf),
       |$rounds""".stripMargin
  }

  val q218Oracle: String = {
    val union = (1 to BpeMergeRounds).map { k =>
      s"SELECT $k AS step, l AS left_sym, r AS right_sym, w AS pair_freq FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |SELECT CAST(step AS INT) AS step, left_sym, right_sym, pair_freq
       |FROM ($union)
       |ORDER BY step""".stripMargin
  }

  // ---------------------------------------------------------------- q220

  /** q220: BPE tokenizer APPLY — q218's learned merge table actually
    * USED corpus-wide, closing the train→apply loop (the tokenizer
    * artifact is only real if encoding with it is). Per language:
    * word/token/char volumes under the trained tokenizer, the distinct
    * token-type count, and tokens-per-1000-chars (the compression the
    * tokenizer achieves — the number a pretraining-budget estimate
    * needs from every corpus slice).
    *
    * Scale shape: encoding runs on the corpus DICTIONARY, not the
    * corpus — one scan + one (lang, word) count, then the
    * [[BpeMergeRounds]] merge folds apply to each DISTINCT word once
    * (localCheckpoint per round keeps the 3-reference fold from
    * re-expanding through projection collapse, the q218 discipline) and
    * every aggregate is frequency-weighted. At 100 TB the dictionary is
    * millions of rows where the corpus is billions — exactly how a
    * production tokenizer encodes (hash the word, look up its cached
    * encoding). Merges come from the memoized trainer
    * ([[trainedMerges]]); each round's (l, r) is a literal in a
    * codegen'd fold, the same greedy non-overlapping left-to-right
    * apply both engines pinned under q218's gate. If the trainer
    * exhausts early (< [[BpeMergeRounds]] merges — impossible on the
    * gate corpora, guarded anyway), Spark applies only the learned
    * merges and the oracle's LEFT JOIN keeps `sym` unchanged through
    * the empty rounds.
    */
  def q220(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(spark, dir)
    val wf = table(spark, dir, "documents")
      .select(col("lang"), explode(expr(
        "filter(split(lower(text), '[^a-z]+'), w -> length(w) >= 2)"))
        .as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("freq"))
    var enc = wf
      .select(col("lang"), col("word"), col("freq"),
        expr(charSyms("word")).as("sym"))
      .localCheckpoint(true)
    merges.foreach { case (_, l, r, _) =>
      enc = enc.select(col("lang"), col("word"), col("freq"), expr(
        s"""aggregate(
           |  slice(split(sym, '·'), 2, size(split(sym, '·')) - 1),
           |  element_at(split(sym, '·'), 1),
           |  (acc, x) -> CASE WHEN (acc = '$l' OR acc LIKE '%·$l')
           |                    AND x = '$r'
           |              THEN acc || '$r' ELSE acc || '·' || x END)"""
          .stripMargin).as("sym"))
        .localCheckpoint(true)
    }
    val toks = enc.withColumn("ntok",
      size(split(col("sym"), "·")).cast("long"))
    // int64 budget: freq·ntok (and freq·len) are bounded by the
    // corpus CHARACTER count — BPE tokens never outnumber characters —
    // so the per-lang sums are < total corpus bytes < 2⁶³
    val perLang = toks.groupBy(col("lang")).agg(
      sum(col("freq")).as("n_words"),
      sum(col("freq") * col("ntok")).as("n_tokens"),
      sum(col("freq") * length(col("word")).cast("long")).as("n_chars"))
    val types = toks
      .select(col("lang"), explode(split(col("sym"), "·")).as("tok"))
      .distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_token_types"))
    perLang.join(types, "lang")
      .withColumn("tokens_per_mille", expr("(1000 * n_tokens) DIV n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        col("n_token_types"), col("tokens_per_mille"))
      .orderBy(col("lang"))
  }

  val q220Oracle: String = {
    val encodes = (1 to BpeMergeRounds).map { k =>
      s"""e$k AS MATERIALIZED (
         |  SELECT lang, word, freq,
         |         CASE WHEN b.l IS NULL THEN t.sym
         |              ELSE list_reduce(string_split(t.sym, '·'),
         |    (acc, x) -> CASE WHEN (acc = b.l OR acc LIKE '%·' || b.l)
         |                      AND x = b.r
         |                THEN acc || b.r ELSE acc || '·' || x END) END AS sym
         |  FROM e${k - 1} t LEFT JOIN b$k b ON true)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |wfl AS MATERIALIZED (
       |  SELECT lang, word, count(*) AS freq FROM (
       |    SELECT lang,
       |           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                              w -> length(w) >= 2)) AS word
       |    FROM documents)
       |  GROUP BY lang, word),
       |e0 AS MATERIALIZED (
       |  SELECT lang, word, freq,
       |         rtrim(regexp_replace(word, '(.)', '\\1·', 'g'), '·') AS sym
       |  FROM wfl),
       |$encodes,
       |perlang AS (
       |  SELECT lang,
       |         CAST(sum(freq) AS BIGINT) AS n_words,
       |         CAST(sum(freq * len(string_split(sym, '·'))) AS BIGINT)
       |           AS n_tokens,
       |         CAST(sum(freq * length(word)) AS BIGINT) AS n_chars
       |  FROM e$BpeMergeRounds GROUP BY lang),
       |types AS (
       |  SELECT lang, count(*) AS n_token_types FROM (
       |    SELECT DISTINCT lang, unnest(string_split(sym, '·')) AS tok
       |    FROM e$BpeMergeRounds) t
       |  GROUP BY lang)
       |SELECT p.lang, n_words, n_tokens, n_chars,
       |       CAST(n_token_types AS BIGINT) AS n_token_types,
       |       CAST((1000 * n_tokens) // n_chars AS BIGINT) AS tokens_per_mille
       |FROM perlang p JOIN types USING (lang)
       |ORDER BY lang""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_bpe_pairs" -> (q124 _),
    "q129_vocab_growth" -> (q129 _),
    "q218_bpe_train" -> (q218 _),
    "q220_bpe_encode" -> (q220 _))

  val oracles: Map[String, String] = Map(
    "q124_bpe_pairs" -> q124Oracle,
    "q129_vocab_growth" -> q129Oracle,
    "q218_bpe_train" -> q218Oracle,
    "q220_bpe_encode" -> q220Oracle)
}
