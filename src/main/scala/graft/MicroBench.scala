package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Micro-benchmark: HOF vs native-codegen cosine over an all-pairs
  * similarity workload — the evidence behind choosing the custom
  * Catalyst expression for the E3 hot path.
  *
  * Usage: sbt "runMain graft.MicroBench [sfDir] [reps]"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    emb.count()
    val pairs = emb.select(col("vec_id").as("i"), col("embedding").as("a"))
      .crossJoin(broadcast(
        emb.limit(200).select(col("vec_id").as("j"), col("embedding").as("b"))))

    def time(label: String)(thunk: => Unit): Double = {
      thunk // warmup
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); thunk; (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"[microbench] $label%-12s best of $reps: $best%.3f s")
      best
    }

    val hof = time("cosine_hof") {
      pairs.select(sum(VectorOps.cosine(col("a"), col("b")))).collect()
    }
    val native = time("cosine_native") {
      pairs.select(sum(VectorOps.cosineNative(col("a"), col("b")))).collect()
    }
    println(f"[microbench] speedup: ${hof / native}%.2fx")

    // real-size grid throughput: BOM AUS grid ≈ 886×691 ints per file
    // (SURVEY.md §7.4); measure files/sec through the typed explode path.
    val dir = java.nio.file.Files.createTempDirectory("bigg")
    val rnd = new scala.util.Random(42)
    val rows = (0 until 691).map(_ =>
      (0 until 886).map(_ =>
        if (rnd.nextInt(5) == 0) "-999" else rnd.nextInt(1200).toString)
        .mkString(" "))
    val content = (Seq("ncols 886", "nrows 691", "xllcorner 112.0",
      "yllcorner -44.0", "cellsize 0.05", "NODATA_value -999") ++ rows)
      .mkString("\n")
    val nFiles = 24
    (0 until nFiles).foreach { i =>
      java.nio.file.Files.writeString(
        dir.resolve(f"IDZ00026_radiation_201801${i % 28 + 1}%02d_0300.txt"),
        content)
    }
    val gt = time("grid_explode") {
      val n = graft.grid.GridReader.readGrids(spark, dir.toString).count()
      require(n > 0)
    }
    val cells = nFiles.toLong * 886 * 691
    println(f"[microbench] grid throughput: ${nFiles / gt}%.1f files/s, " +
      f"${cells / gt / 1e6}%.1f Mcells/s")

    // q28 hot path: HOF array fold vs native one-pass MinGramHash
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(length(col("text")) >= 8).cache()
    docs.count()
    // max, not sum: summing 5k 60-bit fingerprints overflows a long
    val fpHof = time("mgh_hof") {
      docs.select(max(expr(
        """aggregate(
          |  transform(sequence(1, least(length(text), 200) - 7),
          |    i -> cast(conv(substr(md5(substr(text, i, 8)), 1, 15), 16, 10)
          |              as bigint)),
          |  cast(9223372036854775807 as bigint), (acc, h) -> least(acc, h))"""
          .stripMargin))).collect()
    }
    val fpNative = time("mgh_native") {
      docs.select(max(
        graft.functions.MinGramHash.minGramHash(col("text"), 8, 200)))
        .collect()
    }
    println(f"[microbench] min_gram_hash speedup: ${fpHof / fpNative}%.2fx")

    // round-6 hash paths: the built-in md5-hex chain vs native H60, and
    // the shingle transform-lambda vs the fused WordShingles60 stream
    val h60Chain = time("h60_chain") {
      docs.select(max(
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")))
        .collect()
    }
    val h60Native = time("h60_native") {
      docs.select(max(graft.functions.CrossHash.h60(col("text")))).collect()
    }
    println(f"[microbench] h60 speedup: ${h60Chain / h60Native}%.2fx")

    val toksDf = docs
      .select(expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .filter(size(col("toks")) >= 3).cache()
    toksDf.count()
    val shHof = time("shingle_hof") {
      toksDf.select(max(expr(
        """aggregate(
          |  transform(sequence(0, size(toks)-3),
          |    i -> cast(conv(substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])), 1, 15), 16, 10) as bigint)),
          |  cast(9223372036854775807 as bigint), (acc, h) -> least(acc, h))"""
          .stripMargin))).collect()
    }
    val shNative = time("shingle_nat") {
      toksDf.select(max(array_min(
        graft.functions.WordShingles60.wordShingles60(col("toks"), 3))))
        .collect()
    }
    println(f"[microbench] word_shingles60 speedup: ${shHof / shNative}%.2fx")

    // as-of join: custom operator vs window composition (union + carry
    // last click forward). The operator shuffles two SMALL filtered
    // sides; the composition shuffles the union and runs window state.
    GraftExtensions.register(spark)
    val ev = graft.Tables.table(spark, sfDir, "events").cache()
    ev.count()
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    val asofNative = time("asof_native") {
      graft.plans.AsOf.join(purch, clk, "user_id", "c_user", "p_ts", "c_ts")
        .write.format("noop").mode("overwrite").save()
    }
    val asofComposed = time("asof_window") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        // click-first tiebreak: same-ts clicks must precede the purchase
        // row so the running frame includes them (operator is rt <= lt)
        .orderBy(col("ts"),
          when(col("event_type") === "click", 0).otherwise(1),
          col("event_id"))
        .rowsBetween(Long.MinValue, 0)
      ev.filter(col("event_type").isin("purchase", "click"))
        .withColumn("c_id",
          last(when(col("event_type") === "click", col("event_id")), true).over(w))
        .withColumn("c_ts",
          last(when(col("event_type") === "click", col("ts")), true).over(w))
        .filter(col("event_type") === "purchase")
        // materialize the SAME five columns as the native branch — the
        // composed plan would otherwise also pay for carrying props etc.
        // through the sink and the comparison would flatter the operator
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_ts"), col("c_id"), col("c_ts"))
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[microbench] asof operator vs window: ${asofComposed / asofNative}%.2fx")

    // Space-Saving buffer: TreeSet-indexed mutable buffer vs the
    // previous persistent-Map + O(capacity) minBy-per-eviction shape,
    // on a high-cardinality stream (every insert past warm-up evicts).
    val n = 2_000_000
    val cap = 256
    def ssStream(i: Int): String = {
      // zipf-ish: low ids frequent, long tail of singletons
      val r = (i * 2654435761L & 0x7fffffffL) % 1000
      if (r < 200) s"hot_$r" else s"tail_${i}"
    }
    val fast = time("ss_indexed") {
      val agg = new graft.functions.SpaceSaving(cap)
      var buf = agg.zero
      var i = 0
      while (i < n) { buf = agg.reduce(buf, ssStream(i)); i += 1 }
      require(agg.finish(buf).nonEmpty)
    }
    val naive = time("ss_scan") {
      // the former formulation, inlined: immutable map copied per row,
      // min found by scanning all `cap` entries on each eviction
      var m = Map.empty[String, (Long, Long)]
      var i = 0
      while (i < n) {
        val item = ssStream(i)
        m.get(item) match {
          case Some((c, e)) => m = m.updated(item, (c + 1, e))
          case None if m.size < cap => m = m.updated(item, (1L, 0L))
          case None =>
            val (mi, (mc, _)) = m.minBy { case (it, (c, _)) => (c, it) }
            m = m - mi + (item -> (mc + 1, mc))
        }
        i += 1
      }
      require(m.nonEmpty)
    }
    println(f"[microbench] space-saving buffer speedup: ${naive / fast}%.2fx")
    spark.stop()
  }
}
