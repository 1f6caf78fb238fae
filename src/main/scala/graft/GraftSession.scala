package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session builders. `local(...)` matches the driver harness;
  * `productionBuilder` documents the knobs a 1000-executor / 100 TB
  * deployment of this engine starts from (values are starting points to
  * size against the actual cluster, not magic).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every session built here:
    * the size of Spark's LRU cache of janino-compiled generated classes.
    * Spark's default of 100 is below the engine's working set, so every
    * repeated pass recompiled nearly every stage. Sized from
    * `CodegenMetrics.METRIC_COMPILATION_TIME` counts per `Bench` sweep:
    * the first of a full 267-query sweep compiles 3,592 classes at sf0.01
    * and 3,599 at sf0.1, and 4096 is the next power of two above them. A
    * second sweep then compiles about 100 (perfbench's 7 `query_suite`
    * queries: 155 per warm pass with the default, 0 by the third pass).
    *
    * The conf is static: `CodeGenerator`'s static initialiser reads it
    * once per JVM, at the first compile. It takes effect only when the
    * JVM's first session is built here, before anything is compiled; a
    * session built elsewhere first fixes the cache at its own size for
    * the life of the JVM.
    */
  val CodegenCacheEntries = 4096

  /** Harness-shaped local session with graft extensions installed.
    * `getOrCreate` silently ignores builder extensions/configs when a
    * session already exists in the JVM, so the native functions are
    * also registered post-hoc (idempotent) — `cosine_sim`/`simhash64`
    * resolve either way.
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // SPARK_GRAFT_SHUFFLE_PARTITIONS decouples reducer granularity from
      // core count for rung experiments: a 100 TB cluster scales
      // shuffle.partitions with the fleet (productionBuilder), and the
      // sf10 spill-threshold measurements (BASELINE.md q183/q184) need
      // the same knob at fixed local cores
      .config("spark.sql.shuffle.partitions", {
        val raw = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)
        val n = try raw.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$raw'")
        }
        require(n > 0,
          s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$raw'")
        n.toString
      })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cluster-profile builder (not used by the local harness):
    *
    *  - `shuffle.partitions` ≈ 2-3× total executor cores so AQE has
    *    granularity to coalesce; AQE then owns the real number.
    *  - `adaptive.skewJoin` splits pathological reducer partitions;
    *    beyond it, `ScaleOps.saltedJoin` handles single-hot-key joins.
    *  - `files.maxPartitionBytes` 256 MB: fewer, fuller scan tasks for
    *    100 TB of parquet (the default 128 MB doubles task count for
    *    scan-dominated jobs).
    *  - dynamic partition overwrite: re-ingesting one day replaces only
    *    that day's partitions of the serving table (idempotent
    *    reprocessing, the reference's ad-hoc-reload model).
    *  - timezone pinned UTC: all rendering to Sydney-local happens in
    *    expressions, never via session state.
    *  - codegen cache at [[CodegenCacheEntries]], as in `local`.
    */
  def productionBuilder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", "2000")
      .config("spark.sql.files.maxPartitionBytes", 256L * 1024 * 1024)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new GraftExtensions)
}
