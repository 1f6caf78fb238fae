package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR` and reports per-query wall times.
  *
  * Robustness contract (round-3 lesson — the driver's tail capture
  * truncated the single giant JSON line, losing the total):
  *
  *  1. Queries run `SPARK_GRAFT_BENCH_ITERS` times (default 3) and the
  *     reported per-query time is the MEDIAN — a single contended
  *     iteration (round 3 showed 28× one-off spikes from host
  *     contention) no longer poisons the artifact.
  *  2. The FIRST stdout line is a compact complete JSON (per-query
  *     medians) sized to fit the driver's ~4 KB capture cap
  *     (BENCH_r05/r06 showed the cap truncating a full-precision line
  *     mid-way → "parsed": null). At 267 queries even ms-precision
  *     full names overflow the cap (7.3 KB in BENCH_r16 — the driver
  *     got totals only and PERF_r16 lost its per_query/scaling blocks),
  *     so the compact map keys are the BARE query ids ("q177", not
  *     "q177_zipf_slope" — unique across the suite, enforced below) at
  *     2-decimal precision: ~3.3 KB for the full suite. Full precision
  *     under full names (+ per-iteration totals + error messages) goes
  *     to `BENCH_LOCAL_r<N>.json` in the repo root, immune to stdout
  *     truncation.
  *  3. A final SHORT line `{"metric":"total","value":N,"unit":"sec",
  *     "errors":K,"detail":"<file>"}` is printed last — small enough
  *     that no tail capture can cut it — and log level is forced to
  *     ERROR + the line re-printed after `spark.stop()`, so late WARN
  *     noise cannot push it out of a bounded TAIL capture (the
  *     BENCH_r07 failure mode).
  *
  * Each query is materialized through the `noop` sink — unlike
  * `.count()`, that keeps the final sort and every projected expression
  * in the executed plan, so the recorded time measures the real query.
  * Failures are recorded in an `"errors"` object (and stderr) instead
  * of being silently swallowed as fast times.
  */
object Bench {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Comma-separated name tokens, blanks dropped. */
  def tokens(csv: String): Seq[String] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The one selection rule every harness main shares: the
    * `SparkEntry.queries` registry sorted by name, keeping names that
    * contain any token. No tokens selects every query; a token that
    * matches no query is an operator typo and fails, naming the token,
    * instead of quietly shrinking the run.
    */
  def select(tokens: Seq[String]): Seq[(String, QueryFn)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val missed = tokens.filterNot(t => all.exists(_._1.contains(t)))
    require(missed.isEmpty, s"no registered query matches: ${missed.mkString(", ")}")
    if (tokens.isEmpty) all else all.filter { case (n, _) => tokens.exists(n.contains) }
  }

  /** Seconds for one `fn(spark, dir)` materialized through the `noop`
    * sink; a failure propagates.
    */
  def runNoop(spark: SparkSession, dir: String, fn: QueryFn): Double = {
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One round-robin pass: every query once, in order. Each reading is
    * (seconds, error); a failing query is reported on stderr and in its
    * reading, and the pass goes on.
    */
  def sweep(spark: SparkSession, dir: String, names: Seq[(String, QueryFn)])
      : Seq[(String, (Double, Option[String]))] =
    names.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { runNoop(spark, dir, fn); None } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      name -> ((System.nanoTime() - t0) / 1e9, err)
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** JSON string-body escape: quote, backslash and every control char. */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  // Locale.ROOT: the default-locale `f` interpolator renders a comma
  // decimal separator under e.g. de_DE, which is invalid JSON.
  def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
    Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt

    // optional subset (local iteration / headroom runs): comma-separated
    // name substrings, e.g. SPARK_GRAFT_BENCH_QUERIES=q01,q21,q33.
    // Set-but-empty fails fast (ADVICE r15): Some(Seq()) would select
    // zero queries yet look like a full sweep to anything not checking
    // query_count — an operator typo, not a meaningful request.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(tokens)
    if (filter.exists(_.isEmpty)) {
      System.err.println("[bench] SPARK_GRAFT_BENCH_QUERIES is set but " +
        "selects no queries — unset it for a full sweep or name at least one token")
      sys.exit(2)
    }
    val names = select(filter.getOrElse(Nil))

    val spark = GraftSession.local(cpus)
    // ERROR, not the session default WARN: BENCH_r07 showed the driver's
    // ~2 KB TAIL capture ending in a flood of WindowExec /
    // SimpleFunctionRegistry WARN lines emitted AFTER our summary line,
    // which pushed every JSON line out of the window ("parsed": null).
    // The bench artifact is the one consumer of this process's output —
    // silence everything below ERROR so the tail ends with our JSON.
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    // iters full sweeps (not iters× back-to-back per query): a transient
    // host-contention window then hits each query at most once, and the
    // median over sweeps discards it.
    // Per-sweep JVM GC time is sampled around each sweep (local artifact
    // only): the r16 driver run showed a late-iteration slowdown cluster
    // (q175-q178) whose signature matched accumulating heap pressure —
    // this telemetry lets any future artifact attribute slow iterations
    // to GC vs host contention without a re-run.
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // Classes janino compiled per sweep (local artifact only): with the
    // codegen cache holding the suite (GraftSession.CodegenCacheEntries)
    // a repeated sweep compiles a few percent of the first; thousands
    // mean the cache thrashes and every warm sweep pays compilation again.
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sweepGc = collection.mutable.ArrayBuffer.empty[Long]
    val sweepCompiles = collection.mutable.ArrayBuffer.empty[Long]
    val sweeps = (1 to iters).map { _ =>
      val (g0, c0) = (gcMs, compiles)
      val r = sweep(spark, sfDir, names).toMap
      sweepGc += (gcMs - g0)
      sweepCompiles += (compiles - c0)
      r
    }

    val medians = names.map { case (name, _) =>
      name -> median(sweeps.map(_(name)._1))
    }
    val errors = names.flatMap { case (name, _) =>
      sweeps.flatMap(_(name)._2).headOption.map(m => name -> m.take(200))
    }

    val qs = medians.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => s""""${esc(k)}":"${esc(m)}"""" }
      .mkString("{", ",", "}")
    val iterTotals = sweeps.map(s => names.map { case (n, _) => s(n)._1 }.sum)
    val total = medians.map(_._2).sum

    // next round number = count of existing driver-side BENCH_r*.json + 1
    val repoRoot = Paths.get(".").toAbsolutePath.normalize
    val prior = Option(repoRoot.toFile.list()).map(_.count(f =>
      f.startsWith("BENCH_r") && f.endsWith(".json"))).getOrElse(0)
    // SPARK_GRAFT_BENCH_OUT redirects the artifact — a full sweep at a
    // DIFFERENT sf (the sf1 evidence run) must not clobber the round's
    // sf0.1 BENCH_LOCAL file
    val localFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_LOCAL_r${prior + 1}.json")

    // per-iteration per-query times (local artifact only): medians hide
    // WHICH iteration a contention/throttle window hit — the r14
    // slow-fast-slow diagnosis needed this raw matrix
    val iterQs = sweeps.map(s => names.map { case (n, _) =>
      s""""$n":${s(n)._1}""" }.mkString("{", ",", "}")).mkString("[", ",", "]")

    // filter + query_count are recorded IN the artifact (ADVICE r14):
    // an explicit-OUT subset run pointed at a canonical BENCH file can
    // no longer masquerade as a full sweep — any consumer (ratios.py,
    // the judge) can see exactly what was run. A JSON array of tokens
    // (ADVICE r15), not a comma-joined string, so token boundaries
    // survive verbatim.
    val filterJson = filter.map(f =>
      f.map(t => s""""${esc(t)}"""").mkString("[", ",", "]")).getOrElse("null")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""errors":$errJson,"iters":$iters,""" +
        s""""filter":$filterJson,"query_count":${names.size},""" +
        s""""iter_totals":[${iterTotals.mkString(",")}],""" +
        s""""iter_gc_ms":[${sweepGc.mkString(",")}],""" +
        s""""iter_codegen_classes":[${sweepCompiles.mkString(",")}],""" +
        s""""iter_queries":$iterQs,"sf":"${esc(sfDir)}"}"""
    // only a FULL sweep is the round artifact — a filtered subset run
    // (headroom/iteration) must not clobber it. An EXPLICIT out name is
    // the exception: the sf10 rung is a declared subset whose artifact
    // needs iter_totals/iter_queries too (the stdout compact line only
    // carries medians), and naming the file is the operator saying so.
    // A stale exported OUT var plus a typo'd filter cannot replace a good
    // artifact with {} (r14 review finding): `select` fails on a token
    // that matches no query before anything runs.
    if (filter.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      try Files.write(repoRoot.resolve(localFile), full.getBytes(StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] could not write $localFile: $e") }
    }

    // The driver's stdout capture is CAPPED (~4 KB observed in
    // BENCH_r05/r06: the capture ends mid-line and the trailing summary
    // never arrives, leaving "parsed": null). So the one line the driver
    // must parse goes FIRST, compact (ms precision — full nanosecond
    // detail lives in the local artifact), and nothing else is printed
    // between it and the short final summary.
    def cs(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f",
      Double.box(v))
    // compact keys: bare query id ("q177" for "q177_zipf_slope") — the
    // r16 driver capture showed 267 full names blow the ~4 KB stdout cap
    // (PERF_r16 lost per_query/scaling). Bare ids are unique suite-wide;
    // if a future query ever collides, that name stays full-length (the
    // guard below still protects the cap).
    val bare: Map[String, String] = {
      val ids = names.map { case (n, _) => n -> n.takeWhile(_ != '_') }
      val dup = ids.groupBy(_._2).filter(_._2.size > 1).keySet
      ids.map { case (n, id) => n -> (if (dup(id)) n else id) }.toMap
    }
    val qsCompact = medians
      .map { case (k, v) => s""""${bare(k)}":${cs(v)}""" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qsCompact,""" +
        s""""errors":${errors.size},"iters":$iters,"sf":"${esc(sfDir)}","detail":"${esc(localFile)}"}"""
    // guard the cap this line exists to satisfy: past ~3.9 KB the
    // capture would truncate it mid-line again — drop the per-query map
    // (it still lives in the local artifact) rather than ship a line
    // that parses as null
    if (compact.length <= 3900) println(compact)
    else {
      System.err.println(s"[bench] compact line ${compact.length}B exceeds the " +
        "~4KB capture cap; emitting totals only — per-query medians are in " + localFile)
      println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","errors":${errors.size},"iters":$iters,"sf":"${esc(sfDir)}","detail":"${esc(localFile)}"}""")
    }
    // truncation-proof summary — printed BOTH before and after
    // spark.stop(): any logging the shutdown itself emits lands between
    // the two copies, so at least one survives a tail capture either way.
    // The pre-stop copy carries "dup":true so a parser that greps every
    // "metric":"total" line (instead of taking the last) can drop it and
    // not double-count totals (ADVICE r8); the LAST line stays canonical.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","errors":${errors.size},"detail":"${esc(localFile)}"}"""
    println(summary.dropRight(1) + ""","dup":true}""")
    spark.stop()
    println(summary)
  }
}
