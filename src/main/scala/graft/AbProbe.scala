package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Standing same-JVM A/B perf probe (VERDICT r14 item 3): this host
  * has no quiet window, so whole-sweep bench artifacts keep generating
  * false cross-round regressions (r13: q41; r14: the sf1 total) that
  * cost a round each to clear. The only variance control available is
  * INTERLEAVING: run the compared queries back-to-back in one JVM,
  * repeatedly, so any host-contention window hits all of them equally,
  * and report medians + spread. Protocol (BASELINE.md): sweep artifacts
  * (`Bench`) are for intra-round ratio tables only; any CROSS-ROUND
  * perf claim ("q47 got slower", "the rewrite is 1.7× faster") must be
  * backed by an AbProbe run.
  *
  * Usage:
  *   sbt "runMain graft.AbProbe <sfDir> <reps> <name1,name2,...>"
  *   tools/abprobe <sfDir> <reps> <name1,name2,...>
  *
  * Queries are chosen by `Bench.select`, the rule every harness main
  * shares: the `SparkEntry.queries` registry sorted by name, keeping
  * each name that contains any token, so `q147,q156,q158` works; a
  * token that matches no query fails before the session starts.
  * Each rep is one `Bench.sweep`: every query once in name order, then
  * the next rep — never reps× back-to-back per query, which would
  * re-create the sweep's vulnerability to a single slow window. Each
  * query is materialized through the `noop` sink (the Bench
  * discipline: keeps the final sort and every projected expression in
  * the executed plan). One warm-up sweep runs first and is NOT counted
  * — JIT + parquet-footer caches otherwise tax only the first query in
  * the list. Any failed run ends the probe with exit status 1.
  *
  * Output: per query, every reading plus median and min–max spread;
  * then one JSON line {"probe":..., "queries":{name:{"median":...,
  * "runs":[...]}}} (also written to SPARK_GRAFT_ABPROBE_OUT if set) so
  * the adjudication can be committed verbatim.
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: AbProbe <sfDir> <reps> <name1,name2,...>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val wanted = Bench.tokens(args(2))
    require(reps > 0 && wanted.nonEmpty, "need reps > 0 and a query list")
    val names = Bench.select(wanted)

    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // a failed run has no reading to compare: stop at the first one
    def orExit(pass: Seq[(String, (Double, Option[String]))]): Seq[(String, Double)] = {
      if (pass.exists { case (_, (_, err)) => err.nonEmpty }) { spark.stop(); sys.exit(1) }
      pass.map { case (n, (t, _)) => n -> t }
    }

    // uncounted warm-up pass (JIT, parquet footers); it also compiles
    // every generated class once, and the counted reps reuse them only
    // because the codegen cache holds the whole list
    // (GraftSession.CodegenCacheEntries, far above Spark's 100)
    orExit(Bench.sweep(spark, sfDir, names))

    // interleaved counted reps: round-robin over the list
    val passes = (1 to reps).map { rep =>
      val pass = orExit(Bench.sweep(spark, sfDir, names))
      pass.foreach { case (n, t) => println(f"[abprobe] rep $rep%2d $n%-28s $t%8.2f s") }
      pass.toMap
    }
    val readings = names.map { case (n, _) => n -> passes.map(_(n)) }

    println(f"\n${"query"}%-28s ${"median"}%8s ${"min"}%8s ${"max"}%8s  runs")
    readings.foreach { case (n, r) =>
      println(f"$n%-28s ${Bench.median(r)}%8.2f ${r.min}%8.2f ${r.max}%8.2f  " +
        r.map(t => f"$t%.2f").mkString(" "))
    }

    val qJson = readings.map { case (n, r) =>
      s""""$n":{"median":${Bench.ms(Bench.median(r))},"runs":[${r.map(Bench.ms).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"probe":"abprobe","sf":"${Bench.esc(sfDir)}","reps":$reps,"queries":$qJson}"""
    println(json)
    sys.env.get("SPARK_GRAFT_ABPROBE_OUT").foreach { f =>
      Files.write(Paths.get(f), json.getBytes(StandardCharsets.UTF_8))
      println(s"[abprobe] wrote $f")
    }
    spark.stop()
  }
}
