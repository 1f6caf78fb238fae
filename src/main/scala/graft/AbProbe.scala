package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

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
  * Names are substring-matched against the `SparkEntry.queries`
  * registry (the Bench filter semantics), so `q147,q156,q158` works.
  * Execution order is round-robin: rep 1 runs every query once in list
  * order, then rep 2, ... — never reps× back-to-back per query, which
  * would re-create the sweep's vulnerability to a single slow window.
  * Each query is materialized through the `noop` sink (the Bench
  * discipline: keeps the final sort and every projected expression in
  * the executed plan). One warm-up pass over the whole list runs first
  * and is NOT counted — JIT + parquet-footer caches otherwise tax only
  * the first query in the list.
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
    val wanted = args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(reps > 0 && wanted.nonEmpty, "need reps > 0 and a query list")

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.contains) }
    val missed = wanted.filterNot(w => names.exists(_._1.contains(w)))
    require(missed.isEmpty, s"no registered query matches: ${missed.mkString(", ")}")

    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // uncounted warm-up pass (JIT, parquet footers, codegen cache)
    names.foreach { case (n, fn) =>
      try runOnce(fn) catch { case e: Throwable =>
        System.err.println(s"[abprobe] $n warmup FAILED: ${e.getMessage}"); throw e }
    }

    // interleaved counted reps: round-robin over the list
    val readings = collection.mutable.Map(names.map(_._1 -> Vector.empty[Double]): _*)
    (1 to reps).foreach { rep =>
      names.foreach { case (n, fn) =>
        val t = runOnce(fn)
        readings(n) = readings(n) :+ t
        println(f"[abprobe] rep $rep%2d $n%-28s $t%8.2f s")
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    println(f"\n${"query"}%-28s ${"median"}%8s ${"min"}%8s ${"max"}%8s  runs")
    names.foreach { case (n, _) =>
      val r = readings(n)
      println(f"$n%-28s ${median(r)}%8.2f ${r.min}%8.2f ${r.max}%8.2f  " +
        r.map(t => f"$t%.2f").mkString(" "))
    }

    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    // minimal JSON string escape (quote/backslash/control) — the sf
    // path is operator-supplied and lands in a committed artifact
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val qJson = names.map { case (n, _) =>
      val r = readings(n)
      s""""$n":{"median":${ms(median(r))},"runs":[${r.map(ms).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"probe":"abprobe","sf":"${esc(sfDir)}","reps":$reps,"queries":$qJson}"""
    println(json)
    sys.env.get("SPARK_GRAFT_ABPROBE_OUT").foreach { f =>
      Files.write(Paths.get(f), json.getBytes(StandardCharsets.UTF_8))
      println(s"[abprobe] wrote $f")
    }
    spark.stop()
  }
}
