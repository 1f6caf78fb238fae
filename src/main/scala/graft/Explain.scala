package graft

import java.nio.file.{Files, Paths}

/** Plan-review tool: dumps `explain("formatted")` for every registered
  * query so scan pushdown (PushedFilters/ReadSchema), join strategies
  * (BroadcastHashJoin vs SortMergeJoin), TakeOrderedAndProject, and
  * WholeStageCodegen spans can be audited per round.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [outFile] [filter]"
  * (optional third arg: comma-separated name substrings chosen by
  * `Bench.select`, the rule every harness main shares — local plan
  * iteration aid)
  *
  * NOTE (ADVICE r15): queries built on eager checkpoints — q183's
  * localCheckpoint basket build — execute REAL Spark jobs during
  * DataFrame construction, so "plan-only" dumps at a large sf pay the
  * checkpoint cost. Run Explain at a tiny sf (the sf0.01 default) when
  * q183-family plans are all you need.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val filter = args.lift(2).map(Bench.tokens).getOrElse(Nil)
    val names = Bench.select(filter)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // GraftSession registers the extensions — without them the custom
    // AsOfJoin node (q74) has no planner strategy and explain fails
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    // a filtered dump must say so in-band: a canonical PLANS_r<N>.txt
    // silently replaced by a subset would read as "plan coverage
    // shrank" (the Bench subset-masquerade hazard, same fix)
    if (filter.nonEmpty)
      sb.append(s"== FILTERED PLAN DUMP (filter=${filter.mkString(",")}) — " +
        "NOT a full artifact ==\n")
    names.foreach { case (name, fn) =>
      sb.append(s"\n${"=" * 78}\n== $name\n${"=" * 78}\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => sb.append(s"EXPLAIN FAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote ${outFile}")
    spark.stop()
  }
}
