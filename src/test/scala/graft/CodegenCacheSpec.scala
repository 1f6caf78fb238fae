package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.reflect.io.Directory

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Child-JVM main for [[CodegenCacheSpec]]: builds `GraftSession.local(4)`
  * as the JVM's first session, runs [[CodegenCacheProbe.Queries]] through
  * `Bench.sweep` three times on the given data dir, and prints one line
  * `[codegen] pass <k> compiles <n>` per pass, `n` being the classes
  * janino compiled during the pass. Exits 1 if any query fails.
  *
  *   CodegenCacheProbe <sfDir>
  */
object CodegenCacheProbe {

  /** perfbench's `query_suite` queries: fixpoint loops and memo
    * consumers whose generated classes per pass exceed Spark's default
    * cache of 100 entries.
    */
  val Queries = Seq("q123_source_pagerank", "q137_robust_outliers", "q218_bpe_train",
    "q257_source_quality_tvd", "q261_keep_policy_diff", "q78_dedup_clusters",
    "q87_dedup_pipeline")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = Bench.select(Queries)
    (1 to 3).foreach { k =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val failed = Bench.sweep(spark, args(0), names).filter(_._2._2.nonEmpty)
      if (failed.nonEmpty) {
        System.err.println(s"[codegen] failed: ${failed.map(_._1).mkString(", ")}")
        sys.exit(1)
      }
      println(s"[codegen] pass $k compiles " +
        s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
    }
    spark.stop()
  }
}

/** The codegen cache holds the engine's working set: a session built by
  * `GraftSession.local` compiles each generated class once per JVM, so a
  * repeated pass over the same queries compiles nothing.
  *
  * The cache size is read once per JVM, when the first class is
  * compiled, and the specs of this suite share one JVM whose first
  * session may be any spec's plain `SparkSession.builder()`. So the
  * probe runs in a child JVM of its own: this JVM's `java`, classpath
  * and `--add-opens` flags.
  */
class CodegenCacheSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  private def probe(work: Path): (Int, Seq[Long], String) = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens"))
    val log = work.resolve("child.log")
    val cmd = Seq(java, "-Xmx1g") ++ opens ++ Seq("-cp", sys.props("java.class.path"),
      CodegenCacheProbe.getClass.getName.stripSuffix("$"), sfDir)
    val p = new ProcessBuilder(cmd: _*).directory(work.toFile)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(10, TimeUnit.MINUTES)) {
      p.destroyForcibly().waitFor()
      fail("probe did not finish in 10 minutes")
    }
    val out = Files.readAllLines(log).asScala.toSeq
    val Pass = """\[codegen\] pass \d compiles (\d+)""".r
    (p.exitValue(), out.collect { case Pass(n) => n.toLong }, out.takeRight(40).mkString("\n"))
  }

  test("a third pass over the query_suite set compiles no generated class") {
    val work = Files.createTempDirectory("codegen-cache")
    val (exit, passes, tail) =
      try probe(work)
      finally new Directory(work.toFile).deleteRecursively()
    assert(exit == 0 && passes.size == 3, s"probe exit $exit, passes $passes:\n$tail")
    // the fixture must overflow Spark's default cache, or the check
    // below would pass without GraftSession's setting
    assert(passes.head > 100, s"first pass compiled only ${passes.head} classes")
    assert(passes(2) == 0, s"compiles per pass $passes: the cache does not hold the set")
  }
}
