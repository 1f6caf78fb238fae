package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the query-run path every harness main shares through `Bench`:
  * selection, the JSON escaper, the median, and one round-robin sweep.
  * Uses the JVM's shared session and leaves it running for other specs.
  */
class BenchSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private def registry = SparkEntry.queries.keys.toSeq.sorted

  test("select with no tokens returns the whole registry, sorted by name") {
    assert(Bench.select(Nil).map(_._1) == registry)
  }

  test("select keeps exactly the names containing any token, in sorted order") {
    val got = Bench.select(Seq("q01", "q2")).map(_._1)
    assert(got == registry.filter(n => n.contains("q01") || n.contains("q2")))
    assert(got.contains("q01_scan_filter_project"))
    assert(got == got.sorted)
  }

  test("a token that matches no query fails and names the token") {
    val e = intercept[IllegalArgumentException](
      Bench.select(Seq("q01", "no_such_query_zz")))
    assert(e.getMessage.contains("no_such_query_zz"))
    assert(!e.getMessage.contains("q01"))
  }

  test("tokens drops blanks and trims") {
    assert(Bench.tokens(" q01, ,q02 ,") == Seq("q01", "q02"))
    assert(Bench.tokens(",") == Nil)
  }

  test("esc round-trips quotes, backslashes and control chars through a JSON parser") {
    val s = "a\"b\\c\nd\te\u0001f\rg"
    val parsed = JsonMethods.parse(s"""{"k":"${Bench.esc(s)}"}""")
    assert(parsed \ "k" == JString(s))
  }

  test("median of odd and even lengths") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.median(Seq(7.0)) == 7.0)
  }

  test("sweep returns one error-free reading per query, in order") {
    val spark = GraftSession.local(4)
    val names = Bench.select(Seq("q01", "q02"))
    val pass = Bench.sweep(spark, sfDir, names)
    assert(pass.map(_._1) == names.map(_._1))
    pass.foreach { case (n, (t, err)) =>
      assert(err.isEmpty, s"$n failed: $err")
      assert(t > 0.0)
    }
  }

  test("sweep records a throwing query as an error entry and goes on") {
    val spark = GraftSession.local(4)
    val boom: Bench.QueryFn = (_, _) => throw new IllegalStateException("boom")
    val names = Seq("boom" -> boom) ++ Bench.select(Seq("q01"))
    val pass = Bench.sweep(spark, sfDir, names)
    assert(pass.map(_._1) == names.map(_._1))
    assert(pass.head._2._2 == Some("boom"))
    assert(pass(1)._2._2.isEmpty)
  }
}
