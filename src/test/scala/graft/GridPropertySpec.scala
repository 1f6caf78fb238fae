package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{AscGrid, GridFixtures, GridReader, RadiationPoint}

/** Property tests (SURVEY.md §5.2): random grids → render → parse →
  * explode, checking the structural invariants of the raster→points
  * contract.
  */
class GridPropertySpec extends AnyFunSuite {

  private val NoData = -999

  private case class RawGrid(
      ncols: Int, nrows: Int,
      xll: Double, yll: Double, cell: Double,
      values: Vector[Vector[Int]]) {
    def render: String = {
      val header =
        s"""ncols $ncols
           |nrows $nrows
           |xllcorner $xll
           |yllcorner $yll
           |cellsize $cell
           |NODATA_value $NoData""".stripMargin
      (header +: values.map(_.mkString(" "))).mkString("\n")
    }
  }

  private val gridGen: Gen[RawGrid] = for {
    ncols <- Gen.choose(1, 9)
    nrows <- Gen.choose(1, 9)
    xll <- Gen.choose(-180, 180).map(_ * 1.0)
    yll <- Gen.choose(-90, 90).map(_ * 1.0)
    cell <- Gen.oneOf(0.25, 0.5, 1.0) // binary-exact cellsizes
    values <- Gen.listOfN(nrows,
      Gen.listOfN(ncols, Gen.frequency(
        4 -> Gen.choose(0, 1000),
        1 -> Gen.const(NoData))).map(_.toVector)).map(_.toVector)
  } yield RawGrid(ncols, nrows, xll, yll, cell, values)

  /** Deterministic sampler (scalatestplus isn't on the offline classpath;
    * raw ScalaCheck generators with a fixed seed chain give the same
    * coverage reproducibly).
    */
  private def forAll[A](gen: Gen[A])(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var produced = 0
    while (produced < 200) {
      gen.apply(params, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
    }
  }

  test("parse is the inverse of render") {
    forAll(gridGen) { raw =>
      val g = AscGrid.parse(raw.render)
      assert(g.ncols == raw.ncols && g.nrows == raw.nrows)
      assert(g.xllcorner == raw.xll && g.yllcorner == raw.yll)
      assert(g.cellsize == raw.cell && g.nodata == NoData)
      assert(g.values.map(_.toVector) == raw.values)
    }
  }

  test("explode emits exactly the non-NODATA cells") {
    forAll(gridGen) { raw =>
      val g = AscGrid.parse(raw.render)
      val expected = raw.values.flatten.count(_ != NoData)
      assert(g.explode.size == expected)
    }
  }

  test("exploded coordinates stay inside the grid bounding box") {
    forAll(gridGen) { raw =>
      val g = AscGrid.parse(raw.render)
      g.explode.foreach { p =>
        assert(p.longitude >= g.xllcorner)
        assert(p.longitude <= g.xllcorner + (g.ncols - 1) * g.cellsize)
        assert(p.latitude >= g.yllcorner)
        assert(p.latitude <= g.yllcorner + (g.nrows - 1) * g.cellsize)
      }
    }
  }

  test("explode round-trips: re-pivoting points rebuilds the raster") {
    forAll(gridGen) { raw =>
      val g = AscGrid.parse(raw.render)
      // rebuild a NODATA-filled raster and place every point back by its
      // affine-inverted indices
      val rebuilt = Array.fill(g.nrows, g.ncols)(NoData)
      g.explode.foreach { p =>
        val c = math.round((p.longitude - g.xllcorner) / g.cellsize).toInt
        val r = g.nrows - 1 - math.round((p.latitude - g.yllcorner) / g.cellsize).toInt
        rebuilt(r)(c) = p.radiation
      }
      assert(rebuilt.map(_.toVector).toVector == raw.values)
    }
  }

  test("no two points share coordinates within a grid") {
    forAll(gridGen) { raw =>
      val pts = AscGrid.parse(raw.render).explode.toVector
      val coords = pts.map(p => (p.longitude, p.latitude))
      assert(coords.distinct.size == coords.size)
    }
  }

  private val Columns = Seq("date", "radiation_type", "longitude", "latitude",
    "radiation", "year", "month", "day", "hour")

  /** A decoded row's `cols`, with doubles as their exact bits. */
  private def fieldsOf(row: InternalRow, cols: Seq[String]): Seq[Any] =
    cols.zipWithIndex.map {
      case ("date" | "radiation_type", i) => row.getUTF8String(i).toString
      case ("longitude" | "latitude", i) => java.lang.Double.doubleToRawLongBits(row.getDouble(i))
      case (_, i) => row.getInt(i)
    }

  private def fieldsOf(p: RadiationPoint, cols: Seq[String]): Seq[Any] = {
    val byName = p.productElementNames.zip(p.productIterator).toMap
    cols.map(byName(_) match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })
  }

  test("pointRows decodes exactly what explodeFile does, for any column " +
    "subset, and throws for a malformed grid from the call") {
    val name = "IDZ00026_radiation_20180101_0100.txt"
    def check(name: String, text: String): Unit = {
      val want = GridReader.explodeFile(name, text).toVector
      Seq(Columns, Seq("latitude", "date", "radiation"), Seq("hour"), Nil).foreach { cols =>
        // the decoder reuses one row, so each is copied as it is taken
        val got = GridReader.pointRows(name, text, cols).map(_.copy()).toVector
        assert(got.map(fieldsOf(_, cols)) == want.map(fieldsOf(_, cols)), s"$name $cols")
      }
    }
    forAll(gridGen)(raw => check(name, raw.render))
    GridFixtures.files.foreach(f => check(f.name, f.content))

    // eager: a malformed grid throws from the call itself, not from next()
    val header = "ncols 2\nnrows 1\nxllcorner 112.0\nyllcorner -44.0\ncellsize 0.5\nNODATA_value -999\n"
    intercept[IllegalArgumentException](GridReader.pointRows(name, "ncols 2\nnrows 1"))
    intercept[NumberFormatException](GridReader.pointRows(name, header + "1 x"))
    intercept[IllegalArgumentException](GridReader.pointRows(name, header + "1 2 3"))
    intercept[IllegalArgumentException](GridReader.pointRows("not_a_grid.txt", header + "1 2"))
  }
}
