package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.grid.AscGrid

class GeneratorSpec extends AnyFunSuite {

  private def waves(seed: Long) =
    GridGen.ingestWaves(seed, IngestGrids.Waves, IngestGrids.GridsPerWave).flatten

  test("the same seed gives byte-identical grid files") {
    (waves(7) zip waves(7)).foreach { case (a, b) =>
      assert(a.name == b.name)
      assert(java.util.Arrays.equals(a.text, b.text))
    }
  }

  test("another seed changes values but not sizes") {
    val (a, b) = (waves(7), waves(8))
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) =>
      assert(x.values.length == y.values.length && x.points == y.points)
      assert(!java.util.Arrays.equals(x.values, y.values))
      val (gx, gy) = (AscGrid.parse(new String(x.text)), AscGrid.parse(new String(y.text)))
      assert((gx.ncols, gx.nrows) == ((GridGen.NCols, GridGen.NRows)))
      assert((gy.ncols, gy.nrows) == ((GridGen.NCols, GridGen.NRows)))
    }
  }

  test("grids have about 20% NODATA and the points the engine explodes") {
    val keep = GridGen.DataCells.toDouble / (GridGen.NCols * GridGen.NRows)
    assert(keep > 0.75 && keep < 0.85)
    val g = waves(3).head
    val pts = graft.grid.GridReader.explodeFile(g.name, new String(g.text)).toSeq
    assert(pts.size == g.points)
    assert(pts.map(_.radiation.toLong).sum == g.radiationSum)
    assert(pts.map(p => (p.year, p.month, p.day, p.hour)).distinct == Seq(g.partition))
  }

  test("ingest waves cover both types and cross the DST end with a repeated hour") {
    for (seed <- 0L until 10L) {
      val gs = waves(seed)
      assert(gs.map(_.radiationType).toSet == GridGen.Types.toSet)
      // 15:00 UTC is 02:00 AEDT, 16:00 UTC is 02:00 AEST: one partition
      assert(gs(0).partition == gs(1).partition)
      assert(gs.map(_.partition).distinct.size == gs.size - 1)
      assert(gs.forall(g => g.month == 4 && g.hour >= 2 && g.hour <= 4))
    }
  }

  test("the suite sample is seeded, one query per module, outside the core") {
    val registry = SparkEntry.queries
    val expected = registry.keys.map(_ -> 1L).toMap
    val s1 = QuerySuite.sample(registry, expected, 1, 3)
    assert(s1 == QuerySuite.sample(registry, expected, 1, 3))
    assert(s1.size == 3 && s1.forall(q => !QuerySuite.Core.contains(q)))
    assert(s1.map(q => QuerySuite.module(registry(q))).distinct.size == 3)
    assert((1 to 5).map(s => QuerySuite.sample(registry, expected, s, 3)).distinct.size > 1)
    assert(QuerySuite.Core.forall(registry.contains))
  }
}
