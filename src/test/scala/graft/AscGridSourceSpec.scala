package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{AscGridPartitionReader, AscGridScan, AscGridTable, GridFixtures, GridReader, RadiationPoint}

/** The DSv2 `ascgrid` format (VERDICT r15 item 4): row-identical to a
  * driver-side explode of each file, with schema-first planning, column pruning
  * into the reader, and planning-time FILE pruning from filename
  * metadata.
  */
class AscGridSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("ascgrid_dsv2")
    GridFixtures.files.foreach(f =>
      Files.writeString(d.resolve(f.name), f.content))
    d
  }

  /** The points of every file in `dir`, exploded on the driver with no
    * Spark from the same lossy decode of the file's bytes. */
  private lazy val reference: Seq[RadiationPoint] = GridFixtures.files.flatMap { f =>
    val p = dir.resolve(f.name)
    GridReader.explodeFile(p.toString, GridReader.decodeLossy(Files.readAllBytes(p)))
  }

  private def rowsOf(pts: Seq[RadiationPoint]): Set[Seq[Any]] =
    pts.map(_.productIterator.toSeq).toSet

  private def scanOf(df: org.apache.spark.sql.DataFrame): AscGridScan = {
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b.scan.asInstanceOf[AscGridScan] }
      .getOrElse(fail("no ascgrid BatchScan in the plan"))
  }

  test("format('ascgrid') is row-identical to a driver-side explode " +
    "(same parser, same lossy decode, same per-file metadata)") {
    val viaFormat = spark.read.format("ascgrid").load(dir.toString)
      .collect().map(_.toSeq).toSet
    assert(viaFormat == rowsOf(reference))
    assert(viaFormat.nonEmpty)
  }

  test("column pruning reaches the reader: a radiation-only projection " +
    "reads a 1-column schema (no per-cell date/type strings)") {
    val df = spark.read.format("ascgrid").load(dir.toString)
      .select("radiation")
    assert(scanOf(df).readSchema().fieldNames.toSeq == Seq("radiation"))
    assert(df.agg(sum("radiation")).collect()(0).getLong(0) ==
      reference.map(_.radiation.toLong).sum)
  }

  test("planning-time file pruning: a radiation_type filter drops the " +
    "other files before a byte is read, rows stay filter-correct") {
    val all = spark.read.format("ascgrid").load(dir.toString)
    val allFiles = scanOf(all).plannedFiles.size
    assert(allFiles == GridFixtures.files.size)

    val uv = spark.read.format("ascgrid").load(dir.toString)
      .filter(col("radiation_type") === "uv")
    val uvScan = scanOf(uv)
    val uvFiles = GridFixtures.files.count(_.name.contains("_uv_"))
    assert(uvScan.plannedFiles.size == uvFiles,
      s"expected $uvFiles planned files, got ${uvScan.plannedFiles}")
    assert(uv.collect().forall(_.getAs[String]("radiation_type") == "uv"))

    // range filter on a partition int (Sydney-local year from the name)
    val y2018 = spark.read.format("ascgrid").load(dir.toString)
      .filter(col("year") >= 2018)
    assert(scanOf(y2018).plannedFiles.size ==
      GridFixtures.files.count(f => graft.grid.AscGrid
        .parseFileName(f.name).year >= 2018))
    assert(y2018.collect().forall(_.getAs[Int]("year") >= 2018))
  }

  test("pruning is a pure optimization: filtered rows equal the driver-side " +
    "explode filtered row-side (residual filters re-evaluated by Spark)") {
    val viaFormat = spark.read.format("ascgrid").load(dir.toString)
      .filter(col("hour") === 12).collect().map(_.toSeq).toSet
    assert(viaFormat == rowsOf(reference.filter(_.hour == 12)))
  }

  test("a multi-path load keeps commas in a path: Jackson-written paths " +
    "are read back as JSON") {
    val root = Files.createTempDirectory("ascgrid_multi")
    val (first, second) = GridFixtures.files.splitAt(2)
    val commaDir = Files.createDirectory(root.resolve("a,b"))
    val plainDir = Files.createDirectory(root.resolve("c"))
    first.foreach(f => Files.writeString(commaDir.resolve(f.name), f.content))
    second.foreach(f => Files.writeString(plainDir.resolve(f.name), f.content))
    val df = spark.read.format("ascgrid").load(commaDir.toString, plainDir.toString)
    assert(scanOf(df).plannedFiles.size == GridFixtures.files.size)
    assert(df.collect().map(_.toSeq).toSet ==
      spark.read.format("ascgrid").load(dir.toString).collect().map(_.toSeq).toSet)
  }

  test("a grid file of 2 GiB or more fails by name instead of wrapping its length") {
    val d = Files.createTempDirectory("ascgrid_huge")
    val huge = d.resolve("IDZ00026_radiation_20180101_0100.txt")
    // sparse: the length is set, no byte is written
    val raf = new java.io.RandomAccessFile(huge.toFile, "rw")
    try raf.setLength(3L << 30) finally raf.close()
    try {
      val reader = new AscGridPartitionReader(huge.toString, AscGridTable.Schema, Map.empty)
      val e = intercept[IllegalArgumentException](reader.next())
      assert(e.getMessage.contains(huge.toString), e.getMessage)
      assert(e.getMessage.contains(AscGridTable.MaxFileBytes.toString), e.getMessage)
    } finally Files.delete(huge)
  }

  // a zero-byte file fails like the reference's lambda on an empty object,
  // and like ingest, which sends it to redrive
  Seq("BAD_radiation_20180101_0100.txt" -> "garbage".getBytes(UTF_8),
    "IDZ00026_radiation_20180101_0100.txt" -> Array.emptyByteArray).foreach { case (bad, bytes) =>
    test(s"a batch read of the fixtures plus ${bytes.length}-byte $bad fails naming it") {
      val d = Files.createTempDirectory("ascgrid_bad")
      GridFixtures.files.foreach(f => Files.writeString(d.resolve(f.name), f.content))
      Files.write(d.resolve(bad), bytes)
      val reads = Seq[(String, () => Any)](
        "readGrids" -> (() => GridReader.readGrids(spark, d.toString).collect()),
        "format('ascgrid')" -> (() => spark.read.format("ascgrid").load(d.toString).collect()))
      reads.foreach { case (how, read) =>
        val e = intercept[Exception](read())
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(causes.exists(c => String.valueOf(c.getMessage).contains(bad)),
          s"$how: no cause names $bad: $e")
      }
    }
  }
}
