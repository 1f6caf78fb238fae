package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{AscGrid, GridFixtures, GridReader}
import graft.streaming.Ingest

/** The objects the ingest writes, one per grid file: the same footer,
  * codec and points as Spark's own partitioned write of the same grids. */
class GridParquetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SparkKeys = Seq("org.apache.spark.version", "org.apache.spark.sql.parquet.row.metadata")

  private def fixtures(): Path = {
    val in = Files.createTempDirectory("gp-in")
    GridFixtures.files.foreach(f => Files.writeString(in.resolve(f.name), f.content))
    in
  }

  /** Drain `in` into a fresh serving dir and return it. */
  private def ingest(in: Path): Path = {
    val serving = Files.createTempDirectory("gp-serving")
    Ingest.runAvailableNow(spark, in.toString, serving.toString,
      Files.createTempDirectory("gp-chk").toString, Files.createTempDirectory("gp-archive").toString,
      Files.createTempDirectory("gp-quarantine").toString)
    serving
  }

  /** Every visible data file under `dir`. */
  private def objects(dir: Path): Seq[Path] = Files.walk(dir).iterator.asScala
    .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*")).toSeq

  private def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toUri),
      spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  test("an ingested object's schema and Spark metadata equal a writePartitioned write's") {
    val in = fixtures()
    val ours = objects(ingest(in))
    val theirs = Files.createTempDirectory("gp-spark")
    GridReader.writePartitioned(GridReader.readGrids(spark, in.toString), theirs.toString)
    def footerId(p: Path) = {
      val m = footer(p).getFileMetaData
      (m.getSchema, SparkKeys.map(m.getKeyValueMetaData.get))
    }
    val want = objects(theirs).map(footerId).distinct
    assert(want.size == 1 && want.head._2.forall(_ != null), want.toString)
    assert(ours.size == GridFixtures.files.size)
    ours.foreach(p => assert(footerId(p) == want.head, p.toString))
  }

  test("each object holds its grid's points in explode order") {
    val serving = ingest(fixtures())
    GridFixtures.files.foreach { f =>
      val m = AscGrid.parseFileName(f.name)
      val obj = serving.resolve(
        s"year=${m.year}/month=${m.month}/day=${m.day}/hour=${m.hour}/${m.baseName}.snappy.parquet")
      val got = spark.read.parquet(obj.toString)
        .selectExpr("date", "radiation_type", "longitude", "latitude", "radiation").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getInt(4))).toSeq
      val want = GridReader.explodeFile(f.name, f.content)
        .map(p => (p.date, p.radiation_type, p.longitude, p.latitude, p.radiation)).toSeq
      assert(got == want, f.name)
    }
  }

  test("the session's parquet codec names and compresses the objects") {
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "zstd")
    val serving = try ingest(fixtures()) finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val objs = objects(serving)
    assert(objs.map(_.getFileName.toString).sorted == GridFixtures.files.map(f =>
      AscGrid.parseFileName(f.name).baseName + ".zstd.parquet").sorted)
    objs.foreach { p =>
      val chunks = footer(p).getBlocks.asScala.flatMap(_.getColumns.asScala)
      assert(chunks.nonEmpty && chunks.forall(_.getCodec == CompressionCodecName.ZSTD), p.toString)
    }
    assert(spark.read.parquet(serving.toString).count() == 14)
  }

  test("an all-NODATA grid leaves no object and no partition directory") {
    val in = Files.createTempDirectory("gp-nodata-in")
    Files.writeString(in.resolve("IDZ00026_radiation_20180102_0100.txt"),
      "ncols 2\nnrows 1\nxllcorner 112.0\nyllcorner -44.0\ncellsize 0.5\n" +
        "NODATA_value -999\n-999 -999")
    val serving = ingest(in)
    assert(Files.list(serving).iterator.asScala.toSeq.isEmpty)
    assert(!Files.exists(in.resolve("retry2__IDZ00026_radiation_20180102_0100.txt")))
  }
}
