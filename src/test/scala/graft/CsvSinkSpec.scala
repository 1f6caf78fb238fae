package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.grid.{CsvSink, GridFixtures, GridReader}
import graft.io.FileOps

/** Reference-exact CSV sink (byte-level F1 parity), lossy decode (O1),
  * and the file state-machine utilities (O10/O11/O24/O25).
  */
class CsvSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** FIXTURES.md F1's documented expected CSV, byte for byte. */
  private val f1ExpectedCsv =
    """Date,RadiationType,Longitude,Latitude,Radiation
      |2018-01-01 10:00,radiation,112.0,-43.0,12
      |2018-01-01 10:00,radiation,112.5,-43.0,15
      |2018-01-01 10:00,radiation,113.5,-43.0,20
      |2018-01-01 10:00,radiation,112.0,-43.5,7
      |2018-01-01 10:00,radiation,113.0,-43.5,9
      |2018-01-01 10:00,radiation,113.5,-43.5,11
      |2018-01-01 10:00,radiation,112.5,-44.0,3
      |2018-01-01 10:00,radiation,113.0,-44.0,4""".stripMargin

  test("renderCsv reproduces FIXTURES.md F1 byte for byte") {
    val pts = GridReader
      .explodeFile(GridFixtures.f1.name, GridFixtures.f1.content).toSeq
    assert(CsvSink.renderCsv(pts) == f1ExpectedCsv)
  }

  test("write lands one CSV per file at the reference partition key") {
    val in = Files.createTempDirectory("csv-in")
    GridFixtures.files.foreach(f => Files.writeString(in.resolve(f.name), f.content))
    val out = Files.createTempDirectory("csv-out").toString
    CsvSink.write(GridReader.pointsPerFile(spark, in.toString), out)
    val f1Path = Paths.get(out,
      "year=2018/month=01/day=01/hour=10/IDZ00026_radiation_20171231_2300.csv")
    assert(Files.exists(f1Path))
    assert(Files.readString(f1Path) == f1ExpectedCsv)
    // spark can read the layout back with partition discovery
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 14)
    assert(back.columns.contains("year") && back.columns.contains("hour"))
  }

  test("reference-layout parquet sink emits the exact zero-padded string key paths") {
    val in = Files.createTempDirectory("ref-in")
    GridFixtures.files.foreach(f => Files.writeString(in.resolve(f.name), f.content))
    val out = Files.createTempDirectory("ref-out").toString
    val points = GridReader.readGrids(spark, in.toString)
    GridReader.writePartitionedRefLayout(points, out)
    // every emitted partition directory must equal the reference key
    // builder's prefix (CsvSink.partitionKey IS bom.py:28-32), byte for
    // byte — `month=01`, never `month=1`
    val expectedKeys = points.collect()
      .map(p => CsvSink.partitionKey(p, "x").split("/").dropRight(1).mkString("/"))
      .toSet
    val emittedKeys = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(out)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("hour="))
        .map(p => Paths.get(out).relativize(p).toString)
        .toSet
    }
    assert(emittedKeys == expectedKeys,
      s"layout mismatch: emitted=$emittedKeys expected=$expectedKeys")
    // reading back WITHOUT type inference preserves the string keys
    val back = spark.read
      .option("basePath", out)
      .parquet(out)
    assert(back.count() == 14)
  }

  test("lossy decode drops undecodable bytes like Python errors='ignore'") {
    val dirty = Array[Byte]('n', 'c', 0xff.toByte, 'o', 'l', 's')
    assert(GridReader.decodeLossy(dirty) == "ncols")
    val in = Files.createTempDirectory("lossy-in")
    // inject an invalid UTF-8 byte into the middle of a valid fixture
    val clean = GridFixtures.f1.content.getBytes("UTF-8")
    val corrupted = clean.take(10) ++ Array(0xfe.toByte) ++ clean.drop(10)
    Files.write(in.resolve(GridFixtures.f1.name), corrupted)
    val pts = GridReader.readGrids(spark, in.toString).collect()
    assert(pts.length == 8) // identical to the clean parse
  }

  test("file state machine: bootstrap, move, copy, delete") {
    val root = Files.createTempDirectory("stages").toString
    val stages = FileOps.bootstrapStages(spark, root)
    assert(stages.size == 4)
    val inFile = s"$root/in/f.txt"
    Files.writeString(Paths.get(root, "in/f.txt"), "payload")
    assert(FileOps.move(spark, inFile, s"$root/processing/f.txt"))
    assert(!Files.exists(Paths.get(root, "in/f.txt")))
    assert(FileOps.copy(spark, s"$root/processing/f.txt", s"$root/done/f.txt"))
    assert(Files.exists(Paths.get(root, "processing/f.txt")))
    assert(Files.exists(Paths.get(root, "done/f.txt")))
    assert(FileOps.listPrefix(spark, s"$root/done").size == 1)
    assert(FileOps.deletePrefix(spark, s"$root/done"))
    assert(FileOps.listPrefix(spark, s"$root/done").isEmpty)
  }
}
