package graft.grid

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** One output row of the radiation ETL (serving-table schema, FIXTURES.md
  * F4). `date` is the Sydney-local rendering `yyyy-MM-dd HH:mm` (constant
  * per file, `bom/bom.py:68,148`); `year/month/day/hour` are the
  * Sydney-local partition keys (`bom/bom.py:28-32`, standardized to ints
  * per SURVEY.md §1.5).
  */
final case class RadiationPoint(
    date: String,
    radiation_type: String,
    longitude: Double,
    latitude: Double,
    radiation: Int,
    year: Int,
    month: Int,
    day: Int,
    hour: Int)

/** Batch ingest layer: directory of ESRI ASCII grids → typed
  * `Dataset[RadiationPoint]` → Hive-partitioned parquet.
  *
  * Files are read whole because the 6 header lines are positional
  * (SURVEY.md §7.4): the unit of parallelism is the FILE, matching the
  * reference's 1-file-1-lambda fan-out (`cloudformation/lambda.cfn.yaml:127`).
  * BOM grids are ≈886×691 ints — far below executor memory — so per-file
  * decoding is safe at any corpus size; 100 TB of grids parallelizes across
  * files, not within them. Every path reads raw bytes and decodes them with
  * [[decodeLossy]], the reference's one byte contract.
  */
object GridReader {

  /** (path, lossily decoded text) per file under `inDir`. */
  private def wholeFiles(spark: SparkSession, inDir: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(inDir)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (path, bytes) => (path, decodeLossy(bytes)) }
  }

  /** Explode every grid file under `inDir` into typed points: the `ascgrid`
    * source, so a zero-byte or malformed file fails the read by name. */
  def readGrids(spark: SparkSession, inDir: String): Dataset[RadiationPoint] =
    spark.read.format("ascgrid").load(inDir).as(Encoders.product[RadiationPoint])

  /** Batch ingest with the streaming path's fault tolerance: corrupt
    * files are returned separately instead of failing the job (batch
    * analogue of the quarantine sink). Returns (points, badFiles) where
    * badFiles carries (file_name, error).
    */
  def readGridsSafe(
      spark: SparkSession,
      inDir: String): (Dataset[RadiationPoint], Dataset[(String, String)]) = {
    import spark.implicits._
    val files = wholeFiles(spark, inDir)
    (files.flatMap { case (name, text) => tryExplode(name, text).getOrElse(Iterator.empty) },
      files.flatMap { case (name, text) => tryExplode(name, text).left.toOption.map(name -> _) })
  }

  /** [[explodeFile]] or its [[errorText]]; a bad file fails here, as the parse is eager. */
  private def tryExplode(name: String, text: String): Either[String, Iterator[RadiationPoint]] =
    scala.util.Try(explodeFile(name, text)).toEither.left.map(errorText)

  /** How a failed file's error is recorded: `<exception class>: <message>`. */
  private[graft] def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Python `bytes.decode('utf-8', 'ignore')` equivalent, the reference's
    * decode (`bom/bom.py:58`): undecodable bytes are DROPPED, where Spark's
    * text source would substitute U+FFFD. */
  def decodeLossy(bytes: Array[Byte]): String = {
    import java.nio.charset.{CodingErrorAction, StandardCharsets}
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** Group exploded points per source file — feed for [[CsvSink]]'s
    * one-object-per-file layout.
    */
  def pointsPerFile(spark: SparkSession, inDir: String): Dataset[(String, Seq[RadiationPoint])] = {
    import spark.implicits._
    wholeFiles(spark, inDir).map { case (name, text) =>
      (AscGrid.parseFileName(name).baseName, explodeFile(name, text).toSeq)
    }
  }

  /** A grid file's name and text, both parsed EAGERLY: a bad file throws here. */
  def parseFile(fileName: String, text: String): (GridFileMeta, AscGrid) =
    (AscGrid.parseFileName(fileName), AscGrid.parse(text))

  /** Pure per-file transform to typed points: the object reference path
    * that [[pointRows]] is tested against, and directly unit-testable.
    */
  def explodeFile(fileName: String, wholeText: String): Iterator[RadiationPoint] = {
    val (meta, g) = parseFile(fileName, wholeText)
    g.explode.map { p =>
      RadiationPoint(
        date = meta.localDateTime,
        radiation_type = meta.radiationType,
        longitude = p.longitude,
        latitude = p.latitude,
        radiation = p.radiation,
        year = meta.year,
        month = meta.month,
        day = meta.day,
        hour = meta.hour)
    }
  }

  /** One file's points as Catalyst rows, the row decoder of the `ascgrid`
    * source (so of [[readGrids]]): the cells of
    * [[AscGrid.explode]], in its order and arithmetic, carrying `columns`
    * in that order. The name and the grid are parsed EAGERLY, so a bad file
    * throws from this call, never from the iterator. Every `next()` returns
    * the SAME reused `UnsafeRow`: the per-file constants are written once,
    * and each cell only sets `longitude`, `latitude` and `radiation` in
    * place. A consumer that buffers rows must `copy()` them.
    */
  def pointRows(
      fileName: String,
      text: String,
      columns: Seq[String] = AscGridTable.Schema.fieldNames.toSeq): Iterator[InternalRow] = {
    val (meta, g) = parseFile(fileName, text)
    val w = new UnsafeRowWriter(columns.size, 64)
    w.resetRowWriter()
    w.zeroOutNullBytes()
    columns.zipWithIndex.foreach {
      case ("date", i) => w.write(i, UTF8String.fromString(meta.localDateTime))
      case ("radiation_type", i) => w.write(i, UTF8String.fromString(meta.radiationType))
      case ("year", i) => w.write(i, meta.year)
      case ("month", i) => w.write(i, meta.month)
      case ("day", i) => w.write(i, meta.day)
      case ("hour", i) => w.write(i, meta.hour)
      case ("longitude" | "latitude" | "radiation", _) =>
      case (other, _) => throw new IllegalArgumentException(s"unknown grid column $other")
    }
    val row = w.getRow
    val (lon, lat, rad) =
      (columns.indexOf("longitude"), columns.indexOf("latitude"), columns.indexOf("radiation"))
    new Iterator[InternalRow] {
      private var r, c = 0 // the next cell to look at; r reaches nrows at the end
      private var cells = if (g.nrows > 0) g.values(0) else null // row r's cells

      override def hasNext: Boolean = {
        while (r < g.nrows && (c == g.ncols || cells(c) == g.nodata))
          if (c < g.ncols) c += 1
          else { r += 1; c = 0; if (r < g.nrows) cells = g.values(r) }
        r < g.nrows
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("no grid cell left")
        if (lon >= 0) row.setDouble(lon, g.xllcorner + c * g.cellsize)
        if (lat >= 0) row.setDouble(lat, g.yllcorner + (g.nrows - 1 - r) * g.cellsize)
        if (rad >= 0) row.setInt(rad, cells(c))
        c += 1
        row
      }
    }
  }

  /** Write the serving table: Hive layout `year=/month=/day=/hour=`
    * (`bom/bom.py:28-32`) in parquet (not CSV — SURVEY.md §1.5 fixes the
    * reference's header-row-as-data defect by construction). Partition
    * discovery + pruning then come free on read.
    */
  def writePartitioned(
      points: Dataset[RadiationPoint],
      servingDir: String,
      mode: SaveMode = SaveMode.Append): Unit =
    points.write
      .mode(mode)
      .partitionBy("year", "month", "day", "hour")
      .parquet(servingDir)

  /** OPT-IN reference-layout sink: the same Hive tree but with the
    * reference's zero-padded STRING partition values
    * (`year=2020/month=01/day=05/hour=09` — `bom/bom.py:28-32` builds
    * keys from strftime, so Athena sees strings). [[writePartitioned]]
    * stays the default (int partitions, SURVEY.md §1.2); this mode
    * exists for users serving INTO an existing Athena layout, where a
    * byte-for-byte path diff against the reference tree must come up
    * empty. Reading the tree back with Spark re-infers ints unless
    * `spark.sql.sources.partitionColumnTypeInference.enabled=false` —
    * set it when byte-parity matters on the read side too.
    */
  def writePartitionedRefLayout(
      points: Dataset[RadiationPoint],
      servingDir: String,
      mode: SaveMode = SaveMode.Append): Unit =
    points.toDF()
      .withColumn("year", format_string("%04d", col("year")))
      .withColumn("month", format_string("%02d", col("month")))
      .withColumn("day", format_string("%02d", col("day")))
      .withColumn("hour", format_string("%02d", col("hour")))
      .write
      .mode(mode)
      .partitionBy("year", "month", "day", "hour")
      .parquet(servingDir)
}
