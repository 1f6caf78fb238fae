package graft.grid

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.RecordWriter
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SPARK_VERSION_SHORT
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetCompressionCodec, ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes a parsed grid file as one parquet object of the serving table,
  * `<dir>/year=/month=/day=/hour=/<baseName><codec>.parquet`, as the reference
  * writes one object per grid (`bom/bom.py:28-32,65,76`). The footer is the
  * session's: Spark's schema converter, codec and metadata keys. Built on the
  * driver, used in tasks.
  */
final class GridParquet(spark: SparkSession, dir: String) extends Serializable {
  // the serving schema minus its partition keys, in the order Cell writes
  private val data = StructType(Seq("date", "radiation_type", "longitude", "latitude", "radiation").map(AscGridTable.Schema(_)))
  // as text: MessageType is not serializable
  private val schema = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(data).toString
  private val metadata = java.util.Map.of("org.apache.spark.version", SPARK_VERSION_SHORT, ParquetReadSupport.SPARK_METADATA_KEY, data.json)
  private val codec = ParquetCompressionCodec.fromString(spark.sessionState.conf.parquetCompressionCodec).getCompressionCodec
  private val conf = spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Write `g`'s data cells, in [[AscGrid.explode]]'s order and arithmetic, as `meta`'s
    * object: under a hidden temp name in its partition directory, then renamed over any
    * object of that name, so readers never see a partial one. An all-NODATA grid writes
    * nothing. The rows and bytes go to the task's output metrics. */
  def write(meta: GridFileMeta, g: AscGrid): Unit = {
    val part = new Path(dir, s"year=${meta.year}/month=${meta.month}/day=${meta.day}/hour=${meta.hour}")
    val dst = new Path(part, s"${meta.baseName}${codec.getExtension}.parquet")
    val tmp = new Path(part, s".tmp_${java.util.UUID.randomUUID()}_${dst.getName}")
    val fs = part.getFileSystem(conf.value.value)
    val cell = new GridParquet.Cell(schema, metadata, meta)
    var out: RecordWriter[Void, GridParquet.Cell] = null
    var rows = 0L
    var r = 0
    try while (r < g.nrows) {
      val cells = g.values(r)
      var c = 0
      while (c < g.ncols) {
        if (cells(c) != g.nodata) {
          if (out == null)
            out = new ParquetOutputFormat[GridParquet.Cell](cell)
              .getRecordWriter(conf.value.value, tmp, codec, ParquetFileWriter.Mode.OVERWRITE)
          cell.lon = g.xllcorner + c * g.cellsize
          cell.lat = g.yllcorner + (g.nrows - 1 - r) * g.cellsize
          cell.rad = cells(c)
          out.write(null, cell)
          rows += 1
        }
        c += 1
      }
      r += 1
    } catch { case e: Throwable => if (out != null) try out.close(null) finally fs.delete(tmp, false); throw e }
    if (out != null) {
      out.close(null)
      // a filesystem whose rename does not replace gets delete + rename
      if (!fs.rename(tmp, dst) && !(fs.delete(dst, false) && fs.rename(tmp, dst)))
        throw new java.io.IOException(s"could not publish $dst")
      WriteBridge.addOutput(rows, fs.getFileStatus(dst).getLen)
    }
  }
}

object GridParquet {
  /** The one point being written, which writes itself: the file's `date` and
    * `radiation_type`, encoded once, then the cell's values, in schema order. */
  private final class Cell(schema: String, metadata: java.util.Map[String, String], meta: GridFileMeta)
      extends WriteSupport[Cell] {
    // array-backed, as Spark's writer passes strings: statistics compare arrays, not buffers
    private val date = Binary.fromConstantByteArray(meta.localDateTime.getBytes(UTF_8))
    private val kind = Binary.fromConstantByteArray(meta.radiationType.getBytes(UTF_8))
    var lon, lat = 0.0
    var rad = 0
    private var rc: RecordConsumer = _
    override def init(conf: Configuration) =
      new WriteSupport.WriteContext(MessageTypeParser.parseMessageType(schema), metadata)
    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer
    override def write(c: Cell): Unit = {
      rc.startMessage()
      rc.startField("date", 0); rc.addBinary(c.date); rc.endField("date", 0)
      rc.startField("radiation_type", 1); rc.addBinary(c.kind); rc.endField("radiation_type", 1)
      rc.startField("longitude", 2); rc.addDouble(c.lon); rc.endField("longitude", 2)
      rc.startField("latitude", 3); rc.addDouble(c.lat); rc.endField("latitude", 3)
      rc.startField("radiation", 4); rc.addInteger(c.rad); rc.endField("radiation", 4)
      rc.endMessage()
    }
  }
}
