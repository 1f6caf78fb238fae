package graft.streaming

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog, FileStreamSourceOffset, SerializedOffset}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.grid.{AscGrid, GridFileMeta, GridParquet, GridReader}

/** Event-driven ingest (reference EP1, SURVEY.md §3): the S3
  * `ObjectCreated` → Lambda choreography becomes a Structured Streaming
  * file source. The reference's `in/ → processing/ → done/` state machine
  * (`bom/bom.py:50-80`) collapses into the streaming checkpoint
  * (exactly-once file tracking = `processing/`) plus `cleanSource=archive`
  * (`done/`); its `# TODO move to a failed bucket` (`bom/bom.py:84`)
  * becomes a real quarantine sink.
  *
  * `Trigger.AvailableNow` serves the reference's ad-hoc load model
  * ("loads ad-hoc when we get new Data", README.md:6): each run drains
  * whatever arrived, then stops — restartable any time thanks to the
  * checkpoint. At scale the same query runs continuously with
  * `maxFilesPerTrigger` back-pressure.
  *
  * Failure handling mirrors the reference's SQS redrive policy
  * (`cloudformation/lambda.cfn.yaml:40-45`, `maxReceiveCount: 5`): a
  * failing file is RE-ENQUEUED up to `maxAttempts - 1` times before it
  * is condemned to the quarantine sink, so transient failures (a flaky
  * downstream, a half-written object) self-heal while poison files
  * still land in the DLQ with their full attempt history. The attempt
  * counter rides the re-enqueued file's NAME (`retry<k>__<original>`),
  * exactly as SQS rides the receive count on message metadata — no
  * side ledger, and the streaming checkpoint sees each attempt as a
  * fresh path.
  */
object Ingest {

  /** Default redrive budget — the reference's `maxReceiveCount: 5`. */
  val DefaultMaxAttempts = 5

  private val RetryName = "retry(\\d+)__(.+)".r

  /** attempt number + logical (original) base name from a path. */
  private[streaming] def attemptOf(path: String): (Int, String) = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    base match {
      case RetryName(k, orig) => (k.toInt, orig)
      case _ => (1, base)
    }
  }

  /** Drain `inDir` once: parse every new grid file, write each good one as
    * its own object of the partitioned serving table ([[GridParquet]]); a
    * failing file is re-enqueued for the next drain until it has failed
    * `maxAttempts` times, then appended to the quarantine dir (path + error
    * + attempts as JSON). Returns after the drain.
    *
    * `parse` gets each file's original name and its text as
    * [[GridReader.decodeLossy]] decodes it, and returns the parsed name and
    * grid, so a bad file fails it, eagerly. It is injectable for
    * fault-injection tests; production callers use [[GridReader.parseFile]].
    */
  def runAvailableNow(
      spark: SparkSession,
      inDir: String,
      servingDir: String,
      checkpointDir: String,
      archiveDir: String,
      quarantineDir: String,
      maxAttempts: Int = DefaultMaxAttempts,
      parse: (String, String) => (GridFileMeta, AscGrid) = GridReader.parseFile(_, _)): StreamingQuery = {
    val query = start(spark, inDir, servingDir, checkpointDir, archiveDir,
      quarantineDir, maxAttempts, parse, Trigger.AvailableNow(), None)
    query.awaitTermination()
    query
  }

  /** The ALWAYS-ON posture of the same pipeline: identical source,
    * routing, redrive, and checkpoint as [[runAvailableNow]], but on a
    * `ProcessingTime` trigger with `maxFilesPerTrigger` back-pressure —
    * the long-running equivalent of the reference's push-driven
    * S3-event → Lambda choreography (each micro-batch is one "event
    * delivery"). Returns the RUNNING query; the caller owns its
    * lifecycle (`stop()`), and a restart from the same checkpoint
    * resumes exactly where the stream left off (the soak case in
    * IngestSpec proves no file is lost or duplicated across a
    * stop/restart, and that the result equals one AvailableNow drain).
    *
    * Delivery contract: offsets commit AFTER `foreachBatch` returns, so
    * the sink sees each file at-least-once across a HARD mid-batch
    * kill; between micro-batches (and across graceful stop/restart) the
    * checkpoint makes processing exactly-once. The reference has the
    * identical window (bom/bom.py processes, then deletes the SQS
    * message), and the same remedy: a replayed file replaces its one
    * serving object, as the reference's S3 key does, so a replay never
    * duplicates points. `parse` is as in [[runAvailableNow]].
    */
  def runProcessingTime(
      spark: SparkSession,
      inDir: String,
      servingDir: String,
      checkpointDir: String,
      archiveDir: String,
      quarantineDir: String,
      maxAttempts: Int = DefaultMaxAttempts,
      intervalMs: Long = 500L,
      maxFilesPerTrigger: Int = 4,
      parse: (String, String) => (GridFileMeta, AscGrid) = GridReader.parseFile(_, _)): StreamingQuery = {
    start(spark, inDir, servingDir, checkpointDir, archiveDir, quarantineDir,
      maxAttempts, parse, Trigger.ProcessingTime(intervalMs), Some(maxFilesPerTrigger))
  }

  /** The one source + sink both postures share: whole grid files as bytes
    * (`path`, `content`), archived after commit, every micro-batch routed by
    * [[processBatch]].
    */
  private def start(
      spark: SparkSession,
      inDir: String,
      servingDir: String,
      checkpointDir: String,
      archiveDir: String,
      quarantineDir: String,
      maxAttempts: Int,
      parse: (String, String) => (GridFileMeta, AscGrid),
      trigger: Trigger,
      maxFilesPerTrigger: Option[Int]): StreamingQuery = {
    val reader = spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
    maxFilesPerTrigger.fold(reader)(reader.option("maxFilesPerTrigger", _))
      .load(inDir)
      .select("path", "content")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, checkpointDir, servingDir, quarantineDir, inDir,
          maxAttempts, parse)
      }
      .start()
  }

  /** Per-batch routing in one job, with no cache and no SQL write: each
    * file's bytes are decoded once with [[GridReader.decodeLossy]], as the
    * reference does, parsed, and a good file is written straight from its grid
    * as its one serving object ([[GridParquet.write]]), replacing what a re-run
    * batch or a re-landed file of that name wrote. The job returns one
    * `(path, attempt, err)` per failed file. One with attempts left is
    * re-enqueued EXECUTOR-SIDE, with its original bytes, from a second,
    * unparsed read of the batch (inDir is executor-visible); an exhausted one
    * is appended to the quarantine as JSON.
    */
  private[streaming] def processBatch(
      batch: DataFrame,
      batchId: Long,
      checkpointDir: String,
      servingDir: String,
      quarantineDir: String,
      inDir: String,
      maxAttempts: Int,
      parse: (String, String) => (GridFileMeta, AscGrid)): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the file scan drops zero-byte files, so they join as empty content
    val files = batch.as[(String, Array[Byte])]
      .union(emptyFiles(spark, checkpointDir, batchId).map(_ -> Array.emptyByteArray).toDS())
    val out = new GridParquet(spark, servingDir)
    val failed = files.queryExecution.toRdd.flatMap { f =>
      val path = f.getString(0)
      val (attempt, logical) = attemptOf(path)
      // parse under the ORIGINAL name: filename metadata is attempt-invariant
      Try(parse(logical, GridReader.decodeLossy(f.getBinary(1)))) match {
        case Success((meta, g)) => out.write(meta, g); None
        case Failure(e) => Some((path, attempt, GridReader.errorText(e)))
      }
    }.collect()
    val (retry, exhausted) = failed.toSeq.partition(_._2 < maxAttempts)
    if (retry.nonEmpty)
      files.filter($"path".isin(retry.map(_._1): _*)).foreachPartition {
        (it: Iterator[(String, Array[Byte])]) =>
          it.foreach { case (path, bytes) =>
            val (attempt, logical) = attemptOf(path)
            reenqueue(inDir, s"retry${attempt + 1}__$logical", bytes)
          }
      }
    if (exhausted.nonEmpty)
      exhausted.map { case (path, attempt, err) => (attemptOf(path)._2, err, attempt.toLong) }
        .toDF("file_name", "error", "attempts")
        .write.mode(SaveMode.Append).json(quarantineDir)
  }

  /** The zero-byte files of micro-batch `batchId`: the checkpoint's offset
    * log bounds the batch's range of file-source log ids, and that log
    * names the batch's files.
    */
  private def emptyFiles(spark: SparkSession, checkpointDir: String, batchId: Long): Seq[String] = {
    def end(id: Long): Long = new OffsetSeqLog(spark, s"$checkpointDir/offsets").get(id)
      .flatMap(_.offsets.head).fold(-1L)(o => FileStreamSourceOffset(SerializedOffset(o.json)).logOffset)
    val hadoop = spark.sessionState.newHadoopConf()
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, s"$checkpointDir/sources/0")
      .get(Some(end(batchId - 1) + 1), Some(end(batchId))).toSeq.flatMap(_._2.map(_.sparkPath.toPath))
      .filter(p => p.getFileSystem(hadoop).getFileStatus(p).getLen == 0).map(_.toString)
  }

  /** Atomically materialize a re-enqueued retry file in `inDir`, holding
    * exactly the original file's bytes.
    *
    * The always-on [[runProcessingTime]] source lists `inDir` every
    * ~500 ms; a plain create+write can be LISTED half-written, and the
    * torn prefix either parses as silently truncated data or fails and
    * is re-enqueued with the truncated bytes as the new payload —
    * permanently corrupting the retry chain. So: write to
    * a `.`-prefixed sibling in the same directory (Spark's file sources
    * filter hidden paths, so the temp can never be listed) and rename
    * it in with ATOMIC_MOVE — same-directory rename is atomic on POSIX
    * filesystems and HDFS. An object-store `inDir` (S3A "rename" is
    * copy+delete, NOT atomic) needs a staging-prefix pattern instead:
    * stage the bytes under a hidden prefix and commit by a single
    * PUT-if-absent of the final key.
    */
  private[graft] def reenqueue(
      inDir: String, name: String, bytes: Array[Byte]): Unit = {
    val tmp = Paths.get(inDir,
      s".retrytmp_${java.util.UUID.randomUUID().toString.take(8)}_$name")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(inDir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
