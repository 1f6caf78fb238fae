package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Catalog
import graft.streaming.Ingest

/** `ingest_grids`: the reference's own job. Each pass starts from empty
  * landing, checkpoint, archive, quarantine and serving directories and a
  * new catalog table. Grids land in waves; a wave is one
  * `Ingest.runAvailableNow` drain, one `Catalog.repairTable` and one
  * partition-pruned count, and its latency is the time until the wave's
  * data is queryable. The catalog DDL runs once per pass, before the
  * first wave; set-up is the same DDL on a fresh session.
  *
  * Every file must be archived or, for the wave just drained, still
  * waiting in landing: Spark archives a batch's files when the next batch
  * commits, so the last wave's files stay in landing. The checks
  * accept that and `streaming.unarchived` counts those files, so an
  * engine that archives them all reads lower there instead of failing.
  */
object IngestGrids extends Workload {

  val Db = "perfbench"
  val Waves = 2
  val GridsPerWave = 2

  def setUp(spark: SparkSession, work: Path, rep: Int): Unit = {
    val serving = work.resolve(s"ingest/setup$rep")
    Files.createDirectories(serving)
    Catalog.createDatabase(spark, Db)
    Catalog.createRadiationTable(spark, Db, s"radiation_s$rep", serving.toString)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val waves = GridGen.ingestWaves(ctx.seed, Waves, GridsPerWave)
    val files = waves.map(_.map(g => g -> g.text))
    val all = waves.flatten
    val pointsPerPass = all.map(_.points.toLong).sum
    val counters = collection.mutable.Map.empty[Int, Map[String, Double]]

    def pass(i: Int): Pass = {
      val root = ctx.dir(s"ingest/pass$i")
      val Seq(landing, serving, checkpoint, archive, quarantine) =
        Seq("landing", "serving", "checkpoint", "archive", "quarantine").map { d =>
          val p = root.resolve(d)
          Files.createDirectories(p)
          p
        }
      val table = s"radiation_p$i"
      val ops = collection.mutable.ArrayBuffer.empty[Op]
      var retried = 0
      var ddl = 0.0
      val tr = ctx.trace
      tr.span("bench", s"pass $i") {
        ddl = ctx.op(tr.span("catalog", "ddl") {
          Catalog.createDatabase(spark, Db)
          Catalog.createRadiationTable(spark, Db, table, serving.toString)
        })._2.wall
        files.zipWithIndex.foreach { case (wave, w) =>
          wave.foreach { case (g, bytes) => land(landing, g.name, bytes) }
          val parts = wave.map(_._1.partition).distinct
          val pruned = parts.map { case (y, m, d, h) =>
            s"(year=$y AND month=$m AND day=$d AND hour=$h)" }.mkString(" OR ")
          var got: (Long, Long) = null
          ops += ctx.op(tr.span("bench", s"wave ${w + 1}") {
            tr.span("streaming", "drain") {
              val q = Ingest.runAvailableNow(spark, landing.toString, serving.toString,
                checkpoint.toString, archive.toString, quarantine.toString)
              q.exception.foreach(e => throw e)
            }
            tr.span("catalog", s"msck ${w + 1}")(Catalog.repairTable(spark, Db, table))
            val r = tr.span("exec", "count")(spark.sql(
              s"SELECT count(*), coalesce(sum(radiation), 0) FROM $Db.$table " +
                s"WHERE $pruned").head())
            got = (r.getLong(0), r.getLong(1))
          })._2
          retried += visibleFiles(landing).count(_.startsWith("retry"))
          val landed = files.take(w + 1).flatten.map(_._1).filter(g => parts.contains(g.partition))
          ctx.attempt(s"ingest pass $i wave ${w + 1}") {
            val want = (landed.map(_.points.toLong).sum, landed.map(_.radiationSum).sum)
            val problems = Seq(
              s"count $got != $want" -> (got != want),
              "earlier waves not archived" ->
                !allArchived(archive, files.take(w).flatten.map(_._1.name)),
              s"landing holds ${visibleFiles(landing).sorted}" ->
                !visibleFiles(landing).forall(wave.map(_._1.name).contains),
              "a file of this wave is neither archived nor in landing" ->
                !wave.map(_._1.name).forall(n =>
                  visibleFiles(landing).contains(n) || archivedNames(archive)(n)),
              "quarantine not empty" -> (quarantineRecords(quarantine) != 0))
              .collect { case (msg, true) => msg }
            problems.foreach(m => System.err.println(s"[perfbench] pass $i wave ${w + 1}: $m"))
            problems.isEmpty
          }
        }
        // the layer counters of the warm traced passes
        if (tr != Trace.Off && i > 0) counters(i) = Map(
          "streaming.files" -> archivedNames(archive).size.toDouble,
          "streaming.unarchived" -> all.map(_.name).filterNot(archivedNames(archive)).size.toDouble,
          "streaming.retried" -> retried.toDouble,
          "streaming.quarantined" -> quarantineRecords(quarantine).toDouble,
          "catalog.partitions" -> all.map(_.partition).distinct.size.toDouble) ++
          Metrics.gridProbe(ctx, files.flatten.map { case (g, b) => (g.name, b) })
      }
      ctx.attempt(s"ingest pass $i totals") {
        val r = spark.sql(s"SELECT count(*), sum(radiation) FROM $Db.$table").head()
        val parts = spark.sql(s"SHOW PARTITIONS $Db.$table").collect().map(_.getString(0)).toSet
        r.getLong(0) == pointsPerPass && r.getLong(1) == all.map(_.radiationSum).sum &&
          parts == all.map { g =>
            s"year=${g.year}/month=${g.month}/day=${g.day}/hour=${g.hour}" }.toSet
      }
      Pass(i, ddl + ops.map(_.wall).sum, ops.toSeq)
    }

    val start = Trace.now()
    val cold = ctx.traced(pass(0))
    val gc0 = ctx.gcSeconds
    val warm = ctx.warmLoop(start, 3)(pass)
    val plain = warm.filterNot(_.traced)
    val layers = if (ctx.tracer.isEmpty) Map.empty[String, Double] else {
      val traced = warm.filter(_.traced)
      Metrics.layers(ctx, warm, (ctx.gcSeconds - gc0) / warm.size) ++
        counters.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
          .map { case (k, v) => k -> v / traced.size } +
        ("queries.cold_extra_s" -> (cold.wall - Stats.median(traced.map(_.wall))))
    }
    val ingestS = Stats.passTime(plain.map(_.latencies), Stats.median)
    val ops = plain.flatMap(_.latencies)
    Outcome(cold, plain, Seq(
      ("ingest_s", ingestS, "s"),
      ("ingest_mpts_per_s", pointsPerPass / ingestS / 1e6, "Mpts/s"),
      ("queryable_p50_s", Stats.median(ops), "s"),
      ("queryable_n", ops.size.toDouble, "count")), layers)
  }

  /** Lands one grid the way an uploader should: write a hidden file, then
    * rename it into place, so the source never lists a partial file.
    */
  private def land(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def visibleFiles(dir: Path): Seq[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq

  private def archivedNames(archive: Path): Set[String] =
    Files.walk(archive).iterator.asScala.filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).toSet

  /** The source archives completed files on a background thread; allow
    * it a bounded time to finish.
    */
  private def allArchived(archive: Path, names: Seq[String]): Boolean = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!names.forall(archivedNames(archive)) && System.nanoTime() < deadline)
      Thread.sleep(10)
    names.forall(archivedNames(archive))
  }

  private def quarantineRecords(dir: Path): Int =
    Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
      .map(p => Files.readAllLines(p).size).sum
}
