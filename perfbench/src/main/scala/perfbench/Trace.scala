package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wraps each call the benchmark makes into a layer of the engine. The
  * untraced run uses [[Trace.Off]], which adds nothing around the call.
  */
trait Trace {
  def span[T](layer: String, name: String)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def span[T](layer: String, name: String)(body: => T): T = body
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, so
    * the benchmark's own spans line up with Spark's listener timestamps.
    */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** A span the benchmark opened around one call (or pass, wave, ...). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double)

final case class JobRec(id: Int, group: Option[String], start: Double,
    end: Double, stageIds: Seq[Int])

final case class StageRec(id: Int, start: Double, end: Double, tasks: Int,
    runMs: Long, gcMs: Long, inBytes: Long, outBytes: Long,
    shuffleBytes: Long, spillBytes: Long)

/** One Catalyst phase of one `QueryExecution`; `plan` numbers the plans. */
final case class PhaseRec(plan: Int, phase: String, start: Double, end: Double)

/** Records spans around the benchmark's calls, plus Spark's jobs, stages
  * and Catalyst phases through public listeners only. Everything stays in
  * memory until the run ends. `setJobGroup` tags each job with the span
  * that was open when it started; jobs from threads that set their own
  * group (the streaming query's) are placed by time instead, which is
  * exact here because the benchmark is a single closed-loop client.
  */
final class Tracer(spark: SparkSession) extends Trace {
  private val lock = new Object
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val phases = ArrayBuffer.empty[PhaseRec]
  private var plans = 0
  private var open = List.empty[(Int, String)]
  private var nextId = 1
  @volatile private var recording = false

  private val GroupPrefix = "perfbench-"

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = if (recording) {
      val group = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      lock.synchronized {
        jobs(j.jobId) = JobRec(j.jobId, group, j.time.toDouble, Double.NaN, j.stageIds)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(j.jobId).foreach(r => jobs(j.jobId) = r.copy(end = j.time.toDouble))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (recording) {
        val i = s.stageInfo
        val m = i.taskMetrics
        val rec = StageRec(i.stageId,
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble,
          i.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.inputMetrics.bytesRead,
          if (m == null) 0L else m.outputMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled)
        lock.synchronized { stages += rec }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (recording) lock.synchronized {
      plans += 1
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(plans, name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    recording = true
  }

  /** Detaches the listeners after every job seen has ended and the
    * listener buses had time to deliver the last events.
    */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (lock.synchronized(jobs.values.exists(_.end.isNaN)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
    recording = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (id, parent) = lock.synchronized {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name) :: open
      (id, parent)
    }
    sc.setJobGroup(GroupPrefix + id, name)
    val t0 = Trace.now()
    try body
    finally {
      val t1 = Trace.now()
      lock.synchronized {
        open = open.tail
        spans += Span(id, parent, layer, name, t0, t1)
      }
      open.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(GroupPrefix + pid, pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  def snapshot: TraceData = lock.synchronized {
    TraceData(spans.toList, jobs.values.toList, stages.toList, phases.toList)
  }
}

/** A node of the span tree: a benchmark span, a Catalyst phase, a job or
  * a stage, with the layer its self time is charged to.
  */
final case class Node(layer: String, kind: String, name: String,
    start: Double, end: Double, children: Seq[Node]) {
  def dur: Double = end - start

  /** Own duration minus the part of it that child spans cover. */
  def self: Double =
    dur - Stats.coveredWithin(children.map(c => (c.start, c.end)), start, end)

  def all: Iterator[Node] = Iterator.single(this) ++ children.iterator.flatMap(_.all)
}

final case class TraceData(spans: List[Span], jobs: List[JobRec],
    stages: List[StageRec], phases: List[PhaseRec]) {

  private val GroupId = "perfbench-(\\d+)".r

  /** The tree under benchmark span `rootId`: workload → pass or wave →
    * call → {construction | Catalyst phase | job → stage}. Each job hangs
    * under the span named by its job group, or else under the deepest
    * span open at its start; each phase under the deepest span open at
    * its start.
    */
  def tree(rootId: Int): Node = {
    val byParent = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    val root = byId(rootId)
    val under = {
      def walk(s: Span): List[Span] = s :: byParent.getOrElse(s.id, Nil).flatMap(walk)
      walk(root)
    }
    val depth = collection.mutable.Map(rootId -> 0)
    under.tail.foreach(s => depth(s.id) = depth(s.parent) + 1)
    val underIds = under.map(_.id).toSet
    def deepestAt(t: Double): Option[Int] =
      under.filter(s => s.start <= t && t <= s.end).sortBy(s => -depth(s.id)).headOption.map(_.id)

    val stageById = stages.map(s => s.id -> s).toMap
    val jobNodes: Map[Int, Seq[Node]] = jobs.filter(!_.end.isNaN).flatMap { j =>
      val owner = j.group.collect { case GroupId(id) => id.toInt }.filter(underIds)
        .orElse(deepestAt(j.start))
      owner.map { o =>
        val kids = j.stageIds.flatMap(stageById.get).filter(_.end > 0).map(s =>
          Node("exec", "stage", s"stage ${s.id}", math.max(s.start, j.start),
            math.min(s.end, j.end), Nil))
        o -> Node("exec", "job", s"job ${j.id}", j.start, j.end, kids)
      }
    }.groupMap(_._1)(_._2)
    val phaseNodes: Map[Int, Seq[Node]] = phases.flatMap { p =>
      deepestAt(p.start).map(o =>
        o -> Node("catalyst", p.phase, s"plan ${p.plan}", p.start, p.end, Nil))
    }.groupMap(_._1)(_._2)

    def build(s: Span): Node = Node(s.layer, "span", s.name, s.start, s.end,
      byParent.getOrElse(s.id, Nil).map(build) ++
        jobNodes.getOrElse(s.id, Nil) ++ phaseNodes.getOrElse(s.id, Nil))
    build(root)
  }

  /** Stages of the jobs in `n`'s subtree, for the task-level counters. */
  def stagesUnder(n: Node): Seq[StageRec] = {
    val ids = n.all.filter(_.kind == "stage").map(_.name.stripPrefix("stage ").toInt).toSet
    stages.filter(s => ids(s.id))
  }

  def spanId(layer: String, name: String): Option[Int] =
    spans.find(s => s.layer == layer && s.name == name).map(_.id)
}
