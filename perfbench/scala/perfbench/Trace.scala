package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters, accumulated by [[EngineListener]]. A span reads
  * them at its start and end; the difference is what ran inside it.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, outputBytes - o.outputBytes)
  def fields: Seq[(String, Long)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** Counts jobs, stages and task metrics, and keeps each job's wall
  * interval so a span's driver gap (wall not covered by any job) can be
  * computed.
  */
final class EngineListener extends SparkListener {
  private var c = Counters()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  def snapshot: Counters = synchronized(c)
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobSpans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) c = c.copy(tasks = c.tasks + 1)
    else c = c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
  }
}

/** One executed plan: per physical operator, its name and non-zero SQL
  * metrics (the per-operator executed-plan record).
  */
final case class PlanRecord(action: String, ops: Seq[(String, Seq[(String, Long)])])

final class PlanListener extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer[PlanRecord]()
  def size: Int = synchronized(recs.size)
  def slice(from: Int): Seq[PlanRecord] = synchronized(recs.drop(from).toList)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ops = nodes(qe.executedPlan).map { n =>
      n.nodeName -> n.metrics.toSeq.map { case (k, m) => k -> m.value }
        .filter(_._2 != 0L).sortBy(_._1)
    }
    synchronized { recs += PlanRecord(funcName, ops) }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      endMs: Long, wallS: Double, counters: Counters,
                      jobUnionS: Double, plans: Seq[PlanRecord])

/** In-memory span recorder. `span` times a layer call, snapshots the
  * listener counters around it, and attributes the job intervals and
  * executed plans that fall inside it. Disabled, it only runs the body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val engine = new EngineListener
  private val plans = new PlanListener
  if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
  }
  /** Executed plans are attached to spans only while this is set. */
  var keepPlans = true
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def spans: Seq[Span] = done.toList

  private def drain(): Unit =
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      drain()
      val c0 = engine.snapshot
      val p0 = plans.size
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      stack.push(id)
      val out = try body finally stack.pop()
      val wall = (System.nanoTime() - n0) / 1e9
      val s1 = System.currentTimeMillis()
      drain()
      val inside = engine.jobIntervals
        .map { case (a, b) => (math.max(a, s0), math.min(b, s1)) }
        .filter { case (a, b) => b > a }
      done += Span(id, parent, name, s0, s1, wall, engine.snapshot - c0,
        Intervals.unionMs(inside) / 1e3, if (keepPlans) plans.slice(p0) else Nil)
      out
    }
}

object Intervals {
  /** Total length of the union of [a, b) intervals, in the input unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
