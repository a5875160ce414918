package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds on the
  * tracer's clock; `counters` hold the work Spark reported for a job span.
  */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val start: Double) {
  var end: Double = Double.NaN
  /** For a job span: the SQL execution (one Dataset action) it belongs to. */
  var sqlExecution: Option[String] = None
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def dur: Double = end - start
}

/** In-memory span recorder plus the two Spark listeners that attach Spark
  * jobs and stages to the harness span that launched them.
  *
  * The harness sets the local property [[Tracer.SpanKey]] to the id of the
  * innermost open span before every call into graft, so a job finds its
  * parent from its own properties: graft itself carries no tracing.
  * Listeners are registered only while `tracing` is on; the harness spans
  * (run, workload, pass, op, build, action, release) are always recorded
  * because they cost two clock reads each.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  private var tracing = false

  private val stageJob = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val submitted = mutable.Set.empty[Int]

  def isTracing: Boolean = tracing

  /** The innermost open span. */
  def current: Span = stack.head

  private def add(parent: Int, kind: String, name: String, start: Double): Span =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, start)
      spans += s
      s
    }

  /** Run `f` inside a new child of the innermost open span. */
  def within[T](kind: String, name: String)(f: => T): T = {
    val s = add(stack.headOption.map(_.id).getOrElse(-1), kind, name, now)
    stack = s :: stack
    if (tracing) sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.end = now
      stack = stack.tail
      if (tracing) sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (tracing) org.apache.spark.perfbench.Bus.drain(sc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
        .orElse(stack.headOption.map(_.id)).getOrElse(-1)
      // the job's call site, as Spark names its result stage
      val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      val j = add(parent, "job", site, e.time.toDouble)
      j.sqlExecution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobSpan(e.jobId) = j
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        val stages = jobStages.remove(e.jobId).getOrElse(Nil)
        j.counters("stages_skipped") += stages.count(s => !submitted.contains(s))
        j.counters("jobs") += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { j =>
        j.counters("stages") += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          add(j.id, "stage", s"stage ${info.stageId}.${info.attemptNumber()} ${info.name}",
            s.toDouble).end = c.toDouble
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val c = j.counters
        c("tasks") += 1
        if (e.reason != Success) c("tasks_failed") += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          c("run_s") += m.executorRunTime / 1e3
          c("cpu_s") += m.executorCpuTime / 1e9
          c("gc_s") += m.jvmGCTime / 1e3
          c("delay_s") += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime) / 1e3
          c("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
          c("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
          c("fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
          c("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
          c("input_b") += m.inputMetrics.bytesRead
          c("output_b") += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Planning-phase times of every executed query, attributed to the
    * innermost span open when the event is handled (ops drain the bus
    * before they close, so this is the op that ran the query).
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        stack.headOption.foreach { s =>
          val phases = qe.tracker.phases
          for ((phase, key) <- PlanningPhases; p <- phases.get(phase))
            s.counters(key) += p.durationMs / 1e3
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      sc.setLocalProperty(SpanKey, null)
    }
    tracing = on
  }

  /** Children of every span, indexed once the run is over. */
  def childIndex: Map[Int, Seq[Span]] = synchronized(spans.toSeq.groupBy(_.parent))
}

object Tracer {
  val SpanKey = "perfbench.span"

  val PlanningPhases: Seq[(String, String)] = Seq(
    QueryPlanningTracker.ANALYSIS -> "analyze_s",
    QueryPlanningTracker.OPTIMIZATION -> "optimize_s",
    QueryPlanningTracker.PLANNING -> "plan_s")

  /** Length of the union of `parts`' intervals, clipped to `outer`. */
  def covered(outer: Span, parts: Seq[Span]): Double = {
    val iv = parts.filter(!_.end.isNaN)
      .map(p => (math.max(p.start, outer.start), math.min(p.end, outer.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
