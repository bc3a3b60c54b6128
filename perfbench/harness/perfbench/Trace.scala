package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds, so harness spans and
  * the Spark job spans reported by the listener share one clock. `parent` is
  * 0 for a root (one root per op); `op` is the op id the span belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder around the benchmark's calls into each engine
  * layer. When disabled, `span` is a plain call of its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var currentOp = 0

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Root span of op `id`; spans opened inside it carry the id. */
  def op[T](id: Int, name: String)(body: => T): T = {
    if (!enabled) body
    else {
      currentOp = id
      try span("op", name)(body) finally currentOp = 0
    }
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val open = Span(id, parent, currentOp, layer, name, nowUs, 0L)
    stack = open :: stack
    try body
    finally {
      stack = stack.tail
      spans += open.copy(endUs = nowUs)
    }
  }

  def recorded: Seq[Span] = spans.toSeq
}

/** Per-op Spark counters, keyed by the `perfbench.op` local property the
  * harness sets on the calling thread before each traced op.
  */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var result = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
}

final case class JobSpan(op: Int, jobId: Int, startUs: Long, endUs: Long)

final case class PlanPhases(startUs: Long, analysisMs: Long, optimizerMs: Long, planningMs: Long)

/** SparkListener + QueryExecutionListener that keep what the traced run
  * reports per layer. Callbacks run on Spark's listener bus thread, so the
  * maps are concurrent; the harness reads them after `SparkContext.stop`,
  * which drains the bus.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val Prop = "perfbench.op"
  val byOp = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, (Int, Long)]()
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[JobSpan]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanPhases]()

  private def counters(op: Int): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
    op.foreach { o =>
      counters(o).synchronized { counters(o).jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, o))
      jobOp.put(e.jobId, (o, e.time * 1000L))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { case (o, startUs) =>
      jobSpans.add(JobSpan(o, e.jobId, startUs, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { o =>
      val c = counters(o)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { o =>
      val c = counters(o)
      val m = e.taskMetrics
      val i = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
          c.result += m.resultSize
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          if (i != null && i.finishTime > 0) {
            val overhead = m.executorDeserializeTime + m.resultSerializationTime
            val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
            c.schedDelayMs += math.max(0L,
              (i.finishTime - i.launchTime) - m.executorRunTime - overhead - gettingResult)
          }
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    plans.add(PlanPhases(start * 1000L, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def opCounters: Map[Int, OpCounters] = byOp.asScala.toMap
}

/** Self time per layer: a span's duration minus the union of the intervals
  * its children (harness spans and Spark job spans) cover inside it.
  */
object SelfTime {
  def byLayer(spans: Seq[Span], jobs: Seq[JobSpan]): Map[String, Long] = {
    val byOp = spans.groupBy(_.op)
    val jobSpans = jobs.groupBy(_.op).map { case (op, js) =>
      val opSpans = byOp.getOrElse(op, Nil)
      op -> js.map { j =>
        // a job's parent is the innermost harness span of its op that
        // contains the job's start
        val parent = opSpans.filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
          .sortBy(_.durUs).headOption.map(_.id).getOrElse(0)
        Span(-j.jobId - 1, parent, op, "spark", s"job ${j.jobId}", j.startUs, j.endUs)
      }
    }
    val all = spans ++ jobSpans.values.flatten
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = -1L
        var curB = -1L
        kids.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        math.max(0L, s.durUs - covered)
      }.sum
    }
  }
}
