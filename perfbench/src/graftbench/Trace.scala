package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: its wall interval and the Spark work that
  * ran inside it. Every counter is INCLUSIVE of child spans; self values
  * are derived afterwards as inclusive minus the children's inclusive
  * values (perfbench/ledger.py), one rule for every counter. */
final class Span(val id: Int, val name: String, val parent: Int) {
  var wallNs = 0L
  var compileNs = 0L
  var gcMs = 0L
  val sqlExecs, jobs, stages, tasks, runMs, shuffleWriteB, spillB, planMs =
    new AtomicLong

  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent,
    "wall_s" -> wallNs / 1e9, "codegen_s" -> compileNs / 1e9, "gc_s" -> gcMs / 1e3,
    "sql_execs" -> sqlExecs.get, "jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "exec_run_s" -> runMs.get / 1e3,
    "shuffle_write_mb" -> shuffleWriteB.get / 1e6, "spill_mb" -> spillB.get / 1e6,
    "plan_s" -> planMs.get / 1e3)
}

/** Spans around the benchmark's calls into graft, plus the Spark listeners
  * that attribute scheduler work to the open spans. The listener bus is
  * drained at every span boundary, so an event is always delivered while
  * the span that caused it is still open. With tracing off, only the
  * SQL-execution count runs (one atomic increment per execution), which
  * the run uses to check that every op does the same work. */
object Trace {
  @volatile private var open: List[Span] = Nil
  @volatile var enabled = false
  private val finished = ArrayBuffer[Span]()
  private var nextId = 0
  private var spark: SparkSession = _

  /** SQL executions since the JVM started; always counted. */
  val sqlExecs = new AtomicLong

  /** `traced`: whether this run will open spans at all; an untraced run
    * leaves the query-execution listener unregistered. */
  def install(s: SparkSession, traced: Boolean): Unit = {
    spark = s
    s.sparkContext.addSparkListener(SchedulerListener)
    if (traced) s.listenerManager.register(PlanListener)
  }

  def drain(): Unit = BusDrain(spark.sparkContext)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val sp = new Span(nextId, name, open.headOption.map(_.id).getOrElse(-1))
      nextId += 1
      val c0 = CodeGenerator.compileTime
      val g0 = gcMs()
      val t0 = System.nanoTime()
      open = sp :: open
      try body
      finally {
        drain()
        sp.wallNs = System.nanoTime() - t0
        sp.compileNs = CodeGenerator.compileTime - c0
        sp.gcMs = gcMs() - g0
        open = open.tail
        finished += sp
      }
    }

  /** The spans closed since the last call, in closing order. */
  def take(): Seq[Map[String, Any]] = {
    val out = finished.map(_.toMap).toSeq
    finished.clear()
    nextId = 0
    out
  }

  private object SchedulerListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      open.foreach(_.jobs.incrementAndGet())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      open.foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ss = open
      if (ss.nonEmpty) {
        val m = e.taskMetrics
        ss.foreach { s =>
          s.tasks.incrementAndGet()
          if (m != null) {
            s.runMs.addAndGet(m.executorRunTime)
            s.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            s.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart =>
        sqlExecs.incrementAndGet()
        open.foreach(_.sqlExecs.incrementAndGet())
      case _ =>
    }
  }

  /** Catalyst analysis + optimization + planning time of each execution
    * (QueryPlanningTracker phases). */
  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ss = open
      if (ss.nonEmpty) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        ss.foreach(_.planMs.addAndGet(ms))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
