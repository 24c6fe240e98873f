package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one span, from Spark's listener events. */
final class Counts {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "actions" -> 0.0, "action_s" -> 0.0, "jobs" -> 0.0, "job_s" -> 0.0,
    "tasks" -> 0.0, "task_s" -> 0.0,
    "shuffle_bytes" -> 0.0, "spill_bytes" -> 0.0, "output_bytes" -> 0.0,
    "single_task_stages" -> 0.0, "unpartitioned_windows" -> 0.0,
    "source_scans" -> 0.0, "write_actions" -> 0.0, "count_actions" -> 0.0,
    "head_actions" -> 0.0)
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
}

/** A timed region of the benchmark: a workload, a pass, an operation or
  * a call into one of the program's layers.
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startNs: Long) {
  var endNs: Long = 0L
  val counts = new Counts
  /** Actions and jobs inside this span split by the call site of the
    * action that ran them, e.g. `count at PrimaryKeyInference.scala:78`.
    */
  val byCaller: mutable.Map[String, Counts] = mutable.Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer. A SparkListener and a QueryExecutionListener count
  * jobs, tasks, task time, shuffle and spill bytes, actions and plan
  * shapes; `span` draws the boundaries. The listener bus is drained at
  * every boundary, so each event is charged to the span that was open
  * when it was posted.
  */
final class Tracer(spark: SparkSession, sourceFile: String)
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _
  private val jobs = mutable.Map.empty[Int, (Span, String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id -> call site of its action; the open root ones. */
  private val execCaller = mutable.Map.empty[Long, String]
  private val execs = mutable.Map.empty[Long, (Span, String, Long)]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = PerfbenchShim.drainListeners(spark.sparkContext)

  def span[T](name: String)(f: => T): T = {
    drain()
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    synchronized { spans += s; stack = s :: stack; current = s }
    try f
    finally {
      drain()
      synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = stack.headOption.orNull
      }
    }
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  private def charge(s: Span, caller: String)(f: Counts => Unit): Unit =
    if (s != null) {
      f(s.counts)
      f(s.byCaller.getOrElseUpdate(caller, new Counts))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execCaller(s.executionId) = s.description
        if (s.rootExecutionId.forall(_ == s.executionId))
          execs(s.executionId) = (current, s.description, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.remove(s.executionId).foreach { case (span, caller, t0) =>
          charge(span, caller) { c =>
            c.add("actions", 1); c.add("action_s", (s.time - t0) / 1e3)
          }
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // jobs of adaptive query stages start on pool threads; the SQL
    // execution id they carry leads back to the action's call site
    val caller = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execCaller.get(id.toLong))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
      .getOrElse("")
    jobs(e.jobId) = (current, caller, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, caller, t0) =>
      charge(s, caller) { c => c.add("jobs", 1); c.add("job_s", (e.time - t0) / 1e3) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (e.stageInfo.numTasks == 1 && e.stageInfo.failureReason.isEmpty)
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach {
          case (s, caller, _) => charge(s, caller)(_.add("single_task_stages", 1))
        }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach {
      case (s, caller, _) => charge(s, caller) { c =>
        c.add("tasks", 1)
        c.add("task_s", m.executorRunTime / 1e3)
        c.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private def isSourceScan(leaf: SparkPlan): Boolean = leaf match {
    case _: RDDScanExec => true
    case p => p.simpleString(400).contains(sourceFile)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val s = current
    if (s != null) {
      val plan = qe.executedPlan
      val leaves = collectWithSubqueries(plan) {
        case p if p.children.isEmpty => p
      }
      s.counts.add("source_scans",
        if (leaves.exists(isSourceScan)) 1 else 0)
      s.counts.add("unpartitioned_windows", collectWithSubqueries(plan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size)
      funcName match {
        case "count" => s.counts.add("count_actions", 1)
        case "head" | "collect" | "take" | "first" | "collectAsList" |
             "toLocalIterator" => s.counts.add("head_actions", 1)
        case "save" | "command" | "insertInto" | "saveAsTable" =>
          s.counts.add("write_actions", 1)
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
