package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, made from the benchmark's own code. Times are
  * wall-clock milliseconds so they compare with Spark listener events;
  * `op` is the measured operation (epoch, query) the span belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Double, var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** Span stack of the single client thread. While a span is open, its id
  * and op id are Spark local properties of that thread, so every job it
  * submits carries them (and threads it starts, such as a streaming
  * query's, inherit them). Disabled, `apply` only runs the body.
  */
final class Spans(sc: Option[SparkContext], var enabled: Boolean) {
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Wall-clock ms with nanoTime resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def tag(span: Long, op: Long): Unit = sc.foreach { c =>
    c.setLocalProperty(Spans.SpanProp, if (span == 0) null else span.toString)
    c.setLocalProperty(Spans.OpProp, if (op == 0) null else op.toString)
  }

  def apply[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), op, nowMs())
      nextId += 1
      all += s
      stack = s :: stack
      tag(s.id, op)
      try body
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => tag(p.id, p.op)
          case None => tag(0, 0)
        }
      }
    }

  /** `root` and every span below it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
}

object Spans {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
}

final case class JobRec(id: Int, span: Long, op: Long, execId: Long, startMs: Long,
                        var endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, runMs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, recordsWritten: Long)
final case class ExecRec(id: Long, startMs: Long, var endMs: Long, callSite: String,
                         var queryId: Long = -1L)
final case class PlanRec(queryId: Long, planMs: Long, sourceRows: Long)
final case class BatchRec(endMs: Long, ms: Long)

/** The listeners a traced run registers once per session: jobs and
  * stages (SparkListener), SQL executions (their call sites arrive on
  * the same bus), planning phases and scan row counts
  * (QueryExecutionListener, joined to executions by query id), and
  * micro-batches (StreamingQueryListener).
  */
final class Collector(sourceMarker: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val openExecs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()

  private def longProp(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(q => Option(q.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = JobRec(e.jobId, longProp(e.properties, Spans.SpanProp),
      longProp(e.properties, Spans.OpProp),
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      e.time, -1L, e.stageIds)
    openJobs.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.add(StageRec(e.stageInfo.stageId, m.executorRunTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.recordsWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val r = ExecRec(s.executionId, s.time, -1L, s.details)
      openExecs.put(s.executionId, r)
      execs.add(r)
    case s: SparkListenerSQLExecutionEnd =>
      Option(openExecs.remove(s.executionId)).foreach { r =>
        r.endMs = s.time
        r.queryId = org.apache.spark.sql.perfbench.ExecutionEnd.queryId(s)
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val scanned = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(sourceMarker)) =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    plans.add(PlanRec(qe.id, planMs, scanned))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(p.durationMs.get("triggerExecution")).foreach { ms =>
        if (p.numInputRows > 0)
          batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli + ms, ms.longValue))
      }
    }
  }
}

object Collector {
  /** Registers `c` on the session unless a collector is already there —
    * a second registration would count every job twice.
    */
  def install(spark: SparkSession, c: Collector): Collector = synchronized {
    installed.get(spark.sparkContext) match {
      case Some(existing) => existing
      case None =>
        spark.sparkContext.addSparkListener(c)
        spark.listenerManager.register(c)
        spark.streams.addListener(c.streams)
        installed += spark.sparkContext -> c
        c
    }
  }

  private val installed = scala.collection.mutable.Map.empty[SparkContext, Collector]
}

/** Maps a SQL execution's call site to the program layer that issued it:
  * the outermost listed frame wins, so a helper a layer calls internally
  * is charged to the layer the caller entered.
  */
object CallSites {
  val layers: Seq[(String, String)] = Seq(
    "graft.operators.Merge$.appendDelta" -> "operators.merge.delta_append",
    "graft.operators.Merge$.upsertPartitionedByHeight" -> "operators.merge.partitioned_upsert",
    "graft.operators.Merge$.finalizeDeltas" -> "operators.merge.fold",
    "graft.operators.Merge$.upsertParquet" -> "operators.merge.snapshot_upsert",
    "graft.streaming.Incremental$Driver.currentHeight" -> "streaming.poll")

  def layerOf(callSite: String): Option[String] =
    callSite.split('\n').reverseIterator.flatMap { frame =>
      layers.collectFirst { case (prefix, layer) if frame.trim.startsWith(prefix) => layer }
    }.nextOption()
}

/** Joins collector records onto spans. Jobs carry their span id; a SQL
  * execution is charged to the span of its first job, or — when it ran
  * no job — to the innermost span open when it started.
  */
final class Attribution(spans: Seq[Span], jobs: Seq[JobRec], execs: Seq[ExecRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val jobsByExec = jobs.groupBy(_.execId)

  def spanOfExec(e: ExecRec): Long =
    jobsByExec.get(e.id).flatMap(_.find(_.span != 0)).map(_.span).getOrElse {
      spans.filter(s => s.startMs <= e.startMs && e.startMs < s.endMs)
        .sortBy(-_.startMs).headOption.map(_.id).getOrElse(0L)
    }

  /** Whether span `id` is `root` or lies below it. */
  def under(id: Long, root: Long): Boolean = {
    var cur = id
    while (cur != 0 && cur != root) cur = byId.get(cur).map(_.parent).getOrElse(0L)
    cur == root && root != 0
  }

  def jobsUnder(root: Span): Seq[JobRec] = jobs.filter(j => under(j.span, root.id))

  def execsUnder(root: Span): Seq[ExecRec] =
    execs.filter(e => e.endMs >= 0 && under(spanOfExec(e), root.id))
}
