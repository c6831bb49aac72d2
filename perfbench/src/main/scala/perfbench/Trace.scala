package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The benchmark wraps every call into a layer in `span`. */
trait Trace {
  def span[T](name: String)(body: => T): T
}

/** The timed run: spans cost nothing and nothing is listening. */
object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
}

/** Spark work that ran inside a span and none of its child spans. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var singleTaskStages = 0L
  var maxTaskSkew = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var feedBytesRead = 0L
  var gcMs = 0L
  var jobMs = 0L
  var planMs = 0.0
  var queries = 0L
  var feedScans = 0L
  var codegenCompiles = 0L
  var codegenNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; singleTaskStages += o.singleTaskStages
    maxTaskSkew = math.max(maxTaskSkew, o.maxTaskSkew)
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    feedBytesRead += o.feedBytesRead; gcMs += o.gcMs; jobMs += o.jobMs
    planMs += o.planMs; queries += o.queries; feedScans += o.feedScans
    codegenCompiles += o.codegenCompiles; codegenNs += o.codegenNs
    jobIntervals ++= o.jobIntervals
  }
}

/** The traced run. A `SparkListener` and a `QueryExecutionListener`
  * record jobs, stages, tasks and query plans; each job carries the id of
  * the innermost open span as a local property, so its work is charged to
  * that span. Spans stay in memory until [[collect]].
  *
  * `feedPath` marks which file scans count as scans of the feed. */
final class Tracer(spark: SparkSession, feedPath: String) extends Trace {
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val ExecProp = "spark.sql.execution.id"
  // epoch nanoseconds from the monotonic clock
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = System.nanoTime() + epochOffsetNs

  var op: Int = -1
  private var nextId = 0
  private var open: List[Int] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val codegen = mutable.HashMap.empty[Int, (Long, Long)]
  // span bounds on the millisecond clock Spark stamps its events with
  private val spanMs = mutable.HashMap.empty[Int, (Long, Long)]

  // listener state, written on the listener-bus thread
  import Tracer._
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val queryEnd = new java.util.IdentityHashMap[QueryExecution, QueryEnd]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty(ExecProp))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(span, exec, e.time)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      rec(e.stageInfo.stageId).numTasks = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val r = rec(e.stageId)
      r.durations += e.taskInfo.duration
      if (!e.taskInfo.successful) r.failed += 1
      Option(e.taskMetrics).foreach { m =>
        r.shuffle += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.gc += m.jvmGCTime
      }
    }
    // the end event ties a query execution to its execution id
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SparkInternals.queryExecution(end).foreach { qe =>
          Tracer.this.synchronized { queryEnd.put(qe, QueryEnd(end.executionId, end.time)) }
        }
      case _ =>
    }
  }

  private def rec(stage: Int): StageRec =
    stages.getOrElseUpdate(stage, StageRec(stageSpan.getOrElse(stage, -1)))

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum.toDouble
      // file bytes the scan opened: task input metrics miss parquet's
      // vectored reads, which run on other threads
      val scans = scansOf(qe.executedPlan).filter(isFeed)
      val bytes = scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum
      Tracer.this.synchronized { queries += Query(qe, planMs, scans.size, bytes) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scansOf)
  }

  private def isFeed(s: FileSourceScanExec): Boolean =
    s.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == feedPath)

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def stop(): Unit = {
    SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setLocalProperty(SpanProp, id.toString)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis()
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      spanMs(id) = (ms0, System.currentTimeMillis())
      codegen(id) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        CodeGenerator.compileTime - compileNs0)
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, op, t0, t1)
    }
  }

  /** Every span so far with the work charged to it alone (its self
    * work); codegen counts are charged the same way. Waits for the
    * listener bus first. */
  def collect(): Seq[(Span, Work)] = {
    SparkInternals.drainListenerBus(sc)
    synchronized {
      val self = spans.map(s => s.id -> new Work).toMap
      def at(span: Int): Option[Work] = self.get(span)
      val execSpan = mutable.HashMap.empty[Long, Int]
      jobs.values.foreach { j =>
        if (j.exec >= 0 && j.span >= 0) execSpan.getOrElseUpdate(j.exec, j.span)
        at(j.span).foreach { w =>
          w.jobs += 1
          if (j.end >= j.start) {
            w.jobMs += j.end - j.start
            w.jobIntervals += ((j.start * 1000000L, j.end * 1000000L))
          }
        }
      }
      stages.values.foreach { r =>
        at(r.span).foreach { w =>
          w.stages += 1
          val n = math.max(r.numTasks, r.durations.size)
          w.tasks += n
          if (n == 1) w.singleTaskStages += 1
          if (r.durations.size > 1) {
            val med = math.max(Stats.median(r.durations.map(_.toDouble).toSeq), 1.0)
            w.maxTaskSkew = math.max(w.maxTaskSkew, r.durations.max / med)
          }
          w.tasksFailed += r.failed
          w.shuffleBytes += r.shuffle
          w.spillBytes += r.spill
          w.gcMs += r.gc
        }
      }
      // a query belongs to the span its jobs ran in; one that ran no job
      // to the innermost span open when it finished
      def innermost(timeMs: Long): Option[Int] =
        spans.filter { s => val (a, b) = spanMs(s.id); a <= timeMs && timeMs <= b }
          .maxByOption(_.startNs).map(_.id)
      queries.foreach { q =>
        Option(queryEnd.get(q.qe))
          .flatMap(e => execSpan.get(e.exec).orElse(innermost(e.timeMs)))
          .flatMap(at).foreach { w =>
          w.queries += 1
          w.planMs += q.planMs
          w.feedScans += q.feedScans
          w.feedBytesRead += q.feedBytes
        }
      }
      // codegen deltas are inclusive; subtract the children's
      val childCodegen = spans.groupBy(_.parent).map { case (p, cs) =>
        p -> cs.map(c => codegen(c.id)).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      }
      spans.foreach { s =>
        val (n, ns) = codegen(s.id)
        val (cn, cns) = childCodegen.getOrElse(s.id, (0L, 0L))
        self(s.id).codegenCompiles = n - cn
        self(s.id).codegenNs = ns - cns
      }
      spans.toSeq.map(s => s -> self(s.id))
    }
  }
}

object Tracer {
  private final case class Job(span: Int, exec: Long, start: Long, var end: Long = -1L)
  private final case class QueryEnd(exec: Long, timeMs: Long)
  private final case class StageRec(span: Int, var numTasks: Int = 0,
    durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
    var failed: Long = 0, var shuffle: Long = 0, var spill: Long = 0,
    var gc: Long = 0)
  private final case class Query(qe: QueryExecution, planMs: Double, feedScans: Int, feedBytes: Long)
}
