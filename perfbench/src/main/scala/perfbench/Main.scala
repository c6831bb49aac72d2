package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver. One JVM runs one workload as a closed loop: one
  * client, one operation at a time, each operation's outputs checked
  * before the next starts.
  *
  * {{{
  * Main --workload feed_small|feed_large --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints a context line and then, as the last line of stdout, the
  * result: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. */
object Main {

  /** Feed rows, and the untimed operations run before timing starts:
    * in a fresh JVM operation time keeps falling for about 25 seconds of
    * operations while the JIT compiles. */
  final case class Workload(rows: Long, warmupOps: Int)

  /** `feed_small` is the size of the reference's own generated files,
    * so fixed per-call cost (plan building, planning, codegen, job
    * scheduling) dominates; in `feed_large` per-row rule evaluation,
    * feed scans and writes take most of the time. */
  val workloads: Map[String, Workload] = Map(
    "feed_small" -> Workload(5000L, warmupOps = 3),
    "feed_large" -> Workload(40000L, warmupOps = 2))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"))
  }

  private def load1m: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The machine's busy and stolen CPU seconds so far, from /proc/stat
    * (Linux). Stolen time is time the host ran other guests while this
    * one had work; without /proc/stat both read 0. */
  private final case class CpuTimes(busy: Double, stolen: Double) {
    /** Share of the CPU time wanted since `earlier` that the host withheld. */
    def stolenShareSince(earlier: CpuTimes): Double = {
      val stolen = this.stolen - earlier.stolen
      val wanted = stolen + busy - earlier.busy
      if (wanted > 0) stolen / wanted else 0.0
    }
  }

  private def cpuTimes(): CpuTimes =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble / 100)
        finally src.close()
      // user nice system idle iowait irq softirq steal
      CpuTimes(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => CpuTimes(0, 0) }

  /** A wall time with the host's contention taken out: a host that
    * withholds share `s` of the CPU time the work wants stretches the work
    * by 1 / (1 - s). On a quiet host this is the wall time itself. */
  private def uncontended(wallS: Double, from: CpuTimes, to: CpuTimes): Double =
    wallS * (1 - to.stolenShareSince(from))

  /** Peak driver heap in use after a garbage collection while it
    * listens. A full collection after each operation clears what the
    * operation left in the old generation, so each peak reflects what one
    * operation kept live, not how full the young generation happened to be. */
  private final class HeapPeak {
    @volatile var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: NotificationEmitter => b }
    def start(): Unit = beans.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Long = {
      beans.foreach(_.removeNotificationListener(listener))
      peak
    }
  }

  def main(argv: Array[String]): Unit = {
    // Spark's threads would keep a failed JVM alive; exit explicitly
    val code = try { runWorkload(parse(argv)); 0 } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def runWorkload(a: Args): Unit = {
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    def sinceJvmStart: Double = (System.currentTimeMillis() * 1000000L - jvmStartNs) / 1e9
    val loadStart = load1m
    val cpu0 = cpuTimes()
    var loadMax = loadStart
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("WARN")

    val work = new File(a.work).getAbsoluteFile
    val feedPath = new File(work, "feed.parquet").getPath
    val run = new FeedRun(spark, feedPath, new File(work, "out").getPath,
      new File(work, "db.parquet").getPath)
    val workload = workloads(a.workload)
    val plan = Feed.plan(workload.rows, a.seed)

    def log(msg: String): Unit = System.err.println(f"perfbench: $sinceJvmStart%.2f s: $msg")
    log("session ready")
    val g0 = System.nanoTime()
    Feed.write(spark, plan, feedPath)
    val genS = (System.nanoTime() - g0) / 1e9
    log(s"feed built in $genS s")
    val feedBytes = FeedRun.dataBytes(feedPath)
    val expected = Feed.expected(spark, plan, feedPath)
    run.writeDb(None)
    // the first warm-up operation writes the error file the "DB" copy is
    // made from, so its reconciliation is not checked
    val first = run.run(NoTrace)
    run.writeDb(Some(expected))
    val problems = run.check(first, expected).filterNot(_.startsWith("diff"))
    require(problems.isEmpty, s"warm-up operation is wrong: ${problems.mkString("; ")}")
    for (_ <- 2 to workload.warmupOps) run.run(NoTrace)
    log("warmed up")
    val setupWallS = sinceJvmStart
    val cpuSetup = cpuTimes()
    val setupS = uncontended(setupWallS, cpu0, cpuSetup)

    System.gc()
    val heap = new HeapPeak
    heap.start()
    val tracer = if (a.trace) Some(new Tracer(spark, feedPath)) else None
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val untracedWallS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val bytesWritten = mutable.ArrayBuffer.empty[Long]
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    val minOps = if (a.trace) 2 else 1
    while (attempted < minOps || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // a traced run alternates untraced and traced operations; the
      // difference of their medians is the tracing overhead
      val traced = tracer.filter(_ => attempted % 2 == 1)
      val ok = try {
        traced.foreach { t => t.op = attempted; t.start() }
        val c0 = cpuTimes()
        val s0 = System.nanoTime()
        val out = try traced.fold(run.run(NoTrace))(t => t.span("op")(run.run(t)))
          finally traced.foreach(_.stop())
        val wall = (System.nanoTime() - s0) / 1e9
        val s = uncontended(wall, c0, cpuTimes())
        (if (traced.isDefined) tracedS else untracedS) += s
        if (traced.isEmpty) untracedWallS += wall
        log(f"operation $attempted took $wall%.3f s, $s%.3f s uncontended${if (traced.isDefined) " (traced)" else ""}")
        val problems = run.check(out, expected)
        problems.foreach(p => System.err.println(s"perfbench: operation $attempted: $p"))
        bytesWritten += run.bytesWritten()
        System.gc()
        problems.isEmpty
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: operation $attempted failed: $e")
          false
      }
      attempted += 1
      if (!ok) failed += 1
      loadMax = math.max(loadMax, load1m)
    }
    val heapPeak = heap.stop()
    val loadEnd = load1m
    loadMax = math.max(loadMax, loadEnd)

    val rows = plan.feedRows
    val opTimes = untracedS.toSeq
    require(opTimes.nonEmpty && (tracer.isEmpty || tracedS.nonEmpty), "no operation succeeded")
    val p50 = Stats.median(opTimes)
    val tail = Stats.tail(opTimes).getOrElse(Stats.Tail(opTimes.max, 100.0, opTimes.size))
    val context = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "nproc" -> cores,
      "feed_rows" -> rows, "feed_bytes" -> feedBytes,
      "load_1m" -> Map("start" -> loadStart, "end" -> loadEnd, "max" -> loadMax),
      "stolen_share" -> cpuTimes().stolenShareSince(cpu0),
      "wall_s" -> Map("setup" -> setupWallS, "run_p50" -> Stats.median(untracedWallS.toSeq)),
      "ops" -> Map("warmup" -> workload.warmupOps, "untraced" -> opTimes.size, "traced" -> tracedS.size),
      "run_tail" -> Map("percentile" -> tail.percentile, "samples" -> tail.samples),
      "feed_build_s" -> genS,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    println(Json.obj("context" -> context))

    val metrics: Seq[(String, (Double, String))] = tracer match {
      case None => Seq(
        "setup_s" -> (setupS, "s"),
        "run_p50_s" -> (p50, "s"),
        "run_tail_s" -> (tail.value, "s"),
        "rows_per_s" -> (rows / p50, "1/s"),
        "driver_heap_peak_mb" -> (heapPeak / 1048576.0, "MB"),
        "write_amp" -> (Stats.median(bytesWritten.map(_.toDouble).toSeq) / feedBytes, "ratio"))
      case Some(t) =>
        val spans = t.collect()
        Layers.writeTrace(new File(work.getParentFile, s"trace-${a.workload}-seed${a.seed}.json"),
          spans, context)
        val layers = Layers.perOp(spans, feedBytes)
        Layers.metrics(layers, genS, Stats.median(bytesWritten.map(_.toDouble).toSeq),
          Stats.median(tracedS.toSeq) - p50)
    }
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    spark.stop()
    println(result)
  }
}
