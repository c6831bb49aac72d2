package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Per-layer numbers from a traced run. */
object Layers {

  /** Every per-layer metric the traced run reports, with its unit. */
  val units: Seq[(String, String)] = Seq(
    "validate.feed_scans" -> "count",
    "validate.feed_read_ratio" -> "ratio",
    "validate.split_write_s" -> "s",
    "validate.error_file_s" -> "s",
    "validate.summary_s" -> "s",
    "validate.split_counts_s" -> "s",
    "validate.split_counts_plan_ms" -> "ms",
    "validate.split_counts_job_s" -> "s",
    "validate.split_counts_gap_s" -> "s",
    "validate.error_compare_s" -> "s",
    "validate.bytes_written" -> "bytes",
    "rules.build_ms" -> "ms",
    "schema.check_ms" -> "ms",
    "ops.dedup_rows_s" -> "s",
    "ops.dedup_keys_s" -> "s",
    "bank.gen_s" -> "s",
    "spark.plan_ms" -> "ms",
    "spark.codegen_compiles" -> "count",
    "spark.codegen_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.job_s" -> "s",
    "spark.driver_gap_s" -> "s",
    "spark.max_task_skew" -> "ratio",
    "spark.single_task_stages" -> "count",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.tasks_failed" -> "count",
    "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  /** A span with the work of its whole subtree. */
  final case class Inclusive(span: Span, work: Work)

  /** The spans of one operation, each with its subtree's work. */
  def inclusive(spans: Seq[(Span, Work)]): Seq[Inclusive] = {
    val children = spans.groupBy(_._1.parent)
    def sum(s: Span, w: Work): Work = {
      val total = new Work
      total.add(w)
      children.getOrElse(s.id, Nil).foreach { case (c, cw) => total.add(sum(c, cw)) }
      total
    }
    spans.map { case (s, w) => Inclusive(s, sum(s, w)) }
  }

  /** Per traced operation, the metrics that come from its spans. */
  def perOp(spans: Seq[(Span, Work)], feedBytes: Long): Seq[Map[String, Double]] =
    spans.groupBy(_._1.op).toSeq.sortBy(_._1).map { case (_, opSpans) =>
      val inc = inclusive(opSpans)
      val root = inc.find(_.span.name == "op").get
      val w = root.work
      def named(n: String) = inc.filter(_.span.name == n)
      def secs(n: String) = named(n).map(_.span.durationNs).sum / 1e9
      def gapNs(i: Inclusive) = Spans.uncoveredNs(i.span.startNs, i.span.endNs, i.work.jobIntervals.toSeq)
      val counts = named("validate.split_counts")
      Map(
        "validate.feed_scans" -> w.feedScans.toDouble,
        "validate.feed_read_ratio" -> w.feedBytesRead.toDouble / feedBytes,
        "validate.split_write_s" -> secs("validate.split_write"),
        "validate.error_file_s" -> secs("validate.error_file"),
        "validate.summary_s" -> secs("validate.summary"),
        "validate.split_counts_s" -> secs("validate.split_counts"),
        "validate.split_counts_plan_ms" -> counts.map(_.work.planMs).sum,
        "validate.split_counts_job_s" -> counts.map(_.work.jobMs).sum / 1e3,
        "validate.split_counts_gap_s" -> counts.map(gapNs).sum / 1e9,
        "validate.error_compare_s" -> secs("validate.error_compare"),
        "rules.build_ms" -> secs("rules.build") * 1e3,
        "schema.check_ms" -> secs("schema.check") * 1e3,
        "ops.dedup_rows_s" -> secs("ops.dedup_rows"),
        "ops.dedup_keys_s" -> secs("ops.dedup_keys"),
        "spark.plan_ms" -> w.planMs,
        "spark.codegen_compiles" -> w.codegenCompiles.toDouble,
        "spark.codegen_ms" -> w.codegenNs / 1e6,
        "spark.jobs" -> w.jobs.toDouble,
        "spark.stages" -> w.stages.toDouble,
        "spark.tasks" -> w.tasks.toDouble,
        "spark.job_s" -> w.jobMs / 1e3,
        "spark.driver_gap_s" -> gapNs(root) / 1e9,
        "spark.max_task_skew" -> w.maxTaskSkew,
        "spark.single_task_stages" -> w.singleTaskStages.toDouble,
        "spark.shuffle_bytes" -> w.shuffleBytes.toDouble,
        "spark.spill_bytes" -> w.spillBytes.toDouble,
        "spark.tasks_failed" -> w.tasksFailed.toDouble,
        "spark.gc_s" -> w.gcMs / 1e3)
    }

  /** Medians over traced operations, plus the set-up and run-level
    * numbers, in the order of [[units]]. */
  def metrics(ops: Seq[Map[String, Double]], feedBuildS: Double, bytesWritten: Double,
              overheadS: Double): Seq[(String, (Double, String))] = {
    val run = Map("bank.gen_s" -> feedBuildS,
      "validate.bytes_written" -> bytesWritten, "trace.overhead_s" -> overheadS)
    units.map { case (name, unit) =>
      name -> (run.getOrElse(name, Stats.median(ops.map(_(name)))), unit)
    }
  }

  /** Writes every span with its self time and the work charged to it. */
  def writeTrace(file: File, spans: Seq[(Span, Work)], context: Map[String, Any]): Unit = {
    val all = spans.map(_._1)
    val rows = spans.map { case (s, w) =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> Spans.selfNs(s, all),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks, "tasks_failed" -> w.tasksFailed,
        "job_ms" -> w.jobMs, "plan_ms" -> w.planMs, "queries" -> w.queries,
        "feed_scans" -> w.feedScans, "codegen_compiles" -> w.codegenCompiles,
        "codegen_ns" -> w.codegenNs, "shuffle_bytes" -> w.shuffleBytes,
        "spill_bytes" -> w.spillBytes, "feed_bytes_read" -> w.feedBytesRead, "gc_ms" -> w.gcMs,
        "max_task_skew" -> w.maxTaskSkew, "single_task_stages" -> w.singleTaskStages)
    }
    Files.write(file.toPath, (Json.obj("context" -> context) + "\n" + rows.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
