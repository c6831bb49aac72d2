package graft.ops

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LocalRelation, Project, Range}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** The adaptive-execution policy the operators share, in one place:
  * driver fold or distributed, local or reliable checkpoints, the
  * round loop of the iterative graph operators, scan widening and
  * derived-frame pinning. `checkpoint()` and `localCheckpoint()`
  * return a frame whose logical root is a `LogicalRDD` wrapping the
  * RDD that holds the persisted rows.
  * Reading that RDD counts the rows exactly (a job, but not a SQL
  * action, so per-round one-SQL-action pins are unaffected), and
  * unpersisting it frees exactly that frame's blocks. */
private[graft] object Adaptive {

  /** Driver-resident state one fold may hold. Each fold declares its
    * driver bytes per input row beside its data structure, and its row
    * cap is [[foldRows]] of that; a larger input takes the operator's
    * distributed path. A fixed figure, not a heap fraction or a plan
    * estimate, so every JVM makes the same fold decision. */
  val DriverFoldBytes: Long = 64L << 20

  /** Row cap of a fold holding `bytesPerRow` driver bytes per input row. */
  def foldRows(bytesPerRow: Long): Long = DriverFoldBytes / bytesPerRow

  /** Auto-mode threshold: above this many (directed) input edges the
    * r7 10 M-edge ConnectedComponents smoke measured reliable
    * checkpointing both FASTER (126 vs 162 s — HDFS-path writes beat
    * block-store churn once the label frame is tens of MB per round)
    * and flatter (round max/min 1.62 vs 4.57), so big graphs default
    * to it when a checkpoint dir is available.
    *
    * An operator with a driver fold decides the fold first, and the
    * fold wins: ConnectedComponents folds up to 2,097,152 edges
    * (`foldRows(ConnectedComponents.FoldBytesPerEdge)`), so a graph of
    * 2,000,000–2,097,152 edges folds on the driver even with a
    * checkpoint dir set, and reliable rounds start above the fold cap. */
  val AutoReliableEdges = 2000000L

  /** Persisted row count of a checkpointed frame; `None` when the plan
    * root is not a `LogicalRDD`. */
  def rows(ds: Dataset[_]): Option[Long] = ds.queryExecution.logical match {
    case l: LogicalRDD => Some(l.rdd.count())
    case _ => None
  }

  /** Driver-fold admission: a positive `maxRows` and a checkpoint
    * (`rows` of it, by-name, so a cap of 0 never counts) of at most
    * `maxRows` rows. A frame that is not a checkpoint is never admitted. */
  def admits(maxRows: Long, rows: => Option[Long]): Boolean =
    maxRows > 0 && rows.exists(_ <= maxRows)

  /** Release exactly the blocks of the checkpoints a frame reads (at
    * its root, or under a result's projection) — no session-global
    * persistent-RDD-id diffing, which would race with (and could
    * fatally unpersist) concurrent jobs' localCheckpoints on the same
    * SparkSession. A reliable checkpoint's RDD is not block-persisted;
    * unpersist is a no-op there, as it is for a frame that reads no
    * checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case l: LogicalRDD => l.rdd.unpersist(false)
    case _ => ()
  }

  /** Resolve the checkpoint mode for an iterative operator: an explicit
    * choice wins; otherwise reliable iff a checkpoint dir is set AND
    * `materialized` (an already-executed checkpoint) holds at least
    * `threshold` rows. A frame that is not a checkpoint counts as 0. */
  def resolveReliable(materialized: DataFrame, explicit: Option[Boolean],
      threshold: Long = AutoReliableEdges): Boolean =
    resolveReliable(materialized, explicit, threshold, rows(materialized))

  /** [[resolveReliable]] over a count of `materialized` the caller
    * already holds; by-name, so it is forced only in auto mode with a
    * checkpoint dir set. */
  def resolveReliable(materialized: DataFrame, explicit: Option[Boolean],
      threshold: Long, rows: => Option[Long]): Boolean =
    explicit.getOrElse {
      materialized.sparkSession.sparkContext.getCheckpointDir.isDefined &&
        rows.getOrElse(0L) >= threshold
    }

  /** What one iterative operator's rounds did, posted on the listener
    * bus as the loop ends: `mode` is `fold` (the rounds ran on the
    * driver), `local` or `reliable` (the checkpoint kind of the
    * distributed rounds); `roundMs` holds each distributed round's wall
    * milliseconds. Specs and smokes read rounds from here. */
  case class RoundsRun(op: String, mode: String, rounds: Int,
      converged: Boolean, roundMs: Seq[Double]) extends SparkListenerEvent

  def report(spark: SparkSession, run: RoundsRun): Unit =
    GraftListenerBridge.post(spark.sparkContext, run)

  /** Eager pins of a fixed-round loop come every this many rounds. */
  val PinEvery = 4

  /** Rounds that always pin locally (LPA, HITS, RandomWalks). */
  def localRounds: Rounds = new Rounds(None, Some(false), 0L)

  /** Pin `input`, the operator's one materialization of its caller's
    * pipeline, now: in the explicit mode, local without one (the auto
    * mode needs the pin's size). Returns the pin and the rounds whose
    * mode it resolves ([[resolveReliable]] against `threshold`) at
    * the first use that needs the mode, so a driver fold decided in
    * between shares the one count ([[Rounds.inputRows]]). */
  def rounds(input: DataFrame, explicit: Option[Boolean],
      threshold: Long = AutoReliableEdges): (DataFrame, Rounds) = {
    val pinned = new Rounds(None, explicit, threshold).pin(input)
    (pinned, new Rounds(Some(pinned), explicit, threshold))
  }

  /** The round discipline of the iterative graph operators, in one
    * checkpoint mode. An operator states its step and, for a
    * converging loop, its change test; the loop owns the pins, the
    * cadence, the release of the previous round and the stop. */
  final class Rounds private[Adaptive] (input: Option[DataFrame],
      explicit: Option[Boolean], threshold: Long) {

    /** Row count of the pinned input (`None` for [[localRounds]]),
      * counted at most once. */
    lazy val inputRows: Option[Long] = input.flatMap(rows)

    private lazy val reliable: Boolean = input.fold(explicit.getOrElse(false))(
      resolveReliable(_, explicit, threshold, inputRows))

    /** Checkpoint now (one job). */
    def pin(df: DataFrame): DataFrame = checkpoint(df, eager = true)

    /** Checkpoint when the first action over the frame runs. */
    def pinLazy(df: DataFrame): DataFrame = checkpoint(df, eager = false)

    /** Converging loop: each round pins `step(state)` lazily, and
      * `changed` — a FULL count over the pinned frame, the round's one
      * action — materializes it and says whether another round is due
      * (a limit/isEmpty would truncate lineage over partially computed
      * blocks). The previous round's blocks are then released: kept,
      * they overflowed executor storage at 10 M nodes (r7: 910 s vs
      * 162 s). `init` is released after round 1 too. Stops when
      * nothing changed or after `maxRounds`, posts [[RoundsRun]] and
      * returns the last pinned state and whether it converged. */
    def converge(op: String, init: DataFrame, maxRounds: Int)
        (step: DataFrame => DataFrame)(changed: DataFrame => Boolean)
        : (DataFrame, Boolean) = {
      var state = init
      var round = 0
      var converged = false
      val roundMs = Seq.newBuilder[Double]
      while (!converged && round < maxRounds) {
        val t0 = System.nanoTime()
        val next = pinLazy(step(state))
        converged = !changed(next)
        release(state)
        state = next
        round += 1
        roundMs += (System.nanoTime() - t0) / 1e6
      }
      report(init.sparkSession, RoundsRun(op, if (reliable) "reliable" else "local",
        round, converged, roundMs.result()))
      (state, converged)
    }

    /** Fixed-round loop: `iters` rounds of `step`, which passes its new
      * state frames through the `pin` it is given — an eager pin every
      * [[PinEvery]] rounds that bounds the lineage, never on the last
      * round (the caller's own action consumes that), the identity
      * otherwise. */
    def fixed[S](iters: Int, init: S)(step: (S, DataFrame => DataFrame) => S): S =
      (1 to iters).foldLeft(init) { (s, i) =>
        step(s, if (i % PinEvery == 0 && i < iters) pin else identity)
      }

    /** Spark names a job after its first frame outside Spark, which
      * for every pin would be this file; the name keeps the operator
      * line that asked for the pin ("localCheckpoint at KCore.scala:N"),
      * so job listings still tell the operators apart. */
    private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
      def run = if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
      Thread.currentThread.getStackTrace.find { f =>
        f.getClassName.startsWith("graft.") && !f.getClassName.startsWith("graft.ops.Adaptive$")
      }.fold(run) { f =>
        GraftListenerBridge.withCallSite(df.sparkSession.sparkContext,
          s"${if (reliable) "checkpoint" else "localCheckpoint"} at ${f.getFileName}:${f.getLineNumber}")(run)
      }
    }
  }

  /** Scale-adaptive scan widening (guide §2.5: unsplittable input). A
    * single-row-group parquet file arrives as ONE effective scan task,
    * serializing whatever per-row compute sits behind it (ANN's
    * |corpus|·|queries|·dim scoring loop measured a 4.2 s single-task
    * stage at sf0.1 while 31 cores idled). Below the session's default
    * parallelism, repartition round-robin up to it: one exchange buys
    * full-width compute. A properly-split input (the 100 TB case)
    * passes through UNTOUCHED. Only [[scanShaped]] frames are probed:
    * `.rdd` on a plan with exchanges would execute its AQE query
    * stages eagerly just to read the partition count (measured as a
    * full duplicate run of the upstream pipeline); those plans end in
    * an exchange the session's shuffle sizing already governs. */
  def widenScan(df: DataFrame): DataFrame = {
    if (!scanShaped(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Materialize a DERIVED frame once (lazy localCheckpoint) before it
    * feeds several subtrees of one query — [[Ann.knnGraph]] references
    * its corpus three times and [[EmbedEval.neighborPurity]] two more,
    * so an un-pinned derived corpus re-executes per reference
    * (measured: the whole SGNS doc-embedding build ran 5× inside one
    * sgns_embed_eval action). [[scanShaped]] frames pass through:
    * re-reading a columnar scan is cheaper than writing a copy of it
    * to block storage. An explode (`Generate`) or heavy projection
    * over a scan counts as scan-shaped too, so it is left unpinned and
    * re-executes once per reference; no measurement supports pinning
    * it. */
  def pinDerived(df: DataFrame): DataFrame =
    if (scanShaped(df)) df else df.localCheckpoint(eager = false)

  /** Every optimized-plan node is one that never introduces an
    * exchange: project/filter/generate over a leaf. */
  private def scanShaped(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter | _: Generate | _: LogicalRelation | _: LogicalRDD |
          _: LocalRelation | _: Range | _: DataSourceV2ScanRelation => false
      case _ => true
    }.isEmpty
}
