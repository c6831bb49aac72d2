package graft.sources

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** A minimal transactional table format: parquet partitions made
  * visible by an atomic commit log.
  *
  * The streaming sinks' (run_id, batch_id) dynamic-overwrite
  * discipline is idempotent under retry, but a reader that lists the
  * table mid-write can see a batch's files before the batch finishes —
  * torn reads. This upgrades the convention to ATOMIC VISIBILITY:
  *
  *   table/
  *     _commits/<runId>-<batchId>.commit   ← the log (one marker per
  *                                           committed batch, created
  *                                           by atomic rename)
  *     run_id=R/batch_id=B/part-*.parquet  ← data, written BEFORE its
  *                                           marker exists
  *
  * Writer protocol ([[writeBatch]]): (1) dynamic-overwrite the
  * (run_id, batch_id) partition — a retry of the same batch replaces
  * its own files and nobody else's; (2) create the commit marker by
  * write-temp-then-rename — rename is atomic on HDFS/posix (and the
  * single-object PUT it maps to on object stores), so the marker
  * either exists complete or not at all. A marker that already exists
  * makes the commit a no-op: replayed batches stay exactly-once.
  *
  * Reader protocol ([[readCommitted]]): list `_commits`, then read
  * EXACTLY the committed partition directories (passed as explicit
  * paths with `basePath` so partition columns survive). An
  * uncommitted batch — in-flight writer, or a crash after data files
  * but before the marker — is structurally invisible: its directory
  * is never listed, its files never opened. No filter, no OR-chain
  * over pairs, pruning is perfect at any commit count because the
  * committed SET is the file listing.
  *
  * Underscore-prefixed `_commits` is ignored by Spark/Hadoop input
  * listing, so a legacy whole-table `spark.read.parquet(table)` still
  * works (it just loses the visibility guarantee).
  *
  * Scale: the log is one tiny file per batch — listing it is a
  * metadata read of #batches entries, independent of data volume;
  * [[compactLog]] folds old markers into one snapshot file when
  * #batches itself grows large. Readers never list data directories
  * they will not read, which on object stores is the difference
  * between O(committed) and O(everything ever attempted).
  */
/** A commit lost the optimistic-concurrency race: another transaction
  * retired one of this transaction's rewrite targets between planning
  * and the marker rename. TYPED so retry logic matches on CLASS, not
  * message text (r20 — the r19 string match silently stopped retrying
  * on any rewording, and a foreachBatch/SparkException wrapper hid the
  * message entirely). */
final class CommitLogWriteConflict(msg: String) extends RuntimeException(msg)

object CommitLogWriteConflict {
  /** Is `e` a write conflict, at any depth of a wrapper chain (Spark
    * wraps sink/foreachBatch failures in SparkException layers)? */
  @annotation.tailrec
  def is(e: Throwable): Boolean = e match {
    case null => false
    case _: CommitLogWriteConflict => true
    case other => is(other.getCause)
  }
}

object CommitLog {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def commitsDir(table: String) = s"$table/_commits"

  private def markerName(runId: String, batchId: Long) = {
    require(!runId.contains("-") && !runId.contains("/"),
      s"runId must not contain '-' or '/': $runId")
    // ',' separates run from batch in txn add= / snapshot lines, tab
    // separates folded fields, newlines separate lines — any of them
    // inside a run id would corrupt every folded marker form
    require(!runId.exists(c => c == ',' || c == '\t' || c == '\n' || c == '\r'),
      s"runId must not contain ',', tab, or newline: ${esc(runId)}")
    require(runId != "txn",
      "runId 'txn' is reserved: its markers would collide with " +
        "transaction markers (txn-<ts>-<uuid>.commit)")
    f"$runId-$batchId%020d.commit"
  }

  /** Per-column batch statistics carried by a commit marker — the
    * Iceberg-manifest idea at batch granularity: a reader with a range
    * predicate prunes whole BATCH DIRECTORIES from its listing before
    * any parquet footer is opened. min/max are rendered as strings;
    * `typ` says how to compare ("num" → numeric, anything else →
    * lexicographic). An all-NULL column records no stats row. */
  final case class ColStats(col: String, typ: String, min: String, max: String)

  // stats wire format: col:typ:min:max;... with %-escaping of the
  // separators (and % itself) inside rendered values
  private def esc(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case ':' => "%3a"
      case ';' => "%3b"
      case '\t' => "%09"
      case '\n' => "%0a"
      case '\r' => "%0d"
      case c => c.toString
    }
  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
  private def encodeStats(stats: Seq[ColStats]): String =
    stats.map(s => s"${esc(s.col)}:${esc(s.typ)}:${esc(s.min)}:${esc(s.max)}")
      .mkString(";")
  private def decodeStats(s: String): Seq[ColStats] =
    s.split(";").toSeq.filter(_.nonEmpty).flatMap { part =>
      part.split(":", 4) match {
        case Array(c, t, mn, mx) =>
          Seq(ColStats(unesc(c), unesc(t), unesc(mn), unesc(mx)))
        case _ => Seq.empty
      }
    }

  // per-FILE stats wire format (r18, recorded by OPTIMIZE ... ZORDER
  // BY): `escFile@escStatsBlob|...` — the stats blob is the ordinary
  // encodeStats form escaped a second level so its ':'/';' (and any
  // literal '|'/'@' in rendered values or file names) cannot collide
  // with the outer separators; unesc() already decodes %7c/%40.
  private def escF(s: String): String =
    esc(s).replace("|", "%7c").replace("@", "%40")
  private def encodeFileStats(v: Seq[(String, Seq[ColStats])]): String =
    v.map { case (f, st) => escF(f) + "@" + escF(encodeStats(st)) }
      .mkString("|")
  private def decodeFileStats(s: String): Seq[(String, Seq[ColStats])] =
    s.split("\\|").toSeq.filter(_.nonEmpty).flatMap { part =>
      part.split("@", 2) match {
        case Array(f, blob) => Seq((unesc(f), decodeStats(unesc(blob))))
        case _ => Seq.empty
      }
    }

  // ---- schema-in-marker (r15): evolution without footer reads ---- //

  /** The (name, type-DDL) fingerprint of a batch frame, recorded in
    * its commit marker so readers reconcile schemas from METADATA —
    * never by opening parquet footers. Partition columns
    * (run_id/batch_id) are added at write and excluded here. */
  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql)

  private def encodeSchema(s: Seq[(String, String)]): String =
    s.map { case (n, t) => s"${esc(n)}:${esc(t)}" }.mkString(";")
  private def decodeSchema(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).flatMap { part =>
      part.split(":", 2) match {
        case Array(n, t) => Seq((unesc(n), unesc(t)))
        case _ => Seq.empty
      }
    }

  private val intChain = Seq("TINYINT", "SMALLINT", "INT", "BIGINT")
  private val floatChain = Seq("FLOAT", "DOUBLE")

  /** Widest of two recorded types under the WIDENING-ONLY evolution
    * rules (integral chain tinyint→…→bigint, float→double; identical
    * types always compatible); None = incompatible drift. */
  private[sources] def widen(a: String, b: String): Option[String] =
    if (a == b) Some(a)
    else {
      val ia = intChain.indexOf(a); val ib = intChain.indexOf(b)
      if (ia >= 0 && ib >= 0) Some(intChain(math.max(ia, ib)))
      else {
        val fa = floatChain.indexOf(a); val fb = floatChain.indexOf(b)
        if (fa >= 0 && fb >= 0) Some(floatChain(math.max(fa, fb)))
        else None
      }
    }

  /** Write one batch's rows into its (run_id, batch_id) partition and
    * atomically commit it. Safe to replay with the same ids. A batch
    * with no rows commits no marker (see [[commitLanded]]). */
  def writeBatch(df: DataFrame, table: String, runId: String,
      batchId: Long, ts: Long = -1L,
      retires: Seq[(String, Long)] = Seq.empty): Unit = {
    writeDataOnly(df, table, runId, batchId)
    commitLanded(df.sparkSession, table, runId, batchId, Seq.empty,
      schemaOf(df), ts, retires)
  }

  /** Did [[writeDataOnly]] land the (run_id, batch_id) partition? A
    * frame with no rows writes no partition directory, and a marker
    * naming a missing directory would break every later read of the
    * table. A directory check, not a Spark job. */
  private def landed(spark: SparkSession, table: String, runId: String,
      batchId: Long): Boolean = {
    val (hfs, dir) = fs(spark, s"$table/run_id=$runId/batch_id=$batchId")
    hfs.exists(dir)
  }

  /** Commit the partition [[writeDataOnly]] just wrote; when it wrote
    * none, commit only `retires` (a retire-only transaction), or
    * nothing. `stats` is computed only when the marker is written. */
  private def commitLanded(spark: SparkSession, table: String,
      runId: String, batchId: Long, stats: => Seq[ColStats],
      schema: Seq[(String, String)], ts: Long,
      retires: Seq[(String, Long)]): Unit =
    if (landed(spark, table, runId, batchId))
      commitWithMeta(spark, table, runId, batchId, stats, schema, ts, retires)
    else if (retires.nonEmpty)
      commitTxn(spark, table, Seq.empty, retires, ts)

  /** One small aggregate computing per-column min/max for the marker.
    * All-NULL columns record no stats row (unprunable, conservative). */
  private[sources] def statsOf(pinned: DataFrame, statsCols: Seq[String]): Seq[ColStats] =
    if (statsCols.isEmpty) Seq.empty[ColStats]
    else {
      val aggs = statsCols.flatMap(c =>
        Seq(min(col(c)).as(s"_mn_$c"), max(col(c)).as(s"_mx_$c")))
      val row = pinned.agg(aggs.head, aggs.tail: _*).collect()(0)
      val types = pinned.schema.fields.map(f => f.name -> f.dataType).toMap
      statsCols.zipWithIndex.flatMap { case (c, i) =>
        val mn = row.get(2 * i)
        val mx = row.get(2 * i + 1)
        if (mn == null || mx == null) Seq.empty
        else {
          val numeric = types(c) match {
            case _: org.apache.spark.sql.types.NumericType => true
            case _ => false
          }
          Seq(ColStats(c, if (numeric) "num" else "str",
            mn.toString, mx.toString))
        }
      }
    }

  /** Write one (run_id, batch_id) partition's data files WITHOUT a
    * marker — the transactional building block: data lands first,
    * visibility comes from whatever marker later names the partition
    * ([[commitWithMeta]] for a single batch, [[commitTxn]] for several
    * at once). Also the batch-partition write of every
    * `graft.streaming` operator (`graft.streaming.MicroBatch`);
    * `leading` partition columns of `df` go before run_id/batch_id
    * (an ANN index's `cell`). */
  private[graft] def writeDataOnly(df: DataFrame, table: String, runId: String,
      batchId: Long, leading: Seq[String] = Seq.empty): Unit = {
    markerName(runId, batchId) // rejects a run id no marker could name
    overwritePartitions(
      df.withColumn("run_id", lit(runId)).withColumn("batch_id", lit(batchId)),
      table, leading ++ Seq("run_id", "batch_id"))
  }

  /** Write `df` partitioned by `partCols`, replacing exactly the
    * partitions it has rows for (dynamic partition overwrite). */
  private[graft] def overwritePartitions(df: DataFrame, table: String,
      partCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(table)

  /** [[writeBatch]] recording min/max stats for `statsCols` in the
    * commit marker — one extra small aggregate job over the batch buys
    * batch-directory pruning for every future range read. */
  def writeBatchWithStats(df: DataFrame, table: String, runId: String,
      batchId: Long, statsCols: Seq[String], ts: Long = -1L,
      retires: Seq[(String, Long)] = Seq.empty): Unit = {
    val pinned = df.localCheckpoint(eager = false)
    writeDataOnly(pinned, table, runId, batchId)
    commitLanded(df.sparkSession, table, runId, batchId,
      statsOf(pinned, statsCols), schemaOf(pinned), ts, retires)
  }

  /** Mark an already-written (run_id, batch_id) partition committed.
    * Atomic (temp + rename), idempotent (existing marker wins). */
  def commit(spark: SparkSession, table: String, runId: String, batchId: Long): Unit =
    commitWithMeta(spark, table, runId, batchId, Seq.empty, Seq.empty)

  /** [[commit]] carrying per-column stats in the marker body. */
  def commitWithStats(spark: SparkSession, table: String, runId: String,
      batchId: Long, stats: Seq[ColStats]): Unit =
    commitWithMeta(spark, table, runId, batchId, stats, Seq.empty)

  /** [[commit]] carrying stats AND the batch's schema fingerprint —
    * what [[writeBatch]]/[[writeBatchWithStats]] record so reads can
    * reconcile evolved schemas from marker metadata alone. The marker
    * also records a COMMIT TIMESTAMP (wall millis; pass `ts` ≥ 0 to
    * pin it — tests and backfills) powering
    * [[readCommittedAsOfTimestamp]] time travel. */
  def commitWithMeta(spark: SparkSession, table: String, runId: String,
      batchId: Long, stats: Seq[ColStats],
      schema: Seq[(String, String)], ts: Long = -1L,
      retires: Seq[(String, Long)] = Seq.empty,
      fileStats: Seq[(String, Seq[ColStats])] = Seq.empty,
      seq: Option[Long] = None): Unit = {
    val (hfs, dir) = fs(spark, commitsDir(table))
    hfs.mkdirs(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, markerName(runId, batchId))
    if (hfs.exists(marker)) return
    // retiring commits (compactDeletes rewrites) get the same
    // conflict check as transactions — a retry of the SAME rewrite is
    // already a no-op via the marker-exists return above, so reaching
    // here with an already-retired original means a DIFFERENT
    // concurrent rewrite won. The same re-read re-mints a seq another
    // mutation got to first. Plain appends (no retires, no seq) never
    // read the log — they stay freely concurrent and cheap.
    val finalSeq =
      if (retires.isEmpty && seq.isEmpty) seq
      else {
        val cur = logState(spark, table)
        checkRetireConflict(cur, table, retires)
        bumpSeq(cur, seq)
      }
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".${markerName(runId, batchId)}.${java.util.UUID.randomUUID()}.tmp")
    val statsLine =
      if (stats.isEmpty) "" else s"stats=${encodeStats(stats)}\n"
    val schemaLine =
      if (schema.isEmpty) "" else s"schema=${encodeSchema(schema)}\n"
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    val tsLine = s"ts=$tsv\n" + finalSeq.map(s => s"seq=$s\n").getOrElse("")
    // a compactDeletes rewrite RETIRES its original in the same
    // marker: the visibility flip (original out, rewrite in) is one
    // atomic rename — no crash window where both are live
    val retiresLine =
      if (retires.isEmpty) ""
      else s"retires=${retires.map { case (r, b) => s"${esc(r)},$b" }.mkString(";")}\n"
    val fstatsLine =
      if (fileStats.isEmpty) "" else s"fstats=${encodeFileStats(fileStats)}\n"
    val out = hfs.create(tmp, true)
    try out.write(
      s"run_id=$runId\nbatch_id=$batchId\n$statsLine$schemaLine$tsLine$fstatsLine$retiresLine"
        .getBytes("UTF-8"))
    finally out.close()
    // rename onto the final name; losing a race to another committer
    // of the same batch is success, not failure
    if (!CommitArbiter.get.publish(hfs, tmp, marker)) {
      hfs.delete(tmp, false)
      if (!hfs.exists(marker))
        sys.error(s"could not commit $marker")
    }
  }

  /** Everything a marker can carry about one batch. Absent fields
    * (older writers, pre-stats snapshots) are empty/None — readers
    * degrade conservatively. `seq` is the committing transaction's
    * monotonic sequence (see [[LogState.nextSeq]]); `cdata` names the
    * `_changes/<dir>` partition holding the WRITE-TIME change rows
    * (the merge's delete pre-images) the committing txn persisted. */
  final case class BatchMeta(stats: Seq[ColStats],
      schema: Seq[(String, String)], ts: Option[Long],
      fileStats: Seq[(String, Seq[ColStats])] = Seq.empty,
      seq: Option[Long] = None, cdata: Option[String] = None)

  /** One row-level DELETE recorded in the log: `pred` rows are gone
    * from exactly the `applies` batches (the committed set at delete
    * time — batches committed later are untouched). `kind` ∈
    * {"in", "range"}; `typ` is the Spark DDL type the string-rendered
    * `vals` cast back to. `seq` is the delete's monotonic sequence
    * (absent on legacy markers — the effective sequence falls back to
    * `ts`). `cancelTs`/`cancelSeq` are set when a [[restoreTo]] to a
    * point before this delete CANCELLED it: current reads no longer
    * apply it, as-of-T reads with T inside [ts, cancelTs) still do. */
  final case class Tombstone(ts: Long, col: String, typ: String,
      kind: String, vals: Seq[String], applies: Seq[(String, Long)],
      seq: Option[Long] = None, cancelTs: Option[Long] = None,
      cancelSeq: Option[Long] = None, src: Option[String] = None) {
    def cancelled: Boolean = cancelSeq.nonEmpty
  }

  /** One RESTORE recorded in the log (its own marker — the Delta
    * `RESTORE TABLE` rung): at (`ts`, `seq`) the table was rolled back
    * to the state as of sequence `target` — `readds` re-added batches
    * a post-target mutation had retired, `retires` retired batches
    * committed after the target, `cancels` names the tombstone FILES
    * of post-target row deletes (their rows are visible again). */
  final case class Restore(target: Long, ts: Long, seq: Long,
      readds: Seq[(String, Long)], retires: Seq[(String, Long)],
      cancels: Seq[String])

  /** The full decoded state of a table's commit log. */
  final case class LogState(
      entries: Seq[(String, Long)],
      retired: Map[(String, Long), Long],
      meta: Map[(String, Long), BatchMeta],
      tombstones: Seq[Tombstone],
      retiredSeq: Map[(String, Long), Long] = Map.empty,
      retiredCdata: Map[(String, Long), String] = Map.empty,
      addEv: Map[(String, Long), Seq[(Long, Long)]] = Map.empty,
      retireEv: Map[(String, Long), Seq[(Long, Long)]] = Map.empty,
      restores: Seq[Restore] = Seq.empty) {
    /** Membership view of `entries` — O(1) lookups for the per-entry
      * classification passes (rewrite detection over a long history
      * was O(entries²) through Seq.contains). */
    lazy val entrySet: Set[(String, Long)] = entries.toSet
    /** The live committed set: entries whose LATEST add/retire fact
      * (by effective sequence) is an add. With no restore in the log
      * this is exactly "entries minus retired" (a retire fact always
      * postdates the add it supersedes; equal sequences — legacy
      * same-millisecond markers — break toward retired, the pre-r20
      * behavior); a [[restoreTo]] re-add carries a fresh seq past the
      * retire it undoes, so the batch is live again. */
    def committed: Seq[(String, Long)] =
      entries.filter { k =>
        val r = retireEv.getOrElse(k, Nil)
        r.isEmpty || addEv.getOrElse(k, Nil).map(_._2).maxOption
          .exists(_ > r.iterator.map(_._2).max)
      }
    /** Live committed set as a reader at wall-time `tsMillis` saw it:
      * the latest add/retire event recorded by then decides (no
      * recorded add ts = predates the feature, included; a same-ts
      * tie breaks toward retired, matching pre-event behavior). */
    def committedAsOf(tsMillis: Long): Seq[(String, Long)] =
      entries.filter { key =>
        val seen =
          (addEv.getOrElse(key, Seq((0L, 0L))).iterator
            .map { case (t, s) => (t, s, 0) } ++
          retireEv.getOrElse(key, Nil).iterator
            .map { case (t, s) => (t, s, 1) }).filter(_._1 <= tsMillis).toSeq
        seen.nonEmpty && seen.max._3 == 0
      }

    // ---- the monotonic TOTAL ORDER over log events (r19) ---- //
    // Mutating writers record a `seq` in their markers, minted as
    // nextSeq() from the log state they already hold; facts written
    // before the feature (or by plain concurrent appends, which never
    // read the log) fall back to their commit ts — same millis domain,
    // so mixed logs stay ordered. Under the documented single-writer
    // discipline for mutations, every new mutation's seq is strictly
    // greater than every recorded effective seq: the tombstone order
    // below is PREFIX-STABLE under appends (a streamed count into it
    // never shifts), and the change feed can expose the order as a
    // `_change_seq` column — the Delta _commit_version rung.

    /** Effective sequence of a committed entry (recorded seq, else
      * commit ts, else 0). */
    def entrySeq(k: (String, Long)): Long =
      meta.get(k).flatMap(m => m.seq.orElse(m.ts)).getOrElse(0L)
    /** Effective sequence of a retirement (recorded seq, else the
      * retire ts). */
    def retireSeqOf(k: (String, Long)): Long =
      retiredSeq.getOrElse(k, retired.getOrElse(k, 0L))
    /** Effective sequence of a tombstone (recorded seq, else its ts). */
    def tombSeq(t: Tombstone): Long = t.seq.getOrElse(t.ts)
    /** Largest effective sequence any recorded fact carries. */
    def maxSeq: Long =
      (entries.iterator.map(entrySeq) ++
        retired.keysIterator.map(retireSeqOf) ++
        tombstones.iterator.map(tombSeq) ++
        restores.iterator.map(_.seq)).foldLeft(0L)(math.max)
    /** The sequence a mutation committing at wall-time `tsv` should
      * record: past every recorded fact AND never behind the wall
      * clock (so seqs stay comparable with ts-only legacy facts). */
    def nextSeq(tsv: Long): Long = math.max(tsv, maxSeq + 1)
  }

  private def parseKey(stem: String): (String, Long) = {
    val cut = stem.lastIndexOf('-')
    (stem.substring(0, cut), stem.substring(cut + 1).toLong)
  }

  /** Decode the ENTIRE log in one listing + one read per log file —
    * committed entries, per-batch meta, retire marks, tombstones.
    * Every reader threads this one state through (the r15 split
    * readers each re-listed and re-opened every marker, so a
    * committed read cost 2-3 full log scans — on object stores that
    * is per-read latency linear in uncompacted marker count). */
  def logState(spark: SparkSession, table: String): LogState = {
    val (hfs, dir) = fs(spark, commitsDir(table))
    if (!hfs.exists(dir))
      return LogState(Seq.empty, Map.empty, Map.empty, Seq.empty)
    logStateOf(hfs, hfs.listStatus(dir).toSeq)
  }

  /** [[logState]] over an explicit file listing — [[compactLog]]
    * needs the decoded state of EXACTLY the files it will fold. */
  private def logStateOf(hfs: org.apache.hadoop.fs.FileSystem,
      files: Seq[org.apache.hadoop.fs.FileStatus]): LogState = {
    def readText(p: org.apache.hadoop.fs.Path): String = {
      val in = hfs.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toString("UTF-8")
      } finally in.close()
    }
    val entries = Seq.newBuilder[(String, Long)]
    val meta = scala.collection.mutable.Map.empty[(String, Long), BatchMeta]
    val addEv = scala.collection.mutable.Map
      .empty[(String, Long), List[(Long, Long)]]
    val retireEv = scala.collection.mutable.Map
      .empty[(String, Long), List[(Long, Long)]]
    // latest retire FACT per key (by effective seq; later-parsed wins
    // ties) — feeds the legacy retired/retiredSeq/retiredCdata maps
    val bestRetire = scala.collection.mutable.Map
      .empty[(String, Long), (Long, Option[Long], Option[String])]
    val tombsRaw = Seq.newBuilder[(String, Tombstone)]
    val restoresB = Seq.newBuilder[Restore]

    def effSeqOf(m: BatchMeta): Long = m.seq.orElse(m.ts).getOrElse(0L)
    // duplicate add facts for one key (snapshot-fold crash leftovers;
    // a restore re-add next to the original marker) MERGE rather than
    // last-parse-wins: the higher-effective-seq record is primary and
    // its empty fields fill from the other, so the arbitrary file
    // listing order never changes the decoded state
    def putMeta(k: (String, Long), m: BatchMeta): Unit =
      meta(k) = meta.get(k) match {
        case None => m
        case Some(prev) =>
          val (p, s) =
            if (effSeqOf(m) > effSeqOf(prev)) (m, prev) else (prev, m)
          BatchMeta(
            if (p.stats.nonEmpty) p.stats else s.stats,
            if (p.schema.nonEmpty) p.schema else s.schema,
            p.ts.orElse(s.ts),
            if (p.fileStats.nonEmpty) p.fileStats else s.fileStats,
            (p.seq.toSeq ++ s.seq.toSeq).maxOption,
            p.cdata.orElse(s.cdata))
      }
    def addEvent(k: (String, Long), ts: Option[Long],
        seq: Option[Long]): Unit =
      addEv(k) = (ts.getOrElse(0L), seq.orElse(ts).getOrElse(0L)) ::
        addEv.getOrElse(k, Nil)
    def retireEvent(k: (String, Long), ts: Long, seq: Option[Long],
        cdata: Option[String]): Unit = {
      val eff = seq.getOrElse(ts)
      retireEv(k) = (ts, eff) :: retireEv.getOrElse(k, Nil)
      if (bestRetire.get(k).forall { case (bts, bseq, _) =>
          eff >= bseq.getOrElse(bts) })
        // a later retire with no change data must not DROP an earlier
        // one's reference — it keeps that _changes partition alive
        // through vacuum and replayable in the feed
        bestRetire(k) = (ts, seq,
          cdata.orElse(bestRetire.get(k).flatMap(_._3)))
    }
    def parsePairs(s: String): Seq[(String, Long)] =
      s.split(";").toSeq.filter(_.nonEmpty).map { e =>
        val i = e.lastIndexOf(',')
        (unesc(e.substring(0, i)), e.substring(i + 1).toLong)
      }
    // "r,b[\t<stats>[\t<schema>[\t<ts>[\t<retireTs>[\t<fstats>
    // [\t<seq>[\t<retireSeq>[\t<cdata>[\t<retiredCdata>]]]]]]]]]" —
    // the folded per-batch form shared by snapshot lines and txn add=
    // lines; returns the parsed key so txn parsing can attach
    // txn-level fields
    def parseFolded(line: String): (String, Long) = {
      val parts = line.split("\t", -1)
      val Array(r, b) = parts(0).split(",", 2)
      val key = (r, b.toLong)
      entries += key
      def f(i: Int): Option[String] =
        if (parts.length > i && parts(i).nonEmpty) Some(parts(i)) else None
      val stats = f(1).map(decodeStats).getOrElse(Seq.empty)
      val schema = f(2).map(decodeSchema).getOrElse(Seq.empty)
      val ts = f(3).flatMap(_.toLongOption)
      val fstats = f(5).map(decodeFileStats).getOrElse(Seq.empty)
      val seqOpt = f(6).flatMap(_.toLongOption)
      val cdataOpt = f(8).map(unesc)
      if (stats.nonEmpty || schema.nonEmpty || ts.nonEmpty ||
          fstats.nonEmpty || seqOpt.nonEmpty || cdataOpt.nonEmpty)
        putMeta(key, BatchMeta(stats, schema, ts, fstats, seqOpt, cdataOpt))
      addEvent(key, ts, seqOpt)
      f(4).flatMap(_.toLongOption).foreach { rts =>
        retireEvent(key, rts, f(7).flatMap(_.toLongOption), f(9).map(unesc))
      }
      key
    }
    files.foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith("txn-") || n.startsWith("restore-")) &&
          n.endsWith(".commit")) {
        // transaction marker: several partitions become visible (and
        // several retire) in the ONE atomic rename that created this
        // file — the multi-batch commit an upsert/merge needs. A
        // txn-level seq/cdata line attaches to every add of the txn
        // (and the seq to its retires). A RESTORE marker is the same
        // shape plus a `restore=<targetSeq>` line (and optionally
        // `cancels=` naming undone tombstone files); it survives
        // compaction as its own file, like tombstones.
        var ts = 0L
        var seqOpt = Option.empty[Long]
        var cdataOpt = Option.empty[String]
        var retires = Seq.empty[(String, Long)]
        var target = Option.empty[Long]
        var cancels = Seq.empty[String]
        val added = Seq.newBuilder[(String, Long)]
        readText(st.getPath).linesIterator.foreach { l =>
          if (l.startsWith("add=")) added += parseFolded(l.stripPrefix("add="))
          else if (l.startsWith("ts=")) ts = l.stripPrefix("ts=").toLongOption.getOrElse(0L)
          else if (l.startsWith("seq=")) seqOpt = l.stripPrefix("seq=").toLongOption
          else if (l.startsWith("cdata=")) cdataOpt = Some(unesc(l.stripPrefix("cdata=")))
          else if (l.startsWith("restore=")) target = l.stripPrefix("restore=").toLongOption
          else if (l.startsWith("cancels=")) cancels = l.stripPrefix("cancels=")
            .split(";").toSeq.filter(_.nonEmpty).map(unesc)
          else if (l.startsWith("retires=")) retires =
            parsePairs(l.stripPrefix("retires="))
        }
        val addedKeys = added.result()
        if (seqOpt.nonEmpty || cdataOpt.nonEmpty) addedKeys.foreach { k =>
          putMeta(k, BatchMeta(Seq.empty, Seq.empty, Some(ts).filter(_ > 0),
            Seq.empty, seqOpt, cdataOpt))
          // the txn-level seq IS this add's event sequence
          seqOpt.foreach { s =>
            addEv(k) = addEv(k) match {
              case (t0, _) :: tail => (t0, s) :: tail
              case other => other
            }
          }
        }
        retires.foreach(k => retireEvent(k, ts, seqOpt, cdataOpt))
        target.foreach(tg => restoresB +=
          Restore(tg, ts, seqOpt.getOrElse(ts), addedKeys, retires, cancels))
      } else if (n.endsWith(".commit")) {
        val key = parseKey(n.stripSuffix(".commit"))
        entries += key
        var stats = Seq.empty[ColStats]
        var schema = Seq.empty[(String, String)]
        var ts = Option.empty[Long]
        var seqOpt = Option.empty[Long]
        var fstats = Seq.empty[(String, Seq[ColStats])]
        var retires = Seq.empty[(String, Long)]
        readText(st.getPath).linesIterator.foreach { l =>
          if (l.startsWith("stats=")) stats = decodeStats(l.stripPrefix("stats="))
          else if (l.startsWith("schema=")) schema = decodeSchema(l.stripPrefix("schema="))
          else if (l.startsWith("ts=")) ts = l.stripPrefix("ts=").toLongOption
          else if (l.startsWith("seq=")) seqOpt = l.stripPrefix("seq=").toLongOption
          else if (l.startsWith("fstats=")) fstats = decodeFileStats(l.stripPrefix("fstats="))
          else if (l.startsWith("retires=")) retires =
            parsePairs(l.stripPrefix("retires="))
        }
        if (stats.nonEmpty || schema.nonEmpty || ts.nonEmpty ||
            fstats.nonEmpty || seqOpt.nonEmpty)
          putMeta(key, BatchMeta(stats, schema, ts, fstats, seqOpt))
        addEvent(key, ts, seqOpt)
        retires.foreach(k => retireEvent(k, ts.getOrElse(0L), seqOpt, None))
      } else if (n.endsWith(".snapshot")) {
        // snapshot line: the folded per-batch form (earlier fields may
        // be empty when a later one rides; field 5 present ⇔ THIS
        // batch was retired by a compactDeletes/upsert rewrite)
        readText(st.getPath).linesIterator.filter(_.nonEmpty).foreach(parseFolded)
      } else if (n.endsWith(".tombstone")) {
        var ts = 0L; var colN = ""; var typ = ""; var kind = ""
        var seqOpt = Option.empty[Long]
        var vals = Seq.empty[String]; var applies = Seq.empty[(String, Long)]
        readText(st.getPath).linesIterator.foreach { l =>
          if (l.startsWith("ts=")) ts = l.stripPrefix("ts=").toLongOption.getOrElse(0L)
          else if (l.startsWith("col=")) colN = unesc(l.stripPrefix("col="))
          else if (l.startsWith("typ=")) typ = unesc(l.stripPrefix("typ="))
          else if (l.startsWith("kind=")) kind = l.stripPrefix("kind=")
          else if (l.startsWith("seq=")) seqOpt = l.stripPrefix("seq=").toLongOption
          else if (l.startsWith("vals=")) vals =
            l.stripPrefix("vals=").split(";", -1).toSeq.filter(_.nonEmpty).map(unesc)
          else if (l.startsWith("applies=")) applies =
            parsePairs(l.stripPrefix("applies="))
        }
        if (colN.nonEmpty && kind.nonEmpty)
          tombsRaw += n -> Tombstone(ts, colN, typ, kind, vals, applies,
            seqOpt, src = Some(n))
      }
    }
    val restores = restoresB.result().sortBy(r => (r.seq, r.ts))
    // a restore names the tombstone FILES it cancelled (file names are
    // stable identities — tombstones are never folded); the earliest
    // cancelling restore sets the cancel point
    val cancelBy: Map[String, Restore] =
      restores.flatMap(r => r.cancels.map(_ -> r))
        .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_.seq)).toMap
    val tombs = tombsRaw.result().map { case (fname, t) =>
      cancelBy.get(fname) match {
        case Some(r) => t.copy(cancelTs = Some(r.ts), cancelSeq = Some(r.seq))
        case None => t
      }
    }
    // tombstone order leads with the monotonic effective seq: under
    // the single-writer discipline for mutations, a NEW delete always
    // sorts after every existing one (its seq exceeds all recorded
    // effective seqs), so a count into this order — the streaming
    // change feed's offset — is PREFIX-STABLE under appends (cancelled
    // tombstones KEEP their slot for the same reason — they are marked,
    // never removed). Legacy same-ts tombstones keep the old
    // deterministic tiebreak.
    LogState(entries.result().distinct.sorted,
      bestRetire.view.mapValues(_._1).toMap,
      meta.toMap,
      tombs.sortBy(t =>
        (t.seq.getOrElse(t.ts), t.ts, t.col, t.kind, t.vals.mkString(","))),
      bestRetire.collect { case (k, (_, Some(s), _)) => k -> s }.toMap,
      bestRetire.collect { case (k, (_, _, Some(d))) => k -> d }.toMap,
      addEv.view.mapValues(_.reverse: Seq[(Long, Long)]).toMap,
      retireEv.view.mapValues(_.reverse: Seq[(Long, Long)]).toMap,
      restores)
  }

  /** Per-batch stats from the log. Batches committed without stats
    * are simply absent (readers treat them as unprunable). */
  def batchStats(spark: SparkSession,
      table: String): Map[(String, Long), Seq[ColStats]] =
    logState(spark, table).meta.collect {
      case (k, m) if m.stats.nonEmpty => k -> m.stats }

  /** Per-batch schema fingerprints from the log. Batches committed by
    * pre-schema writers are absent (readers infer their schema). */
  def batchSchemas(spark: SparkSession,
      table: String): Map[(String, Long), Seq[(String, String)]] =
    logState(spark, table).meta.collect {
      case (k, m) if m.schema.nonEmpty => k -> m.schema }

  /** Per-batch commit timestamps (wall millis) from the log. Batches
    * committed by pre-timestamp writers are absent. */
  def batchTimestamps(spark: SparkSession,
      table: String): Map[(String, Long), Long] =
    logState(spark, table).meta.collect {
      case (k, m) if m.ts.nonEmpty => k -> m.ts.get }

  /** TIME-TRAVEL read: exactly the batches whose recorded commit
    * timestamp is ≤ `tsMillis` — "the table as a reader at time T saw
    * it" (modulo commit-vs-wall-clock skew, which is what the
    * timestamps record). Batches without a recorded timestamp
    * (pre-timestamp writers) are conservatively INCLUDED — they
    * predate the feature, hence any queryable T. Batches RETIRED by a
    * later [[compactDeletes]] rewrite are included while their
    * retirement postdates T (pre-delete history stays readable until
    * [[vacuum]] reclaims the superseded dirs), and tombstones apply
    * only when their delete predates T — an as-of-T read before a
    * delete sees the deleted rows. Committed batches never mutate and
    * the marker set is append-only, so an as-of-time read is
    * reproducible until vacuum. */
  def readCommittedAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Option[DataFrame] = {
    val st = logState(spark, table)
    val committed = st.committedAsOf(tsMillis)
    if (committed.isEmpty) None
    else Some(readBatchSet(spark, table, committed, st,
      tombstoneAsOf = Some(tsMillis)))
  }

  /** The live committed (run_id, batch_id) set, from the log:
    * snapshot files (from [[compactLog]]) contribute their folded
    * entries; batches retired by [[compactDeletes]] are excluded. */
  def committedBatches(spark: SparkSession, table: String): Seq[(String, Long)] =
    logState(spark, table).committed

  /** Schema-aware committed read (r15 evolution support): batches
    * whose marker-recorded schemas differ are read per schema-group
    * and unioned BY NAME — a column added in later batches reads NULL
    * for the batches predating it, and widening-only type drift
    * (tinyint→…→bigint, float→double) casts up to the widest recorded
    * type. Incompatible drift (same column, types no widening chain
    * joins) fails LOUDLY naming the column — never a silent
    * mis-union. Batches without a recorded schema (pre-r15 writers)
    * form one inferred-schema group, validated against the target the
    * same way. All reconciliation happens on MARKER METADATA — the
    * single-schema fast path (and any pre-schema table) is exactly
    * one parquet read, no footer merging ever. */
  private[sources] def readBatchSet(spark: SparkSession, table: String,
      committed: Seq[(String, Long)], st: LogState,
      tombstoneAsOf: Option[Long] = None): DataFrame =
    applyTombstones(rawBatchSet(spark, table, committed, st),
      committed, st, tombstoneAsOf)

  /** [[readBatchSet]] WITHOUT the tombstone row filter — the DSv2
    * scan path applies deletes itself (or verifies none apply). */
  private[sources] def rawBatchSet(spark: SparkSession, table: String,
      committed: Seq[(String, Long)], st: LogState): DataFrame = {
    def pathsOf(bs: Seq[(String, Long)]) =
      bs.map { case (r, b) => s"$table/run_id=$r/batch_id=$b" }
    val schemas = st.meta.collect {
      case (k, m) if m.schema.nonEmpty => k -> m.schema }
    val groups = committed.groupBy(schemas.get).toSeq.sortBy(_._2.head)
    if (groups.size <= 1)
      return spark.read.option("basePath", table).parquet(pathsOf(committed): _*)
    // target: per column name, the widest recorded type (declaration
    // order = first group that declared the column)
    val target = scala.collection.mutable.LinkedHashMap.empty[String, String]
    groups.foreach { case (sch, bs) =>
      sch.toSeq.flatten.foreach { case (n, t) =>
        target.get(n) match {
          case None => target(n) = t
          case Some(prev) => widen(prev, t) match {
            case Some(w) => target(n) = w
            case None => sys.error(
              s"commit-log schema drift on column '$n' of $table is not " +
                s"widening-only: '$prev' vs '$t' (batch ${bs.head}) — " +
                "rewrite or fork the table")
          }
        }
      }
    }
    groups.map { case (_, bs) =>
      var df = spark.read.option("basePath", table).parquet(pathsOf(bs): _*)
      target.foreach { case (n, t) =>
        if (df.columns.contains(n)) {
          val actual = df.schema(n).dataType.sql
          if (actual != t) {
            // the actual file type must itself widen INTO the target —
            // covers unrecorded-schema groups whose physical type
            // conflicts (a silent cast would null-coerce garbage)
            if (!widen(actual, t).contains(t)) sys.error(
              s"commit-log schema drift on column '$n' of $table is not " +
                s"widening-only: file type '$actual' vs recorded target " +
                s"'$t' (batches ${bs.take(3)}) — rewrite or fork the table")
            df = df.withColumn(n, col(n).cast(t))
          }
        }
      }
      df
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read exactly the committed partitions. Returns None when the log
    * is empty (a table with no committed data has no schema to offer —
    * callers decide whether that is empty-ok or an error). */
  def readCommitted(spark: SparkSession, table: String): Option[DataFrame] = {
    val st = logState(spark, table)
    val committed = st.committed
    if (committed.isEmpty) None
    else Some(readBatchSet(spark, table, committed, st))
  }

  /** Snapshot-pinned read: exactly the batches with
    * `batch_id <= maxBatchId` (per run), regardless of what commits
    * later — the reproducibility contract a training run needs ("run
    * X read batches ≤ N" stays replayable, because committed batches
    * are immutable and the marker set is append-only). Row-level
    * DELETES do apply here (all of them, not as-of anything): a
    * batch-pinned read is a reproducibility pin, not an audit-history
    * pin, and a GDPR-delete must reach every future read — use
    * [[readCommittedAsOfTimestamp]] for pre-delete history. Returns
    * None when nothing qualifies. */
  def readCommittedAsOf(spark: SparkSession, table: String,
      maxBatchId: Long): Option[DataFrame] = {
    val st = logState(spark, table)
    val committed = st.committed.filter(_._2 <= maxBatchId)
    if (committed.isEmpty) None
    else Some(readBatchSet(spark, table, committed, st))
  }

  /** Range read with BATCH PRUNING: only batches whose recorded
    * [min, max] for `column` intersects [lo, hi] are listed or opened
    * — at 100 TB the difference between touching every batch
    * directory and touching the handful a time/id predicate selects.
    * Batches without stats for the column (older writers, stats
    * dropped by pre-stats snapshots) are conservatively read. The
    * residual `BETWEEN` filter still applies — pruning is an
    * optimization, never a semantics change. Numeric stats compare as
    * exact decimals (a double round of a long stat above 2^53 could
    * wrongly prune a boundary-touching batch — silent loss the
    * residual filter cannot recover); string stats compare in
    * UTF8String (UTF-8 byte / code-point) order, matching the order
    * the residual Spark filter itself uses — Java String order is
    * UTF-16 code-unit order, which disagrees for strings mixing
    * supplementary characters with U+E000..U+FFFF. */
  def readCommittedRange(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any): Option[DataFrame] = {
    val st = logState(spark, table)
    val committed = st.committed
    if (committed.isEmpty) return None
    val stats = st.meta.collect {
      case (k, m) if m.stats.nonEmpty => k -> m.stats }
    val surviving = committed.filter { key =>
      stats.get(key).flatMap(_.find(_.col == column)) match {
        case Some(s) =>
          statsMayMatch(s, Some(lo.toString), Some(hi.toString))
        case None => true // no stats recorded → cannot prune
      }
    }
    if (surviving.isEmpty) {
      // schema still needed — and it must be the EVOLVED span schema
      // (a single partition could predate an added column), so build
      // from the full committed set; lit(false) means no data reads
      return Some(readBatchSet(spark, table, committed, st)
        .where(col(column).between(lit(lo), lit(hi)) && lit(false)))
    }
    Some(readBatchSet(spark, table, surviving, st)
      .where(col(column).between(lit(lo), lit(hi))))
  }

  /** One column's conjunct-derived constraint for DML source pruning:
    * a point set (`col = v` / `col IN (...)`) or a half/fully bounded
    * range (`>=`/`<=`/BETWEEN conjuncts). Values are EXTERNAL
    * (String/boxed numeric/Decimal) so [[probePrunable]] can judge
    * float-render exactness against the recorded column type. */
  private[sources] final case class ColBound(col: String,
      points: Option[Seq[Any]], lo: Option[Any], hi: Option[Any])

  /** The committed batches a conjunction of [[ColBound]]s cannot rule
    * out by recorded per-batch stats — the directory-level skip a SQL
    * UPDATE/DELETE self-source scan applies before listing anything
    * (r19, the same skip [[readCommittedRange]] gives library reads).
    * Batches without stats for a constrained column, unrenderable
    * probe values, and columns with no extractable bound all degrade
    * to UNPRUNABLE — the residual WHERE always applies, so pruning is
    * an optimization, never a semantics change. */
  private[sources] def prunedCommitted(st: LogState,
      bounds: Seq[ColBound]): Seq[(String, Long)] =
    st.committed.filter { key =>
      val m = st.meta.get(key)
      bounds.forall { b =>
        m.flatMap(_.stats.find(_.col == b.col)) match {
          case None => true // no stats recorded → cannot prune
          case Some(s) =>
            def recTyp = m.flatMap(_.schema.find(_._1 == b.col)).map(_._2)
            def ok(v: Any) = probePrunable(v, recTyp) && familyMatches(v, s.typ)
            b.points match {
              case Some(ps) => ps.exists(p => p == null || !ok(p) ||
                statsMayMatch(s, Some(p.toString), Some(p.toString)))
              case None =>
                val loS = b.lo.filter(v => v != null && ok(v)).map(_.toString)
                val hiS = b.hi.filter(v => v != null && ok(v)).map(_.toString)
                statsMayMatch(s, loS, hiS)
            }
        }
      }
    }

  /** Is a probe value's TYPE FAMILY the one the recorded stats compare
    * in? A cross-family predicate (`WHERE strcol = 5`) is pruned in
    * the wrong order: the stats of a string column compare in UTF8
    * order, but Spark's residual predicate coerces BOTH sides
    * numerically — a batch whose stats span "01".."04" holds "05"
    * rows the numeric probe 5 matches, yet "5" > "04" lexicographically
    * would prune the batch, and because the batch is then never READ,
    * the residual can never recover the skipped rows (a silent DML
    * no-op on rows the user asked to change). Mismatched families
    * degrade to UNPRUNABLE — the same posture as [[probePrunable]]'s
    * float guard. */
  private def familyMatches(p: Any, statsTyp: String): Boolean = p match {
    case _: String => statsTyp != "num"
    case _: java.lang.Number => statsTyp == "num" // incl. BigDecimal
    case _: org.apache.spark.sql.types.Decimal => statsTyp == "num"
    case _ => false // unknown family → never prune on it
  }

  /** Is rendered-decimal stats pruning EXACT for probe value `k`
    * against a batch whose recorded key-column type is
    * `recordedTyp`? Floating-point values render lossily across the
    * float→double widening the read path applies: a FLOAT batch's
    * stats record "0.1" while the same value widened to DOUBLE in the
    * probe frame renders "0.10000000149011612" — comparing the two as
    * exact decimals would wrongly prune the batch, and the residual
    * anti-join (which compares in Spark's widened-cast semantics)
    * would then leave the stale key copy live. Any float/double probe
    * whose runtime type is not exactly the batch's recorded type —
    * including an unrecorded schema — degrades to UNPRUNABLE: extra
    * rewrites, never a doubled key. Integral/string/decimal probes
    * render exactly at any recorded width. */
  private def probePrunable(k: Any, recordedTyp: Option[String]): Boolean =
    k match {
      case _: java.lang.Float => recordedTyp.contains("FLOAT")
      case _: java.lang.Double => recordedTyp.contains("DOUBLE")
      case _ => true
    }

  /** Could a batch whose recorded [min, max] is `s` hold a value in
    * [lo, hi] (None = unbounded side)? The shared pruning predicate —
    * readCommittedRange's BETWEEN and the DSv2 scan's pushed filters
    * both reduce to it. Numeric stats compare as exact decimals (a
    * double round of a long stat above 2^53 could wrongly prune a
    * boundary-touching batch); non-finite renderings ('NaN',
    * 'Infinity') and non-numeric probe values degrade to UNPRUNABLE —
    * pruning is an optimization, never a semantics change, and the
    * residual filter always applies. String stats compare in
    * UTF8String (code-point) order, matching the residual Spark
    * filter itself — Java String order is UTF-16 code-unit order,
    * which disagrees for strings mixing supplementary characters with
    * U+E000..U+FFFF. */
  private[sources] def statsMayMatch(s: ColStats, lo: Option[String],
      hi: Option[String]): Boolean = {
    def utf8(x: String) = UTF8String.fromString(x)
    if (s.typ == "num")
      try {
        val (mn, mx) = (new JBigDecimal(s.min), new JBigDecimal(s.max))
        lo.forall(l => mx.compareTo(new JBigDecimal(l)) >= 0) &&
          hi.forall(h => mn.compareTo(new JBigDecimal(h)) <= 0)
      } catch { case _: NumberFormatException => true }
    else
      lo.forall(l => utf8(s.max).compareTo(utf8(l)) >= 0) &&
        hi.forall(h => utf8(s.min).compareTo(utf8(h)) <= 0)
  }

  /** Fold all individual commit markers into one `.snapshot` file —
    * bounds log-listing cost when #batches grows large. The snapshot
    * is written atomically FIRST, then the folded markers removed;
    * a crash between the two leaves duplicate entries, which
    * [[committedBatches]] dedupes. */
  def compactLog(spark: SparkSession, table: String): Unit = {
    val (hfs, dir) = fs(spark, commitsDir(table))
    if (!hfs.exists(dir)) return
    // ONE listing drives both the fold and the cleanup: the snapshot
    // folds exactly these files and only these files are deleted. A
    // marker committed by a concurrent writer AFTER this listing is
    // neither folded nor deleted — it stays visible as a live marker
    // until the next compaction (the earlier read-then-relist shape
    // could delete such a marker without folding it, permanently
    // hiding a committed batch).
    val olds = hfs.listStatus(dir).toSeq
      .filter(s => (s.getPath.getName.endsWith(".commit") &&
        !s.getPath.getName.startsWith("restore-")) ||
        s.getPath.getName.endsWith(".snapshot"))
    // tombstones and RESTORE markers are NOT folded: they stay as
    // individual files (rare — one per delete / one per restore), so
    // tombstone-file identities stay resolvable for `cancels=` lines
    // and a restore's re-add/cancel semantics survive any compaction
    // order (the folded snapshot encodes the pre-restore facts; the
    // restore marker reapplies on every decode)
    val st = logStateOf(hfs, olds)
    val committed = st.entries
    if (committed.isEmpty) return
    // stats, schemas, timestamps AND retire marks survive compaction:
    // folded as tab-suffixed snapshot fields — "r,b[\t<stats>
    // [\t<schema>[\t<ts>[\t<retireTs>]]]]", earlier fields kept empty
    // when a later one rides (decoded from exactly the `olds` listing
    // — ONE pass, no relist)
    val body = committed.map { case (r, b) =>
      val m = st.meta.get((r, b))
      val fields = Seq(
        m.map(_.stats).filter(_.nonEmpty).map(encodeStats),
        m.map(_.schema).filter(_.nonEmpty).map(encodeSchema),
        m.flatMap(_.ts).map(_.toString),
        st.retired.get((r, b)).map(_.toString),
        m.map(_.fileStats).filter(_.nonEmpty).map(encodeFileStats),
        m.flatMap(_.seq).map(_.toString),
        st.retiredSeq.get((r, b)).map(_.toString),
        m.flatMap(_.cdata).map(esc),
        st.retiredCdata.get((r, b)).map(esc))
      val upto = fields.lastIndexWhere(_.isDefined)
      if (upto < 0) s"$r,$b"
      else s"$r,$b\t" +
        fields.take(upto + 1).map(_.getOrElse("")).mkString("\t")
    }.mkString("\n")
    val name = f"snap-${committed.length}%010d-${java.lang.System.nanoTime()}%020d.snapshot"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = hfs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val snap = new org.apache.hadoop.fs.Path(dir, name)
    if (!CommitArbiter.get.publish(hfs, tmp, snap)) { hfs.delete(tmp, false); sys.error(s"snapshot rename failed: $snap") }
    olds.foreach(s => hfs.delete(s.getPath, false))
  }

  /** Delete data partitions that were never committed (crashed
    * writers) or were RETIRED by [[compactDeletes]]. Uncommitted
    * dirs — also what an in-flight writer's partition looks like —
    * are removed only when older than `graceMs` by mtime; retired
    * dirs only when the RETIREMENT is older than `graceMs` (their
    * mtime is the original write, which would reclaim a
    * just-superseded batch instantly and break pre-delete time
    * travel before the grace window). Reclaiming a retired dir ends
    * time travel into its era — the Delta/Iceberg vacuum contract. */
  def vacuum(spark: SparkSession, table: String, graceMs: Long = 24L * 3600 * 1000): Unit = {
    val st = logState(spark, table)
    val committed = st.committed.toSet
    val (hfs, root) = fs(spark, table)
    if (!hfs.exists(root)) return
    val now = java.lang.System.currentTimeMillis()
    for {
      runDir <- hfs.listStatus(root).toSeq
      if runDir.isDirectory && runDir.getPath.getName.startsWith("run_id=")
      runId = runDir.getPath.getName.stripPrefix("run_id=")
      batchDir <- hfs.listStatus(runDir.getPath).toSeq
      if batchDir.isDirectory && batchDir.getPath.getName.startsWith("batch_id=")
      batchId = batchDir.getPath.getName.stripPrefix("batch_id=").toLong
      if !committed.contains((runId, batchId))
      if (st.retired.get((runId, batchId)) match {
        case Some(retireTs) => now - retireTs > graceMs
        case None => now - batchDir.getModificationTime > graceMs
      })
    } hfs.delete(batchDir.getPath, true)
    // orphaned write-time change partitions (a merge that crashed
    // between its `_changes` write and the marker rename — never
    // referenced by any marker, structurally invisible) age out by
    // mtime; REFERENCED change partitions are kept — they are the
    // O(changed rows) record CDC consumers replay history from, and
    // unlike retired batch dirs they do not grow with table size
    val changesRoot = new org.apache.hadoop.fs.Path(s"$table/_changes")
    if (hfs.exists(changesRoot)) {
      // BOTH reference forms keep a partition alive: add-side (txn
      // entries' cdata) and retire-side (retiredCdata) — a pure-delete
      // merge that fully consumes its batches lands NO add entry, so
      // its change partition is referenced only from the retires;
      // reclaiming it would break CDC replay of that era (the same
      // era whose original directories this vacuum just reclaimed)
      val referenced = (st.meta.valuesIterator.flatMap(_.cdata) ++
        st.retiredCdata.valuesIterator).toSet
      hfs.listStatus(changesRoot).foreach { d =>
        if (d.isDirectory && !referenced.contains(d.getPath.getName) &&
            now - d.getModificationTime > graceMs)
          hfs.delete(d.getPath, true)
      }
    }
  }

  // ---- CHANGE FEED (r16): the incremental read over the log ---- //

  /** Does `runId` name a copy-on-write rewrite, and of what kind?
    * Rewrite runs are minted as `<origRun>rw<8hex>` (compactDeletes)
    * or `<origRun>up<8hex>` (upsert); the original must actually be a
    * log entry — a user run that merely ends in the pattern is not a
    * rewrite. */
  private[sources] def rewriteOf(st: LogState, runId: String,
      batchId: Long): Option[(String, String)] = {
    val m = """^(.*)(rw|up)([0-9a-f]{8})$""".r
    runId match {
      case m(orig, kind, _) if st.entrySet((orig, batchId)) =>
        Some((orig, kind))
      case _ => None
    }
  }

  /** CHANGE FEED: every row-level change the log records in
    * `(sinceTs, untilTs]`, as (change_type, change_ts, data columns) —
    * the incremental read a downstream pipeline consumes instead of
    * re-reading the table (Delta's change-data-feed rung, derived
    * here entirely from the log's own markers — nothing extra is
    * written on the hot path):
    *
    *   - `insert`: rows of batches COMMITTED in-window (plain appends
    *     and upserts' new batches; an upserted key's update arrives as
    *     delete + insert). Copy-on-write rewrites are NOT inserts —
    *     their rows are carried-over copies.
    *   - `delete`: rows matched by tombstones RECORDED in-window
    *     (emitted at the tombstone's time — the later compactDeletes
    *     rewrite is the physical application of an already-reported
    *     change and emits nothing), plus rows an UPSERT rewrite
    *     dropped relative to its retired original (the matched old
    *     copies).
    *
    * The feed needs the in-window originals still on disk: once
    * [[vacuum]] reclaims a retired dir inside the asked window the
    * history is gone and this fails LOUDLY rather than emit a partial
    * feed — size vacuum grace to the longest consumer lag, the
    * Delta/Iceberg contract. Returns None when the window holds no
    * changes. */
  def readChangeFeed(spark: SparkSession, table: String, sinceTs: Long,
      untilTs: Long = Long.MaxValue): Option[DataFrame] = {
    val st = logState(spark, table)
    def inWindow(t: Long) = t > sinceTs && t <= untilTs
    val (hfs, _) = fs(spark, table)
    def requireDir(r: String, b: Long, why: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$table/run_id=$r/batch_id=$b")
      if (!hfs.exists(p)) sys.error(
        s"change feed needs ($r, $b) for $why, but its directory was " +
          "vacuumed — history before the vacuum grace window is gone")
    }
    val parts = Seq.newBuilder[DataFrame]

    // inserts: in-window ADD EVENTS (read raw even if since retired —
    // an upsert later in the window retires them, but their arrival
    // was still an insert event). A batch's FIRST add is an insert
    // only when it is not a copy-on-write rewrite (carried copies);
    // LATER adds are [[restoreTo]] re-adds and always insert — even a
    // re-added rewrite's rows came back at the restore. All events
    // read as ONE multi-dir frame (rawBatchSet reconciles lineages)
    // with per-event (ts, seq) attached by a broadcast mapping — a
    // wide window over a long table must not build a union plan with
    // one scan node per batch (r18, matching the streaming feed).
    val insertEvents = st.entries.flatMap { k =>
      val evs = st.addEv.getOrElse(k,
          Seq((st.meta.get(k).flatMap(_.ts).getOrElse(0L), st.entrySeq(k))))
        .sortBy(e => (e._2, e._1))
      evs.zipWithIndex.collect {
        case ((t, s), i) if inWindow(t) &&
            (i > 0 || rewriteOf(st, k._1, k._2).isEmpty) => (k, t, s)
      }
    }
    if (insertEvents.nonEmpty) {
      insertEvents.map(_._1).distinct.foreach { case (r, b) =>
        requireDir(r, b, "an in-window insert") }
      parts += insertEventsFrame(spark, table, insertEvents, st)
    }

    // tombstone deletes: the matching rows of each in-window delete —
    // of what was VISIBLE at delete time (earlier tombstones shadow,
    // so a row deleted twice is reported once, at its first delete).
    // ONE frame for every in-window tombstone (r20): the per-tombstone
    // DataFrame union made a long-window bootstrap's PLAN
    // O(tombstones-in-window) nodes.
    tombstoneDeleteFrame(spark, table, st,
      i => inWindow(st.tombstones(i).ts), requireDir).foreach(parts += _)

    // full-consumption deletes (an original retired with NO surviving
    // rewrite — fully-consumed merges; truncates) and upsert deletes
    // (the matched old copies): one assembler for both. FAST PATH
    // (r19): merges persist their delete pre-images as write-time
    // change files — read O(changed rows) from `_changes/`, and (r20)
    // as ONE multi-dir scan per schema lineage joined to a broadcast
    // (partition, original) → (ts, seq) mapping, so a long-window
    // bootstrap's plan stays flat in transaction count. Legacy
    // rewrites (no cdata recorded, or cdata vacuumed away with its
    // era) keep the per-original reconstruction.
    // classify every entry ONCE (rewrite-of relation inverted to a
    // set): the per-retire scan of all entries was O(history²) driver
    // work on a bootstrap window. A retire EVENT pairs with a rewrite
    // when the rewrite's add carries the same sequence (they committed
    // in one transaction) — paired retires are upsert deletes /
    // carried copies, unpaired ones full-batch deletes. Per-EVENT so a
    // batch retired, restored, and retired again reports BOTH deletes.
    val rewrites = st.entries.flatMap { case (r, b) =>
      rewriteOf(st, r, b).map { case (orig, kind) => ((r, b), (orig, b), kind) } }
    val pairedRetires: Set[((String, Long), Long)] =
      rewrites.iterator.flatMap { case (entry, orig, _) =>
        st.addEv.getOrElse(entry, Nil).map(e => (orig, e._2)) }.toSet
    parts ++= deleteEventFrames(spark, table, st,
      st.retireEv.toSeq.sortBy(_._1).flatMap { case (k, evs) =>
        evs.collect { case (t, s)
            if inWindow(t) && !pairedRetires((k, s)) => (k, t, s) }
      },
      rewrites.flatMap { case (entry, orig, kind) =>
        if (kind != "up") None
        else {
          val entrySeq0 = st.addEv.getOrElse(entry, Nil).map(_._2)
            .minOption.getOrElse(st.entrySeq(entry))
          st.retireEv.getOrElse(orig, Nil).find(_._2 == entrySeq0)
            .collect { case (t, s) if inWindow(t) => (entry, orig, t, s) }
        }
      },
      requireDir)

    // restore resurrections: rows a CANCELLED delete had removed from
    // batches that stayed live through the restore become visible
    // again — inserts at the restore's (ts, seq). Re-added batches
    // emit their own full insert events; restore-retired ones their
    // own full-batch deletes.
    st.restores.filter(r => inWindow(r.ts) && r.cancels.nonEmpty)
      .foreach(r =>
        resurrectionFrame(spark, table, st, r, requireDir)
          .foreach(parts += _))

    val all = parts.result()
    if (all.isEmpty) None
    else Some(all.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The insert change events of `events` — (batch, change_ts,
    * _change_seq) triples, possibly SEVERAL per batch (a batch
    * re-added by a [[restoreTo]] was inserted twice, at its original
    * commit and at the restore) — as ONE frame: a combined rawBatchSet
    * scan joined to a broadcast event mapping (a key with two events
    * emits its rows twice, once per event — exactly the history).
    * Shared by the batch feed and the streaming feed. */
  private[sources] def insertEventsFrame(spark: SparkSession,
      table: String, events: Seq[((String, Long), Long, Long)],
      st: LogState): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val keys = events.map(_._1).distinct.sorted
    val tsRows = events.map { case ((r, b), t, s) =>
      org.apache.spark.sql.Row(r, b, t, s) }
    val tsSchema = StructType(Seq(
      StructField("__cr", StringType, nullable = false),
      StructField("__cb", LongType, nullable = false),
      StructField("__cts", LongType, nullable = false),
      StructField("__cseq", LongType, nullable = false)))
    val mapping = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(tsRows, 1), tsSchema))
    val raw = rawBatchSet(spark, table, keys, st)
    raw.join(mapping,
        raw("run_id") === mapping("__cr") &&
          raw("batch_id").cast("long") === mapping("__cb"))
      .withColumn("change_type", lit("insert"))
      .withColumn("change_ts", col("__cts"))
      .withColumn("_change_seq", col("__cseq"))
      .drop("run_id", "batch_id", "__cr", "__cb", "__cts", "__cseq")
  }

  /** One (write-time change partition, original) the delete side of a
    * change-feed window needs, with the (ts, seq) its events carry —
    * a retire-side reference (fully-consumed original) or an add-side
    * one (surviving upsert rewrite), unified so the whole window reads
    * as one scan per schema lineage ([[cdataDeleteFrames]]). */
  private[sources] final case class CdataRef(rel: String,
    orig: (String, Long), ts: Long, seq: Long)

  /** The delete change events of `refs` as ONE multi-dir scan per
    * schema lineage (r20): all change partitions of a lineage read in
    * one frame, each row's partition derived from its file path and
    * INNER-joined to a broadcast (partition, original) → (ts, seq)
    * mapping — the join both filters to the asked originals (admission
    * control may deliver a transaction's rewrites across micro-batches)
    * and attaches the event metadata. The r19 shape built one
    * DataFrame per change-partition group and union-reduced them:
    * O(transactions-in-window) plan nodes, a driver-side analyzer bomb
    * on exactly the replica-bootstrap path write-time change data
    * exists to serve (the IO was already O(changed rows); this makes
    * the PLAN O(schema lineages)).
    *
    * Lineage grouping is proved from MARKER metadata, like
    * [[rewriteBatchSet]]'s: a change partition's physical schema is
    * the widened union of its covered originals' recorded schemas
    * (what the merge's `removed` frame was built from), so partitions
    * whose widened unions agree provably share a physical schema
    * (parquet resolves columns by NAME, so column order is free).
    * A partition covering any batch with no recorded schema cannot
    * prove membership and reads as its own singleton group — the
    * legacy per-partition shape, paid only behind pre-schema-marker
    * writers. */
  private def cdataDeleteFrames(spark: SparkSession, table: String,
      st: LogState, refs: Seq[CdataRef]): Seq[DataFrame] = {
    if (refs.isEmpty) return Seq.empty
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // rel → every batch referencing it, inverted ONCE (a per-rel scan
    // of the meta map would be O(window²) driver work on a long
    // bootstrap window — the exact cost class this assembler removes)
    val coveredBy: Map[String, Seq[(String, Long)]] =
      (st.meta.iterator.collect { case (k, m) if m.cdata.nonEmpty =>
        m.cdata.get -> k } ++ st.retiredCdata.iterator.map(_.swap))
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    // rel → the widened (name → type) union of every covered original's
    // recorded schema, name-sorted (order-insensitive fingerprint);
    // None when any covered original predates schema markers
    def lineageOf(rel: String): Option[Seq[(String, String)]] = {
      val origs = coveredBy.getOrElse(rel, Seq.empty)
      val schemas = origs.map(k =>
        st.meta.get(k).map(_.schema).getOrElse(Seq.empty))
      if (origs.isEmpty || schemas.exists(_.isEmpty)) return None
      val target = scala.collection.mutable.LinkedHashMap.empty[String, String]
      schemas.flatten.foreach { case (n, t) =>
        target.get(n) match {
          case None => target(n) = t
          case Some(prev) => widen(prev, t) match {
            case Some(w) => target(n) = w
            case None => return None // unprovable → singleton group
          }
        }
      }
      Some(target.toSeq.sortBy(_._1))
    }
    val groups = refs.groupBy(r => lineageOf(r.rel) match {
      case Some(key) => Left(key)
      case None => Right(r.rel)
    }).toSeq.sortBy(_._2.head.rel)
    groups.map { case (_, members) =>
      val rels = members.map(_.rel).distinct.sorted
      val df = spark.read.parquet(rels.map(r => s"$table/_changes/$r"): _*)
      val mapRows = members.distinct.map(m =>
        org.apache.spark.sql.Row(m.rel, m.orig._1, m.orig._2, m.ts, m.seq))
      val mapSchema = StructType(Seq(
        StructField("__crel", StringType, nullable = false),
        StructField("__cor", StringType, nullable = false),
        StructField("__cob", LongType, nullable = false),
        StructField("__cts", LongType, nullable = false),
        StructField("__cseq", LongType, nullable = false)))
      val mapping = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(mapRows, 1), mapSchema))
      // the partition a row came from is its file's parent directory —
      // no per-partition scan node, one expression
      val withRel = df.withColumn("__crelf",
        element_at(split(input_file_name(), "/"), -2))
      withRel.join(mapping,
          withRel("__crelf") === mapping("__crel") &&
            withRel("__orig_run") === mapping("__cor") &&
            withRel("__orig_batch") === mapping("__cob"))
        .withColumn("change_type", lit("delete"))
        .withColumn("change_ts", col("__cts"))
        .withColumn("_change_seq", col("__cseq"))
        .drop("__orig_run", "__orig_batch", "__crelf",
          "__crel", "__cor", "__cob", "__cts", "__cseq")
    }
  }

  /** The delete change events of a window — full-batch deletes for
    * `retires` (originals retired with NO surviving rewrite:
    * fully-consumed merges; truncates) and upsert deletes (the matched
    * old copies) for the upsert REWRITE entries — as a handful of
    * frames: all write-time change partitions assemble through
    * [[cdataDeleteFrames]] (one scan per schema lineage); retires and
    * rewrites without usable change data (truncates, pre-r19 merges,
    * aged-out partitions) keep the per-original reconstruction from
    * the original's directory. Change-partition existence checks run
    * on the bounded listing pool (one serial metadata RPC per
    * historical rewrite would make a full-history replay's PLANNING
    * linear in rewrite count on an object store). Shared by the batch
    * feed and the streaming feed. */
  private[sources] def deleteEventFrames(spark: SparkSession,
      table: String, st: LogState,
      retires: Seq[((String, Long), Long, Long)],
      upserts: Seq[((String, Long), (String, Long), Long, Long)],
      requireDir: (String, Long, String) => Unit): Seq[DataFrame] = {
    def withMeta(df: DataFrame, t: Long, seq: Long): DataFrame =
      df.withColumn("change_type", lit("delete"))
        .withColumn("change_ts", lit(t)).withColumn("_change_seq", lit(seq))
    def cdataExists(rel: String): Boolean = {
      val (hfs, p) = fs(spark, s"$table/_changes/$rel")
      hfs.exists(p)
    }
    final case class Re(orig: (String, Long), rts: Long, seq: Long,
      cdata: Option[String])
    val res = listParallel(retires.sorted) { case (k, rts, rseq) =>
      // the recorded change-partition reference belongs to the LATEST
      // retire fact; an earlier retire event (pre-restore era) of a
      // re-retired batch reconstructs from the original's directory
      Re(k, rts, rseq,
        st.retiredCdata.get(k).filter(_ => rseq == st.retireSeqOf(k))
          .filter(cdataExists))
    }
    final case class Up(entry: (String, Long), orig: (String, Long),
      rts: Long, seq: Long, cdata: Option[String])
    val ups = listParallel(upserts.sorted) { case (entry, orig, rts, rseq) =>
      Up(entry, orig, rts, rseq,
        st.meta.get(entry).flatMap(_.cdata).filter(cdataExists))
    }
    val refs =
      res.collect { case re if re.cdata.nonEmpty =>
        CdataRef(re.cdata.get, re.orig, re.rts, re.seq) } ++
      ups.collect { case up if up.cdata.nonEmpty =>
        CdataRef(up.cdata.get, up.orig, up.rts, up.seq) }
    val out = Seq.newBuilder[DataFrame]
    out ++= cdataDeleteFrames(spark, table, st, refs)
    res.filter(_.cdata.isEmpty).foreach { re =>
      val (r, b) = re.orig
      requireDir(r, b, "a full-batch delete's pre-image")
      out += withMeta(applyTombstones(
        rawBatchSet(spark, table, Seq(re.orig), st),
        Seq(re.orig), st, tombstoneAsOf = Some(re.rts))
        .drop("run_id", "batch_id"), re.rts, re.seq)
    }
    ups.filter(_.cdata.isEmpty).foreach { up =>
      val (orig, b) = (up.orig._1, up.orig._2)
      requireDir(orig, b, "an upsert's pre-image")
      requireDir(up.entry._1, b, "an upsert rewrite")
      // pre-image = what was visible just before the upsert:
      // tombstone-deleted rows were folded OUT of the rewrite
      // but already reported at their own delete time
      val before = applyTombstones(
        rawBatchSet(spark, table, Seq(up.orig), st),
        Seq(up.orig), st, tombstoneAsOf = Some(up.rts))
        .drop("run_id", "batch_id")
      val after = rawBatchSet(spark, table, Seq(up.entry), st)
        .drop("run_id", "batch_id")
      out += withMeta(before.exceptAll(
        after.select(before.columns.map(col): _*)), up.rts, up.seq)
    }
    out.result()
  }

  /** The tombstone (row-level) delete change events of one window as
    * ONE frame (r20 — the r19 shape built one DataFrame per tombstone
    * and unioned): a single combined scan of every reported
    * tombstone's applies set, each row classified by the FIRST
    * tombstone deleting it — a `coalesce(when…)` cascade over the
    * recorded (seq-led) order, so earlier deletes shadow later ones
    * and a row deleted twice reports once, at its first delete — then
    * INNER-joined to a broadcast (tombstone index) → (ts, seq)
    * mapping, which also drops rows whose first delete is outside the
    * window. `reportIdx` selects which tombstones (by index into
    * [[LogState.tombstones]]) this window reports: a ts-window for the
    * batch feed, an offset slice for the stream. Plan size is
    * O(1) nodes; the cascade is O(#tombstones) EXPRESSIONS inside one
    * projection — tombstones are one file per delete, orders of
    * magnitude rarer than merge transactions. */
  private[sources] def tombstoneDeleteFrame(spark: SparkSession,
      table: String, st: LogState, reportIdx: Int => Boolean,
      requireDir: (String, Long, String) => Unit): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val indexed = st.tombstones.zipWithIndex
    val reported = indexed.filter { case (t, i) =>
      reportIdx(i) && t.applies.nonEmpty }
    if (reported.isEmpty) return None
    reported.foreach { case (t, _) =>
      t.applies.foreach { case (r, b) => requireDir(r, b, "a delete") } }
    val batches = reported.flatMap(_._1.applies).distinct.sorted
    val batchSet = batches.toSet
    val raw = rawBatchSet(spark, table, batches, st)
    // every tombstone touching these batches — including out-of-window
    // ones, which SHADOW (their rows were reported at their own time)
    // but never report; a tombstone on a column absent from this
    // lineage span deletes nothing here
    val relevant = indexed.filter { case (t, _) =>
      t.applies.exists(batchSet) && raw.columns.contains(t.col) }
    if (!relevant.exists { case (_, i) => reportIdx(i) }) return None
    def member(t: Tombstone) =
      concat_ws("-", col("run_id"), col("batch_id"))
        .isin(t.applies.filter(batchSet)
          .map { case (r, b) => s"$r-$b" }: _*)
    val firstIdx = coalesce(relevant.map { case (t, i) =>
      when(member(t) && tombstonePred(t), lit(i)) } :+
      lit(null).cast(IntegerType): _*)
    val mapRows = reported.map { case (t, i) =>
      org.apache.spark.sql.Row(i, t.ts, st.tombSeq(t)) }
    val mapSchema = StructType(Seq(
      StructField("__mti", IntegerType, nullable = false),
      StructField("__mts", LongType, nullable = false),
      StructField("__mseq", LongType, nullable = false)))
    val mapping = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(mapRows, 1), mapSchema))
    val withIdx = raw.withColumn("__ti", firstIdx)
    Some(withIdx.join(mapping, withIdx("__ti") === mapping("__mti"))
      .withColumn("change_type", lit("delete"))
      .withColumn("change_ts", col("__mts"))
      .withColumn("_change_seq", col("__mseq"))
      .drop("run_id", "batch_id", "__ti", "__mti", "__mts", "__mseq"))
  }

  /** The resurrection insert events of one [[restoreTo]]: rows that a
    * tombstone CANCELLED by restore `r` had deleted, in batches that
    * stayed live through the restore (batches the restore re-added or
    * retired emit their own full insert/delete events), minus rows a
    * still-active earlier tombstone keeps deleted — visible again at
    * the restore's (ts, seq). One combined scan; OR-chains over the
    * cancelled / still-active predicates. */
  private def resurrectionFrame(spark: SparkSession, table: String,
      st: LogState, r: Restore,
      requireDir: (String, Long, String) => Unit): Option[DataFrame] = {
    val cancelled = st.tombstones.filter(_.cancelSeq.contains(r.seq))
    if (cancelled.isEmpty) return None
    val excluded = (r.readds ++ r.retires).toSet
    def liveThrough(k: (String, Long)): Boolean = {
      val seen = (st.addEv.getOrElse(k, Seq((0L, 0L))).iterator
          .map(e => (e._2, 0)) ++
        st.retireEv.getOrElse(k, Nil).iterator.map(e => (e._2, 1)))
        .filter(_._1 < r.seq).toSeq
      seen.nonEmpty && seen.max._2 == 0
    }
    val batches = cancelled.flatMap(_.applies).distinct
      .filterNot(excluded).filter(liveThrough).sorted
    if (batches.isEmpty) return None
    batches.foreach { case (rr, b) =>
      requireDir(rr, b, "a restore's resurrected rows") }
    val batchSet = batches.toSet
    val raw = rawBatchSet(spark, table, batches, st)
    def member(t: Tombstone) =
      concat_ws("-", col("run_id"), col("batch_id"))
        .isin(t.applies.filter(batchSet)
          .map { case (rr, b) => s"$rr-$b" }: _*)
    def preds(ts: Seq[Tombstone]) = ts
      .filter(t => t.applies.exists(batchSet) && raw.columns.contains(t.col))
      .map(t => member(t) && tombstonePred(t))
    val wasDeleted = preds(cancelled)
    if (wasDeleted.isEmpty) return None
    val stillDeleted = preds(st.tombstones.filter(t =>
      tombSeqOf(t) < r.seq && t.cancelSeq.forall(_ > r.seq)))
    Some(raw
      .where(wasDeleted.reduce(_ || _) &&
        !stillDeleted.foldLeft(lit(false))(_ || _))
      .drop("run_id", "batch_id")
      .withColumn("change_type", lit("insert"))
      .withColumn("change_ts", lit(r.ts))
      .withColumn("_change_seq", lit(r.seq)))
  }

  private def tombSeqOf(t: Tombstone): Long = t.seq.getOrElse(t.ts)

  /** Table HISTORY — Delta's DESCRIBE HISTORY rung, derived entirely
    * from the log state (markers are the audit record; nothing extra
    * is ever written): one row per logged event, newest first —
    * `append` (a plain committed batch), `rewrite` (a compactDeletes/
    * compactFiles copy-on-write), `upsert` (a merge rewrite or its
    * new batch), `delete` (a tombstone, with its predicate), and
    * `retire` (an original superseded by a rewrite, with its
    * retirement time). Events whose markers predate the ts feature
    * report ts 0. SQL face: `graft_commitlog_history('/path')`.
    *
    * Cost posture: like [[logState]], each call decodes the log and
    * builds O(#batches) DRIVER state — the same bound Delta's snapshot
    * carries, kept small in practice by [[compactLog]]'s folds. Call
    * it per maintenance pass / audit query, never per row or inside a
    * hot loop. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val st = logState(spark, table)
    val live = st.committed.toSet
    val rows = Seq.newBuilder[(Long, Long, String, String, java.lang.Long, String)]
    st.entries.foreach { case (r, b) =>
      val ts = st.meta.get((r, b)).flatMap(_.ts).getOrElse(0L)
      val op = rewriteOf(st, r, b) match {
        case Some((orig, "rw")) => s"rewrite of run_id=$orig"
        case Some((orig, "up")) => s"upsert rewrite of run_id=$orig"
        case _ => "append"
      }
      rows += ((ts, st.entrySeq((r, b)), op.takeWhile(_ != ' '), r, Long.box(b),
        (if (live((r, b))) "live" else "retired") +
          (if (op != "append") s"; ${op.dropWhile(_ != ' ').trim}" else "")))
    }
    st.tombstones.foreach { t =>
      rows += ((t.ts, st.tombSeq(t), "delete", "", null,
        s"${t.col} ${t.kind} ${t.vals.mkString(", ")} over " +
          s"${t.applies.size} batch(es)"))
    }
    st.retired.foreach { case ((r, b), ts) =>
      rows += ((ts, st.retireSeqOf((r, b)), "retire", r, Long.box(b),
        "superseded by rewrite"))
    }
    // a RESTORE is its own versioned event: what it rolled back to,
    // and what that took
    st.restores.foreach { r =>
      rows += ((r.ts, r.seq, "restore", "", null,
        s"to seq ${r.target}: ${r.readds.size} batch(es) re-added, " +
          s"${r.retires.size} retired, ${r.cancels.size} delete(s) " +
          "cancelled"))
    }
    import spark.implicits._
    // seq (r19): the monotonic transaction sequence — the total order
    // over the table's mutation history (Delta's version column rung);
    // ts-only legacy facts report their ts
    rows.result()
      .toDF("ts", "seq", "operation", "run_id", "batch_id", "details")
      .orderBy(col("seq").desc, col("ts").desc, col("operation"),
        col("run_id"), col("batch_id"))
  }

  // ---- multi-partition TRANSACTIONS + row-level UPSERT (r16) ---- //

  /** Everything one transaction add carries: the partition key plus
    * the marker metadata a single-batch commit would have recorded. */
  final case class TxnAdd(runId: String, batchId: Long,
      stats: Seq[ColStats] = Seq.empty,
      schema: Seq[(String, String)] = Seq.empty,
      fileStats: Seq[(String, Seq[ColStats])] = Seq.empty)

  /** Commit SEVERAL already-written partitions — and retire others —
    * in ONE atomic marker rename: the multi-batch visibility flip an
    * upsert/merge needs (a rewrite of N batches plus one new batch
    * must become visible together or not at all; N+1 single-batch
    * markers would expose every prefix as a torn intermediate state).
    * Readers decode `add=` lines exactly like snapshot lines, so
    * stats/schema/ts pruning and evolution work unchanged, and
    * [[compactLog]] folds transaction markers like any other. */
  def commitTxn(spark: SparkSession, table: String, adds: Seq[TxnAdd],
      retires: Seq[(String, Long)], ts: Long = -1L,
      seq: Option[Long] = None, cdata: Option[String] = None): Unit = {
    require(adds.nonEmpty || retires.nonEmpty,
      "a transaction must add or retire at least one partition")
    val (hfs, dir) = fs(spark, commitsDir(table))
    hfs.mkdirs(dir)
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    // conflict detection + seq re-mint, re-read as late as possible: a
    // concurrent upsert/compactDeletes that already retired one of our
    // retires means BOTH transactions rewrote the same original —
    // committing ours too would leave two live rewrites and double its
    // rows ([[CommitLogWriteConflict]], typed so OCC retry matches by
    // class). The same re-read bumps a seq another mutation got to
    // first (two mutations planned from the same state would otherwise
    // record EQUAL seqs, degrading the total order to the tiebreak).
    // Failing here narrows the exposure to the re-read→rename window;
    // full serialization needs the documented single-writer discipline
    // for mutating operations.
    val finalSeq =
      if (retires.isEmpty && seq.isEmpty) seq
      else {
        val cur = logState(spark, table)
        checkRetireConflict(cur, table, retires)
        bumpSeq(cur, seq)
      }
    val addLines = addLinesOf(adds, tsv)
    val retiresLine =
      if (retires.isEmpty) ""
      else s"retires=${retires.map { case (r, b) => s"${esc(r)},$b" }.mkString(";")}\n"
    val seqLine = finalSeq.map(s => s"seq=$s\n").getOrElse("")
    val cdataLine = cdata.map(d => s"cdata=${esc(d)}\n").getOrElse("")
    val name = f"txn-$tsv%020d-${java.util.UUID.randomUUID().toString.take(8)}.commit"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = hfs.create(tmp, true)
    try out.write(s"ts=$tsv\n$seqLine$cdataLine$addLines$retiresLine".getBytes("UTF-8"))
    finally out.close()
    val marker = new org.apache.hadoop.fs.Path(dir, name)
    if (!CommitArbiter.get.publish(hfs, tmp, marker)) {
      hfs.delete(tmp, false); sys.error(s"could not commit $marker")
    }
  }

  /** The folded `add=` lines of a txn/restore marker — each add's
    * stats/schema/fileStats in the per-batch folded form, committed at
    * `tsv`. */
  private def addLinesOf(adds: Seq[TxnAdd], tsv: Long): String =
    adds.map { a =>
      markerName(a.runId, a.batchId) // validates the run id
      val fields = Seq(
        Some(a.stats).filter(_.nonEmpty).map(encodeStats),
        Some(a.schema).filter(_.nonEmpty).map(encodeSchema),
        Some(tsv.toString),
        None, // retire-ts slot: adds never retire themselves
        Some(a.fileStats).filter(_.nonEmpty).map(encodeFileStats))
      val upto = fields.lastIndexWhere(_.isDefined)
      s"add=${a.runId},${a.batchId}\t" +
        fields.take(upto + 1).map(_.getOrElse("")).mkString("\t") + "\n"
    }.mkString

  /** RESTORE — roll the table back to a recorded point (Delta's
    * `RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF` rung), as ONE
    * atomic restore marker:
    *
    *   - batches committed AFTER the target point RETIRE (their
    *     retirement emits full-batch delete events in the change
    *     feed, at the restore's time);
    *   - batches the post-target mutations had retired RE-ADD —
    *     metadata-only where their directories survived [[vacuum]]
    *     (the marker re-lists their recorded stats/schema under a
    *     fresh sequence), LOUDLY impossible where vacuum reclaimed
    *     them (naming the missing directories — size vacuum grace to
    *     the restore window you want, the Delta contract);
    *   - row deletes ([[deleteWhere]] tombstones) recorded after the
    *     target are CANCELLED by file identity — current reads see
    *     their rows again, as-of-T reads inside [delete, restore)
    *     still apply them.
    *
    * `version` is a point on the table's monotonic mutation sequence —
    * the `seq` column of [[history]] (note: the READ-side SQL
    * `FOR VERSION AS OF` is the older per-run batch-id watermark pin,
    * a different axis kept for compatibility); `timestamp` is a wall
    * time resolved against recorded commit timestamps, exactly like
    * [[readCommittedAsOfTimestamp]]. The restore itself is a new
    * versioned event: [[history]] shows it, a later restore can target
    * the state before it, and pre-restore reads stay reproducible
    * until vacuum. Restoring to a point where a tombstone that a
    * PREVIOUS restore cancelled was still active would need
    * re-activation — unsupported, fails loudly (re-delete instead).
    * Single-writer like every mutating operation; the commit-time
    * re-read turns a lost race into a typed [[CommitLogWriteConflict]].
    */
  def restoreTo(spark: SparkSession, table: String,
      version: Option[Long] = None, timestamp: Option[Long] = None,
      ts: Long = -1L): Unit = {
    require(version.nonEmpty != timestamp.nonEmpty,
      "restoreTo needs exactly one of version (a history seq) or timestamp")
    val st = logState(spark, table)
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    // the snapshot at the target point: live batches + active deletes
    val (snapshot, tombsAtTarget, targetSeq) = version match {
      case Some(v) =>
        val snap = st.entries.filter { k =>
          val adds = st.addEv.getOrElse(k, Seq((0L, 0L)))
            .filter(_._2 <= v).map(_._2)
          val rets = st.retireEv.getOrElse(k, Nil)
            .filter(_._2 <= v).map(_._2)
          adds.nonEmpty && rets.forall(_ < adds.max)
        }
        (snap, st.tombstones.filter(t =>
          st.tombSeq(t) <= v && t.cancelSeq.forall(_ > v)), v)
      case None =>
        val T = timestamp.get
        val snap = st.committedAsOf(T)
        val seqAt = (st.addEv.valuesIterator.flatten ++
          st.retireEv.valuesIterator.flatten ++
          st.tombstones.iterator.map(t => (t.ts, st.tombSeq(t))) ++
          st.restores.iterator.map(r => (r.ts, r.seq)))
          .filter(_._1 <= T).map(_._2).foldLeft(0L)(math.max)
        (snap, st.tombstones.filter(t =>
          t.ts <= T && t.cancelTs.forall(_ > T)), seqAt)
    }
    val live = st.committed
    val liveSet = live.toSet
    val snapSet = snapshot.toSet
    val toRetire = live.filterNot(snapSet)
    val toReadd = snapshot.filterNot(liveSet)
    val targetActive = tombsAtTarget.toSet
    val toCancel = st.tombstones
      .filterNot(_.cancelled).filterNot(targetActive)
    val needReactivation = tombsAtTarget.filter(_.cancelled)
    if (needReactivation.nonEmpty) sys.error(
      "commit-log RESTORE: the target state depends on row delete(s) " +
        s"(on ${needReactivation.map(_.col).distinct.mkString(", ")}) " +
        "that a previous restore cancelled — re-activating a cancelled " +
        "delete is unsupported; restore to a point at or after that " +
        "restore, or re-issue the delete afterwards")
    toCancel.filter(_.src.isEmpty) match {
      case Seq() => ()
      case bad => sys.error(
        s"commit-log RESTORE: ${bad.size} post-target delete(s) have no " +
          "resolvable tombstone file identity — cannot cancel them")
    }
    if (toRetire.isEmpty && toReadd.isEmpty && toCancel.isEmpty) return
    // re-adds are metadata-only — but only while the directories exist
    val gone = listParallel(toReadd.sorted) { case (r, b) =>
      val (hfs, p) = fs(spark, s"$table/run_id=$r/batch_id=$b")
      if (hfs.exists(p)) None else Some((r, b))
    }.flatten
    if (gone.nonEmpty) sys.error(
      s"commit-log RESTORE: batch(es) ${gone.take(3).mkString(", ")} of " +
        "the target state were vacuumed — history before the vacuum " +
        "grace window is gone and this restore point is unreachable")
    val adds = toReadd.sorted.map { k =>
      val m = st.meta.getOrElse(k, BatchMeta(Seq.empty, Seq.empty, None))
      TxnAdd(k._1, k._2, m.stats, m.schema, m.fileStats)
    }
    val (hfs, dir) = fs(spark, commitsDir(table))
    hfs.mkdirs(dir)
    // commit-time re-read: another mutation since planning is a typed
    // conflict (restore is single-writer like every mutation); the
    // same read re-mints a seq another writer got to first
    val cur = logState(spark, table)
    val curLive = cur.committed.toSet
    val conflicted = toRetire.filterNot(curLive) ++ toReadd.filter(curLive)
    if (conflicted.nonEmpty)
      throw new CommitLogWriteConflict(
        s"commit-log write conflict on $table: the state RESTORE " +
          "planned against changed before its marker landed — re-run " +
          "against the current log")
    val seqv = cur.nextSeq(tsv)
    val retiresLine =
      if (toRetire.isEmpty) ""
      else s"retires=${toRetire.sorted
        .map { case (r, b) => s"${esc(r)},$b" }.mkString(";")}\n"
    val cancelsLine =
      if (toCancel.isEmpty) ""
      else s"cancels=${toCancel.flatMap(_.src).map(esc).mkString(";")}\n"
    val name = f"restore-$tsv%020d-${java.util.UUID.randomUUID().toString.take(8)}.commit"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = hfs.create(tmp, true)
    try out.write(
      (s"ts=$tsv\nseq=$seqv\nrestore=$targetSeq\n$cancelsLine" +
        addLinesOf(adds, tsv) + retiresLine).getBytes("UTF-8"))
    finally out.close()
    val marker = new org.apache.hadoop.fs.Path(dir, name)
    if (!CommitArbiter.get.publish(hfs, tmp, marker)) {
      hfs.delete(tmp, false); sys.error(s"could not commit restore $marker")
    }
  }

  /** Fail with a typed [[CommitLogWriteConflict]] when any of
    * `retires` was already retired in `cur` by a concurrent
    * transaction (both rewrote the same original — two live rewrites
    * would double its rows). Shared by [[commitTxn]] and the retiring
    * form of [[commitWithMeta]], which pass the log state they just
    * re-read (the same read that re-mints a colliding seq). */
  private def checkRetireConflict(cur: LogState, table: String,
      retires: Seq[(String, Long)]): Unit =
    if (retires.nonEmpty) {
      val conflicted = retires.filter(cur.retired.contains)
      if (conflicted.nonEmpty) throw new CommitLogWriteConflict(
        s"commit-log write conflict on $table: original batch(es) " +
          s"${conflicted.take(3).mkString(", ")} already retired by a " +
          "concurrent upsert/compactDeletes — this rewrite is based on " +
          "stale state; re-run against the current log (mutating " +
          "operations are single-writer per table)")
    }

  /** The commit-time seq re-check (r20): a mutation's seq was minted
    * from the log state it PLANNED against; if a concurrent mutation
    * committed since (e.g. a deleteWhere racing an OCC-retried merge,
    * both legitimately in flight), both would record the SAME seq and
    * the claimed strict total order would silently degrade to the
    * tiebreak. Re-mint past the re-read state's maxSeq — the same
    * re-read the retire conflict check runs on, so the unprotected
    * window narrows to the final write+rename. */
  private def bumpSeq(cur: LogState, seq: Option[Long]): Option[Long] =
    seq.map(s => math.max(s, cur.maxSeq + 1))

  /** Row-level UPSERT — the full-row MERGE a CDC feed applies
    * (`WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT
    * *`, keyed on `keyCol`): the new rows land as a fresh
    * (runId, batchId) partition; every committed batch whose recorded
    * [min, max] for `keyCol` may contain an upserted key is rewritten
    * copy-on-write MINUS the matched keys (batch-stats pruning means a
    * time/id-keyed CDC apply rewrites the handful of batches it
    * touches, not the table); the rewrites, the new batch, and the
    * originals' retirement flip in ONE [[commitTxn]] marker — a reader
    * never sees a key doubled or missing. Live tombstones that applied
    * to a rewritten original are folded into its rewrite (a deleted
    * row must not resurrect). Pre-upsert time travel sees the original
    * rows until [[vacuum]] reclaims the retired dirs; NULL keys never
    * match (a NULL-keyed new row inserts, a NULL-keyed old row
    * survives). Stats are recomputed per rewrite for the columns the
    * original recorded, so pruning stays exact.
    *
    * Concurrency: mutating operations (upsert / compactDeletes /
    * recluster) are SINGLE-WRITER per table — two racing mutations of
    * the same original are detected at commit time (the marker write
    * re-reads the log and fails if any retire target is already
    * retired), narrowing the unprotected window to the final rename;
    * plain appends remain freely concurrent. */
  def upsert(spark: SparkSession, table: String, df: DataFrame,
      keyCol: String, runId: String, batchId: Long, ts: Long = -1L,
      statsCols: Seq[String] = Seq.empty): Unit =
    merge(spark, table, df, Seq(keyCol), runId, batchId, ts, statsCols)

  /** [[upsert]] generalized to the CDC MERGE shapes a real feed needs
    * (r16 verdict asks #3/#7):
    *
    *   - **composite keys** (`keyCols`): a row matches when EVERY key
    *     column is equal (SQL `ON t.k1 = s.k1 AND t.k2 = s.k2` —
    *     NULL in any component never matches, so a NULL-keyed source
    *     row inserts and a NULL-keyed target row survives). The
    *     reference's own error-file key is composite
    *     (FILENAME|PayeeId) — no concatenated synthetic key needed.
    *     Batch pruning stays exact PER COLUMN: a batch is rewritten
    *     only when some source key matches the recorded [min, max] of
    *     every key column that has stats.
    *   - **`deleteWhen`** — `WHEN MATCHED AND <cond> THEN DELETE`:
    *     source rows satisfying the predicate are delete ops — their
    *     matched target rows are removed and the op rows are NOT
    *     inserted (the Delta CDC-apply pattern for op-code feeds:
    *     `deleteWhen = col("op") === "D"`). Remaining source rows
    *     update/insert as before. All ops in one source batch apply
    *     together: old copies of every op key are removed once, then
    *     non-delete rows land as the new batch.
    *   - **`dropCols`** — columns (op codes, CDC sequence numbers)
    *     removed from the source before it lands as the new batch,
    *     while remaining visible to `deleteWhen`.
    *
    * Target-side `WHEN MATCHED AND <cond on t>` shapes (keep the old
    * row when the new one is stale) are out of scope — they need the
    * joined (t, s) pair per row; sequence your feed upstream. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], runId: String, batchId: Long, ts: Long = -1L,
      statsCols: Seq[String] = Seq.empty,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      dropCols: Seq[String] = Seq.empty): Unit =
    mergeWithHook(spark, table, source, keyCols, runId, batchId, ts,
      statsCols, deleteWhen, dropCols, () => ())

  /** [[merge]] with a test seam (`beforeCommit` runs after planning,
    * just before the transaction marker lands — the OCC race window
    * made injectable) and BOUNDED OCC RETRY (r19): a write conflict —
    * a concurrent transaction retired one of this merge's rewrite
    * targets between planning and commit — no longer loud-fails the
    * whole merge. The losing merge RE-PLANS against the fresh log
    * state (where the winner's rewrite is live, so the stats pruning
    * re-derives the batches that now hold our keys, including the
    * winner's rewrite itself) and retries; its orphaned rewrite
    * partitions stay structurally invisible and [[vacuum]] reclaims
    * them. Bounded retries keep a genuinely contended table loud: past
    * the bound the conflict error propagates with the retry count. */
  private[sources] def mergeWithHook(spark: SparkSession, table: String,
      source: DataFrame, keyCols: Seq[String], runId: String,
      batchId: Long, ts: Long = -1L, statsCols: Seq[String] = Seq.empty,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      dropCols: Seq[String] = Seq.empty,
      beforeCommit: () => Unit = () => ()): Unit = {
    val maxAttempts = 3
    var attempt = 1
    var done = false
    while (!done) {
      try {
        mergeAttempt(spark, table, source, keyCols, runId, batchId, ts,
          statsCols, deleteWhen, dropCols, beforeCommit)
        done = true
      } catch {
        // matched by CLASS through any wrapper chain (r20): a reworded
        // message or a SparkException wrapper must neither turn a
        // retryable conflict into a hard failure nor a coincidental
        // message into a silent retry
        case e: Throwable if attempt < maxAttempts &&
            CommitLogWriteConflict.is(e) =>
          attempt += 1
      }
    }
  }

  private def mergeAttempt(spark: SparkSession, table: String,
      source: DataFrame, keyCols: Seq[String], runId: String,
      batchId: Long, ts: Long, statsCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column],
      dropCols: Seq[String], beforeCommit: () => Unit): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val st = logState(spark, table)
    require(!st.entries.contains((runId, batchId)),
      s"($runId, $batchId) is already committed — a merge needs a " +
        "fresh batch id (committed batches are immutable)")
    val ops = source.localCheckpoint(eager = false)
    // the rows that will LAND (updates + inserts); delete ops only
    // remove old copies
    val pinned = deleteWhen
      .map(d => ops.where(!coalesce(d, lit(false)))).getOrElse(ops)
      .drop(dropCols: _*)
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    // Which batches can possibly hold a merged key? Per-KEY stats
    // checks when the key set is small (the CDC norm — and the [min,
    // max] ENVELOPE alone would mark every batch between the lowest
    // and highest key: one late-id key stretches it over the whole
    // table); past the cap, degrade to the per-column envelope
    // (conservative: extra rewrites, never a wrong result).
    val keyCap = 10000
    val keyExprs = keyCols.map(col)
    val someKeys = ops.select(keyExprs: _*)
      .where(keyExprs.map(_.isNotNull).reduce(_ && _))
      .distinct().limit(keyCap + 1).collect()
    // envelope for the over-cap fallback: typed min/max per column
    // (each column's own ordering — a lexicographic envelope over
    // rendered numerics could wrongly EXCLUDE a batch and leave a key
    // doubled)
    lazy val kRow = ops.agg(
      keyCols.flatMap(c => Seq(min(col(c)), max(col(c)))).head,
      keyCols.flatMap(c => Seq(min(col(c)), max(col(c)))).tail: _*).collect()(0)
    val affected =
      if (someKeys.isEmpty) Seq.empty // all keys NULL: nothing matches
      else st.committed.filter { key =>
        val meta = st.meta.get(key)
        val colStats = keyCols.map(kc =>
          kc -> meta.flatMap(_.stats.find(_.col == kc)))
        if (colStats.forall(_._2.isEmpty)) true // no stats → assume match
        else {
          // rendered-decimal pruning is exact only when a floating
          // probe's runtime type matches the batch's RECORDED column
          // type (see probePrunable) — a mismatch leaves that column
          // unconstrained rather than risk a stale copy surviving
          def recTyp(kc: String) =
            meta.flatMap(_.schema.find(_._1 == kc)).map(_._2)
          def colMayHold(kc: String, s: Option[ColStats], v: Any): Boolean =
            s.isEmpty || !probePrunable(v, recTyp(kc)) ||
              statsMayMatch(s.get, Some(v.toString), Some(v.toString))
          if (someKeys.length <= keyCap)
            someKeys.exists(row => colStats.zipWithIndex.forall {
              case ((kc, s), i) => colMayHold(kc, s, row.get(i)) })
          else colStats.zipWithIndex.forall { case ((kc, s), i) =>
            val (lo, hi) = (kRow.get(2 * i), kRow.get(2 * i + 1))
            s.isEmpty || lo == null ||
              !probePrunable(lo, recTyp(kc)) || !probePrunable(hi, recTyp(kc)) ||
              statsMayMatch(s.get, Some(lo.toString), Some(hi.toString))
          }
        }
      }
    // a pure-delete feed (or an empty source) lands no new batch
    writeDataOnly(pinned, table, runId, batchId)
    val newAdd =
      if (!landed(spark, table, runId, batchId)) Seq.empty
      else Seq(TxnAdd(runId, batchId, statsOf(pinned, statsCols),
        schemaOf(pinned)))
    val keys = broadcast(
      ops.select(keyCols.map(c => col(c).as(s"__k_$c")): _*).distinct())
    // rewrite ids hashed from the merge identity: a RETRY of the same
    // merge overwrites its own partitions (idempotent), a later
    // different merge gets fresh ones. All affected batches rewrite in
    // ONE job ([[rewriteBatchSet]]): combined read, one broadcast
    // anti-join against the merged keys, one dynamic-overwrite write —
    // a rewrite that kept ZERO rows writes no directory (its add would
    // dangle and break every future read; the original simply retires
    // with no replacement).
    val plan = affected.map { case (r, b) =>
      val h = scala.util.hashing.MurmurHash3.orderedHash(
        Seq(runId, batchId, keyCols.mkString(","), r, b)) & 0x7fffffff
      RewriteSpec((r, b), f"${r}up$h%08x")
    }
    val rewriteResults = rewriteBatchSet(spark, table, st, plan, { df =>
      val matchCond = keyCols.map(c =>
        df(c) === keys(s"__k_$c")).reduce(_ && _)
      df.join(keys, matchCond, "left_anti")
    })
    val rewrites = rewriteResults.flatMap(_._2)
    if (affected.isEmpty && newAdd.isEmpty) return // no-op feed
    // WRITE-TIME CHANGE DATA (r19): persist the merge's delete
    // pre-images (the matched old rows the rewrites dropped — the
    // anti-join's complement) under `_changes/` and reference the
    // partition from the transaction marker, so change-feed consumers
    // read O(changed rows) instead of recomputing a 2-scan+shuffle
    // exceptAll per historical rewrite per consumer (the Delta
    // `_change_data` rung). Only batches WITH a surviving rewrite are
    // covered: a fully-consumed original retires with no rewrite entry
    // and the feed's full-batch-delete path reads its pre-image
    // directly. The dir name hashes the merge identity, so a retry
    // overwrites its own change files; a crash before the marker
    // leaves an orphan that is never referenced and vacuum reclaims.
    val cdataDir: Option[String] = {
      // EVERY affected batch is covered (r19b): survivors' pre-images
      // serve the upsert-delete events, fully-consumed originals' the
      // full-batch-delete events — so a CDC history replay touches no
      // retired directory at all, and the events outlive vacuum
      val covered = affected
      if (covered.isEmpty) None
      else {
        val h = scala.util.hashing.MurmurHash3.orderedHash(
          Seq(runId, batchId.toString, keyCols.mkString(","))) & 0x7fffffff
        val rel = f"cd-$runId-$batchId%d-$h%08x"
        val dir = s"$table/_changes/$rel"
        val visible = applyTombstones(
          rawBatchSet(spark, table, covered, st), covered, st,
          tombstoneAsOf = Some(tsv))
        val matchCond = keyCols.map(c =>
          visible(c) === keys(s"__k_$c")).reduce(_ && _)
        val removed = visible.join(keys, matchCond, "left_semi")
          .withColumn("__orig_run", col("run_id"))
          .withColumn("__orig_batch", col("batch_id").cast("long"))
          .drop("run_id", "batch_id")
        removed.write.mode("overwrite").parquet(dir)
        // an all-false-positive plan (stats matched, no row did) can
        // write ZERO part files — land one schema-only file so readers
        // can open the dir and see "no change rows" (vs. vacuumed)
        val (hfs, dirPath) = fs(spark, dir)
        if (!hfs.listStatus(dirPath).exists(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet")))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            removed.schema).repartition(1)
            .write.mode("overwrite").parquet(dir)
        Some(rel)
      }
    }
    // monotonic txn seq: totally orders this merge's change events
    // (delete pre-images + the new batch's inserts) against every
    // other recorded fact, even within one wall millisecond
    val seqv = st.nextSeq(tsv)
    beforeCommit()
    commitTxn(spark, table, rewrites ++ newAdd, affected, tsv,
      seq = Some(seqv), cdata = cdataDir)
  }

  // ---- single-job copy-on-write rewrites (r18) ---- //

  /** One copy-on-write rewrite: `orig` is rewritten (minus deleted /
    * merged-away rows) under run id `rwRun` with the SAME batch id;
    * `wantFiles` asks the rewrite to bin-pack into about that many
    * files (OPTIMIZE), None preserves the input's file parallelism. */
  private final case class RewriteSpec(orig: (String, Long), rwRun: String,
      wantFiles: Option[Int] = None)

  /** Execute MANY copy-on-write batch rewrites as ONE Spark write job
    * (plus one grouped stats pass) per schema lineage, instead of one
    * serial job per affected batch — the difference between O(1) and
    * O(N) jobs when a wide merge or a first OPTIMIZE touches thousands
    * of batches of a long-lived streaming table. The affected batch
    * directories are read as one frame with run_id/batch_id carried as
    * partition columns; live tombstones apply per batch through the
    * same member predicates [[applyTombstones]] uses; `transform`
    * (merge's anti-join; identity for compaction) runs once over the
    * combined frame; each original remaps onto its rewrite run id via
    * a broadcast mapping and ONE dynamic-partition-overwrite write
    * lands every rewrite partition atomically-per-partition (exactly
    * the per-batch write's semantics — an empty rewrite writes no
    * directory); per-batch row counts and min/max stats come from one
    * grouped aggregate over the same pinned frame. Only the JOB SHAPE
    * changes: rewrite ids, marker content, retry idempotency (same
    * ids → dynamic overwrite of the same partitions) are untouched.
    *
    * Batches sharing a recorded marker schema provably share their
    * physical parquet schema (the marker records the written frame's
    * schema) and group into one read; batches with no recorded schema
    * cannot prove that and fall back to singleton groups — the legacy
    * per-batch shape, paid only by pre-schema-marker writers.
    *
    * Returns each spec with its rewrite's TxnAdd, or None when every
    * row of the original was deleted/merged away (the original then
    * retires with no replacement). Results keep `plan` order so
    * marker add-lines stay deterministic. */
  private def rewriteBatchSet(spark: SparkSession, table: String,
      st: LogState, plan: Seq[RewriteSpec],
      transform: DataFrame => DataFrame,
      zorderBy: Seq[String] = Seq.empty): Seq[(RewriteSpec, Option[TxnAdd])] = {
    if (plan.isEmpty) return Seq.empty
    val visibleSet = st.committed.toSet
    val groups = plan.groupBy { s =>
      st.meta.get(s.orig).map(_.schema).filter(_.nonEmpty) match {
        case Some(sch) => Left(sch)
        case None => Right(s.orig)
      }
    }.values.toSeq
    val order = plan.zipWithIndex.toMap
    groups.flatMap(specs =>
        rewriteGroup(spark, table, st, specs, transform, visibleSet, zorderBy))
      .sortBy(p => order(p._1))
  }

  private def rewriteGroup(spark: SparkSession, table: String,
      st: LogState, specs: Seq[RewriteSpec],
      transform: DataFrame => DataFrame, visibleSet: Set[(String, Long)],
      zorderBy: Seq[String] = Seq.empty)
      : Seq[(RewriteSpec, Option[TxnAdd])] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, NumericType, StringType, StructField, StructType}
    val dirs = specs.map(s =>
      s"$table/run_id=${s.orig._1}/batch_id=${s.orig._2}")
    val original = spark.read.option("basePath", table).parquet(dirs: _*)
    val dataCols = original.columns
      .filterNot(c => c == "run_id" || c == "batch_id").toSeq
    val origSet = specs.map(_.orig).toSet
    val liveTombs = st.tombstones
      .map(t => t.copy(applies = t.applies.filter(k =>
        origSet(k) && visibleSet(k))))
      .filter(t => t.applies.nonEmpty && original.columns.contains(t.col))
    val unDeleted = liveTombs.foldLeft(original) { (acc, t) =>
      val member = concat_ws("-", col("run_id"), col("batch_id"))
        .isin(t.applies.map { case (r, b) => s"$r-$b" }: _*)
      acc.where(!(member && tombstonePred(t)))
    }
    val kept = transform(unDeleted)
    // broadcast (original → rewrite id, file-bucket layout) mapping;
    // bucket bases are prefix sums so every batch owns a disjoint
    // dense bucket range and one hash repartition bin-packs ALL
    // batches at once (a task holding several buckets of one batch
    // merges them — never MORE than wantFiles files per batch)
    val bases = specs.scanLeft(0)((acc, s) =>
      acc + s.wantFiles.getOrElse(1)).init
    val mapRows = specs.zip(bases).map { case (s, base) =>
      org.apache.spark.sql.Row(s.orig._1, s.orig._2, s.rwRun, base,
        s.wantFiles.getOrElse(1))
    }
    val mapSchema = StructType(Seq(
      StructField("__orig_run", StringType, nullable = false),
      StructField("__orig_batch", LongType, nullable = false),
      StructField("__rw_run", StringType, nullable = false),
      StructField("__bucket_base", IntegerType, nullable = false),
      StructField("__want", IntegerType, nullable = false)))
    val mapping = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(mapRows, 1), mapSchema))
    val joined = kept.join(mapping,
      kept("run_id") === mapping("__orig_run") &&
        kept("batch_id").cast("long") === mapping("__orig_batch"))
      .withColumn("run_id", col("__rw_run"))
    val zCols = zorderBy.filter(dataCols.contains)
    val clustered =
      if (zCols.nonEmpty) {
        // Z-ORDER layout: one range exchange over (batch, z-value)
        // keeps each batch's rows contiguous AND z-clustered, so every
        // output file covers a tight range of EVERY z column — the
        // per-file stats recorded below then prune files the way batch
        // stats prune directories. Sorting within partitions tightens
        // parquet row-group stats as well.
        val totalWant = specs.map(_.wantFiles.getOrElse(1)).sum
        val z = graft.ops.Layout.zorderValue(joined, zCols)
        joined.withColumn("__z", z)
          .repartitionByRange(math.max(totalWant, 1),
            col("run_id"), col("batch_id"), col("__z"))
          .sortWithinPartitions(col("run_id"), col("batch_id"), col("__z"))
      } else if (specs.forall(_.wantFiles.isEmpty)) joined
      else {
        val totalWant = specs.map(_.wantFiles.getOrElse(1)).sum
        joined.withColumn("__bucket", (col("__bucket_base") +
            pmod(xxhash64(monotonically_increasing_id()),
              col("__want").cast("long")).cast("int")))
          .repartition(totalWant, col("__bucket"))
      }
    val outCols = dataCols.map(col) :+ col("run_id") :+ col("batch_id")
    val pinned = clustered.select(outCols: _*).localCheckpoint(eager = false)
    overwritePartitions(pinned, table, Seq("run_id", "batch_id"))
    // per-rewrite row counts + min/max for the union of the originals'
    // recorded stats columns, in ONE grouped pass over the pinned frame
    val statCols = (specs
      .flatMap(s => st.meta.get(s.orig).map(_.stats.map(_.col))
        .getOrElse(Seq.empty)) ++ zCols)
      .distinct.filter(dataCols.contains)
    val aggs = (count(lit(1)).as("__n") +: statCols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))).toSeq
    val byBatch = pinned.groupBy(col("run_id"), col("batch_id"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .map(r => (r.getAs[String]("run_id"),
        r.getAs[Any]("batch_id").toString.toLong) -> r).toMap
    val types = pinned.schema.fields.map(f => f.name -> f.dataType).toMap
    val schema = dataCols.map(c => c -> types(c).sql)
    def render(c: String, mn: Any, mx: Any): Seq[ColStats] =
      if (mn == null || mx == null) Seq.empty
      else Seq(ColStats(c,
        if (types(c).isInstanceOf[NumericType]) "num" else "str",
        mn.toString, mx.toString))
    // per-FILE stats for the z-order columns (one grouped pass over
    // the freshly-written rewrite dirs): the marker-level analogue of
    // Delta's per-file stats — readers prune FILES inside surviving
    // batch directories before any footer is opened
    val fileStats: Map[(String, Long), Seq[(String, Seq[ColStats])]] =
      if (zCols.isEmpty) Map.empty
      else {
        val dirs = specs.filter(s => byBatch.contains((s.rwRun, s.orig._2)))
          .map(s => s"$table/run_id=${s.rwRun}/batch_id=${s.orig._2}")
        if (dirs.isEmpty) Map.empty
        else {
          val fAggs = (count(lit(1)).as("__n") +: zCols.flatMap(c =>
            Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))).toSeq
          spark.read.option("basePath", table).parquet(dirs: _*)
            .withColumn("__f", input_file_name())
            .groupBy(col("run_id"), col("batch_id"), col("__f"))
            .agg(fAggs.head, fAggs.tail: _*).collect()
            .groupBy(r => (r.getAs[String]("run_id"),
              r.getAs[Any]("batch_id").toString.toLong))
            .map { case (k, rs) => k -> rs.toSeq.map { r =>
              val fname = r.getAs[String]("__f").split('/').last
              fname -> zCols.flatMap(c =>
                render(c, r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c")))
            }.sortBy(_._1) }
        }
      }
    specs.map { s =>
      s -> byBatch.get((s.rwRun, s.orig._2)).map { row =>
        val myCols = (st.meta.get(s.orig).map(_.stats.map(_.col))
          .getOrElse(Seq.empty) ++ zCols).distinct.filter(statCols.contains)
        val stats = myCols.flatMap(c =>
          render(c, row.getAs[Any](s"__mn_$c"), row.getAs[Any](s"__mx_$c")))
        TxnAdd(s.rwRun, s.orig._2, stats, schema,
          fileStats.getOrElse((s.rwRun, s.orig._2), Seq.empty))
      }
    }
  }

  // ---- row-level DELETE (r16): tombstones + copy-on-write ---- //

  /** The Column predicate a tombstone encodes (true ⇔ row deleted).
    * NULL predicate values (row's column is NULL, or the column was
    * added after the row's batch) coalesce to NOT deleted — a delete
    * names values, and NULL never equals a value. */
  private[sources] def tombstonePred(t: Tombstone): org.apache.spark.sql.Column = {
    def l(v: String) = lit(v).cast(t.typ)
    val p = t.kind match {
      case "in" => col(t.col).isin(t.vals.map(l): _*)
      case "range" => col(t.col).between(l(t.vals(0)), l(t.vals(1)))
      case other => sys.error(s"unknown tombstone kind '$other'")
    }
    coalesce(p, lit(false))
  }

  /** Filter `df` down to the rows no applicable tombstone deletes.
    * A tombstone applies to a row iff the row's (run_id, batch_id) is
    * in the tombstone's recorded `applies` set AND visible to this
    * read — batches committed after the delete, and rewritten
    * (tombstone-applied) batches, are untouched by construction.
    * With `tombstoneAsOf`, only deletes recorded by that wall time
    * apply (time travel sees pre-delete state). */
  private[sources] def applyTombstones(df: DataFrame, visible: Seq[(String, Long)],
      st: LogState, tombstoneAsOf: Option[Long]): DataFrame = {
    val visibleSet = visible.toSet
    val live = st.tombstones
      .filter(t => tombstoneAsOf match {
        // current read: a restore-CANCELLED delete no longer applies
        case None => !t.cancelled
        // as-of read: the delete applies inside [its ts, its cancel)
        case Some(asOf) => t.ts <= asOf && t.cancelTs.forall(_ > asOf)
      })
      .map(t => t.copy(applies = t.applies.filter(visibleSet)))
      .filter(_.applies.nonEmpty)
    live.foldLeft(df) { (acc, t) =>
      // '-' is the unambiguous separator: markerName REQUIRES run ids
      // to never contain it (a bare concat could alias ("a1",2) with
      // ("a",12))
      val member = concat_ws("-", col("run_id"), col("batch_id"))
        .isin(t.applies.map { case (r, b) => s"$r-$b" }: _*)
      acc.where(!(member && tombstonePred(t)))
    }
  }

  /** Row-level DELETE, logical phase: append a `.tombstone` marker
    * (atomic temp+rename, like commits) recording the predicate
    * `column ∈ values` / `column BETWEEN lo AND hi` and the EXACT
    * committed set it applies to — batches committed later are
    * untouched by construction, so the delete is a fixed fact, not a
    * standing rule. Readers apply it as a residual filter until
    * [[compactDeletes]] rewrites the affected batches;
    * [[readCommittedAsOfTimestamp]] with T before the delete still
    * sees the rows (GDPR-delete history disappears when [[vacuum]]
    * reclaims the rewritten originals). `typ` is taken from the
    * affected batches' recorded schemas when available. */
  def deleteWhere(spark: SparkSession, table: String, column: String,
      kind: String, values: Seq[Any], ts: Long = -1L): Unit = {
    require(kind == "in" || kind == "range",
      s"tombstone kind must be 'in' or 'range', got '$kind'")
    require(kind != "range" || values.length == 2,
      s"range delete needs (lo, hi), got ${values.length} values")
    require(values.nonEmpty, "delete needs at least one value")
    // partition columns are NOT deletable keys: a compactDeletes
    // rewrite reads batch files without them, so its kept-rows filter
    // could never apply and the rewrite would resurrect the rows
    require(column != "run_id" && column != "batch_id",
      "deleteWhere needs a data column — run_id/batch_id identify " +
        "batches, which retire whole via compaction, not row deletes")
    val st = logState(spark, table)
    val applies = st.committed
    if (applies.isEmpty) return
    // the value type: the widest recorded type for the column across
    // applied batches; fall back on the Scala runtime type
    val recorded = applies.flatMap(k =>
      st.meta.get(k).toSeq.flatMap(_.schema).filter(_._1 == column).map(_._2))
    val typ = recorded.reduceOption((a, b) => widen(a, b).getOrElse(a))
      .getOrElse(values.head match {
        case _: Int | _: Long => "BIGINT"
        case _: Float | _: Double => "DOUBLE"
        case _ => "STRING"
      })
    val (hfs, dir) = fs(spark, commitsDir(table))
    hfs.mkdirs(dir)
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    // monotonic seq past every recorded fact (even with a pinned ts):
    // keeps the tombstone order prefix-stable for streaming offsets
    // and totally orders this delete's change events. Minted from a
    // FRESH re-read (r20): a merge that committed while this delete
    // planned would otherwise share our seq — and if it RETIRED one of
    // our applies batches, the tombstone would name superseded
    // originals and miss the rewrite's rows entirely, so that races is
    // a typed conflict, not a silent partial delete.
    val cur = logState(spark, table)
    val conflicted = applies.filter(cur.retired.contains)
    if (conflicted.nonEmpty) throw new CommitLogWriteConflict(
      s"commit-log write conflict on $table: deleteWhere planned " +
        s"against batch(es) ${conflicted.take(3).mkString(", ")} that a " +
        "concurrent upsert/compactDeletes has since retired — the " +
        "tombstone would miss the rewrite's rows; re-run against the " +
        "current log")
    val seqv = cur.nextSeq(tsv)
    val name = f"del-$tsv%020d-${java.util.UUID.randomUUID().toString.take(8)}.tombstone"
    val body =
      s"""ts=$tsv
         |seq=$seqv
         |col=${esc(column)}
         |typ=${esc(typ)}
         |kind=$kind
         |vals=${values.map(v => esc(v.toString)).mkString(";")}
         |applies=${applies.map { case (r, b) => s"${esc(r)},$b" }.mkString(";")}
         |""".stripMargin
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = hfs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val marker = new org.apache.hadoop.fs.Path(dir, name)
    if (!CommitArbiter.get.publish(hfs, tmp, marker)) {
      hfs.delete(tmp, false); sys.error(s"could not write tombstone $marker")
    }
  }

  /** Can tombstone `t` possibly delete rows of batch `key`, judged by
    * the batch's recorded stats? (No stats → must assume yes.) Shared
    * by [[compactDeletes]]'s rewrite pruning and the streaming
    * source's fresh-delivery guard. */
  private[sources] def tombstoneMayHit(st: LogState, t: Tombstone,
      key: (String, Long)): Boolean =
    st.meta.get(key).flatMap(_.stats.find(_.col == t.col)) match {
      case None => true
      case Some(s) => t.kind match {
        case "in" => t.vals.exists(v => statsMayMatch(s, Some(v), Some(v)))
        case _ => statsMayMatch(s, Some(t.vals(0)), Some(t.vals(1)))
      }
    }

  /** OPTIMIZE — small-file bin-packing compaction (Delta's OPTIMIZE
    * rung): a streaming sink lands one(ish) file per micro-batch per
    * partition writer, and a year of minutes is a million tiny files
    * whose per-file open cost dominates every scan. For each
    * committed batch holding more files than its bytes justify
    * (`ceil(totalBytes / targetBytes)`, floor 1), rewrite the batch
    * copy-on-write into that many files under a fresh
    * `<run>rw<hash>` id and retire the original in the SAME marker —
    * the identical atomic-swap shape as [[compactDeletes]], so
    * streaming rewrite-lineage walks skip it (never re-delivered),
    * the change feed emits nothing (carried-over copies), stats are
    * recomputed for the columns the original recorded, and
    * pre-optimize time travel works until [[vacuum]] reclaims the
    * retired dirs. Live tombstones fold into the rewrite (the
    * physical application of an already-reported delete — exactly
    * compactDeletes semantics); batch GRANULARITY is preserved (one
    * rewrite per original, never N→1 consolidation) so offsets,
    * as-of pins, and lineage walks keep their single-parent shape.
    * Retry-idempotent: the rewrite id hashes the batch's current
    * file inventory, so re-running after a crash overwrites its own
    * partition and no-ops on the marker. Single-writer like every
    * mutating operation. */
  def compactFiles(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024, ts: Long = -1L,
      zorderBy: Seq[String] = Seq.empty): Unit =
    compactFilesFrom(spark, table, logState(spark, table), targetBytes,
      ts, zorderBy)

  /** [[compactFiles]] planning from an explicit log-state snapshot —
    * the OCC race surface made testable: a mutation landing between
    * this snapshot and the per-batch commits makes exactly the
    * contended batches skip (commitMaintenance) while the rest of the
    * pass proceeds. */
  private[sources] def compactFilesFrom(spark: SparkSession, table: String,
      st: LogState, targetBytes: Long, ts: Long,
      zorderBy: Seq[String]): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(!zorderBy.exists(c => c == "run_id" || c == "batch_id"),
      "ZORDER BY needs data columns — run_id/batch_id are the " +
        "partition layout itself")
    val (hfs, _) = fs(spark, table)
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    val seqv = Some(st.nextSeq(tsv))
    // plan from per-batch file inventories (driver metadata listing,
    // PARALLELIZED r19: the serial per-batch listStatus loop was one
    // round-trip per committed batch — metadata-free on local/HDFS but
    // 100k serial RPCs on an object-store table with 100k batches
    // before the single rewrite job could start; a bounded listing
    // pool keeps planning wall-time flat in batch count), then ALL
    // planned batches rewrite in ONE job: disjoint bucket
    // ranges per batch let a single hash repartition bin-pack every
    // batch at once (never more than `want` files per batch). Plain
    // OPTIMIZE rewrites only fragmented batches; OPTIMIZE ... ZORDER
    // BY rewrites EVERY batch (re-clustering is the point — like
    // Delta, a repeat invocation re-clusters; a RETRY of a crashed
    // pass stays idempotent because the hash covers the file
    // inventory, unchanged until the swap lands).
    def planOne(r: String, b: Long): Option[RewriteSpec] = {
      val dirPath = new org.apache.hadoop.fs.Path(
        s"$table/run_id=$r/batch_id=$b")
      if (!hfs.exists(dirPath)) None
      else {
        val files = hfs.listStatus(dirPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        val totalBytes = files.map(_.getLen).sum
        val want = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
        if (files.length <= want && zorderBy.isEmpty) None
        else if (files.isEmpty) None
        else {
          val h = scala.util.hashing.MurmurHash3.orderedHash(
            Seq("optimize", zorderBy.mkString(","), files.length,
              totalBytes, r, b)) & 0x7fffffff
          Some(RewriteSpec((r, b), f"${r}rw$h%08x", Some(want.toInt)))
        }
      }
    }
    val plan = listParallel(st.committed)(k => planOne(k._1, k._2)).flatten
    // empty rewrites retire-only; conflicted batches OCC-skip (a
    // concurrent mutation won that original) — see commitMaintenance
    rewriteBatchSet(spark, table, st, plan, identity, zorderBy).foreach {
      case (spec, add) => commitMaintenance(spark, table, spec, add, tsv, seqv)
    }
  }

  /** Run a metadata operation over many batch keys on a bounded
    * thread pool (Hadoop FileSystem instances are thread-safe for
    * listing), preserving input order. Driver-side parallelism for
    * the listing-bound planning phases — never for data. */
  private def listParallel[A, B](keys: Seq[A])(f: A => B): Seq[B] = {
    if (keys.length <= 4) return keys.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, keys.length))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = keys.map(k => new java.util.concurrent.Callable[B] {
        override def call(): B = f(k)
      })
      pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }

  /** Commit one MAINTENANCE rewrite (compactDeletes / compactFiles)
    * with OCC tolerance: when a concurrent mutation already retired
    * this original (the [[checkRetireConflict]] loud error), the
    * racing writer's rewrite IS the current state and ours is stale —
    * SKIP this batch (the uncommitted rewrite partition stays
    * structurally invisible; [[vacuum]] reclaims it) and let the rest
    * of the pass proceed. This is what makes maintenance safe to
    * SCHEDULE next to a CDC feed: an OPTIMIZE racing a merge loses
    * exactly the contended batches and commits the disjoint ones,
    * instead of aborting the whole pass. Data-mutating merges keep
    * the loud conflict — their source-derived rewrite really is stale.
    * Returns true when the commit landed. */
  private def commitMaintenance(spark: SparkSession, table: String,
      spec: RewriteSpec, add: Option[TxnAdd], tsv: Long,
      seqv: Option[Long] = None): Boolean =
    try {
      add match {
        case None =>
          commitTxn(spark, table, Seq.empty, Seq(spec.orig), tsv, seqv)
        case Some(a) =>
          commitWithMeta(spark, table, a.runId, a.batchId, a.stats,
            a.schema, tsv, Seq(spec.orig), a.fileStats, seqv)
      }
      true
    } catch {
      case e: Throwable if CommitLogWriteConflict.is(e) => false
    }

  /** Row-level DELETE, physical phase (copy-on-write at batch
    * granularity): for every batch an un-applied tombstone touches,
    * write the batch MINUS its deleted rows as a NEW
    * (runId + "rw<hash>", batchId) partition and commit it (fresh
    * stats for the columns that had them, same schema lineage, commit
    * ts = now so pre-delete time travel excludes it) with a
    * `retires=` line in the SAME marker — the original's retirement
    * and the rewrite's visibility are one atomic rename, no crash
    * window where both (or neither) are live. Batch-stats pruning
    * skips batches whose recorded [min,max] cannot contain any
    * deleted value. Current reads flip atomically per batch from
    * (original + residual filter) to (rewrite, no filter) — both
    * shapes return identical rows, so a reader racing the swap is
    * correct either way; [[vacuum]] reclaims retired dirs after the
    * grace window. */
  def compactDeletes(spark: SparkSession, table: String,
      ts: Long = -1L): Unit = {
    val st = logState(spark, table)
    val visibleSet = st.committed.toSet
    // batch → the tombstones that still apply to it (restore-cancelled
    // deletes must NOT be materialized — their rows are live again)
    val perBatch = st.tombstones.filterNot(_.cancelled)
      .flatMap(t => t.applies.filter(visibleSet).map(_ -> t))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .filter { case (key, ts) => ts.exists(tombstoneMayHit(st, _, key)) }
    val tsv = if (ts >= 0) ts else java.lang.System.currentTimeMillis()
    // rewrite run id: derived from the original so lineage is
    // readable; hash over the tombstone set so re-running after new
    // deletes yields a fresh partition, while a retry of the SAME
    // compaction is idempotent (same name → dynamic overwrite + no-op
    // commit). Every affected batch rewrites in ONE Spark job
    // ([[rewriteBatchSet]] applies each batch's tombstones through
    // member predicates on the combined frame); markers stay
    // PER BATCH — each original's retirement and its rewrite's
    // visibility flip in one atomic rename, exactly as before.
    val seqv = Some(st.nextSeq(tsv))
    val plan = perBatch.map { case ((runId, batchId), tombs) =>
      val h = scala.util.hashing.MurmurHash3.orderedHash(
        tombs.map(t => (t.ts, t.col, t.kind, t.vals))) & 0x7fffffff
      RewriteSpec((runId, batchId), f"${runId}rw$h%08x")
    }
    // empty rewrite (tombstones consumed the whole batch): no
    // directory was written, so committing a marker would dangle; the
    // original retires with no replacement (a retire-only txn marker).
    // Conflicted batches OCC-skip — see commitMaintenance.
    rewriteBatchSet(spark, table, st, plan, identity).foreach {
      case (spec, add) => commitMaintenance(spark, table, spec, add, tsv, seqv)
    }
  }
}
