package graft

import org.apache.spark.sql.SparkSession

/** Streaming end-to-end scale probe: the reference's full ETL loop
  * (file lands → validate → route valid/error,
  * DM_bankfile_validate_pipeline.py run_full_etl_pipeline shape) as
  * EventStreams.validateAndRoute over 1 M-row file-drop batches.
  * Measures per-micro-batch latency from the engine's own progress
  * metrics — the claim under test is that per-batch cost is STABLE
  * across batches (no state growth, no lineage growth: each batch
  * validates in one codegen'd projection and lands via dynamic-
  * partition overwrite) so the pipeline runs indefinitely at any
  * rate × batch count. One JSON line → BENCH_SCALE_STREAM.json.
  */
object StreamScaleSmoke {

  /** Long-run commit-log smoke (`runMain graft.StreamScaleSmoke
    * longrun [batches] [rowsPerBatch]`): 100+ micro-batches through
    * [[graft.streaming.EventStreams.validateAndRouteCommitted]] in
    * SEGMENTS — each segment drops files, drains an AvailableNow
    * query off the SAME checkpoint (restart-resume exercised 5 times),
    * then runs CommitLog.compactLog + vacuum on both tables. The
    * individually spec-pinned pieces (atomic markers, snapshot folds,
    * idempotent replay, uncommitted-partition vacuum) are here proven
    * COMPOSED over a long run:
    *   - exactly-once end to end: valid+error committed rows ==
    *     generated rows, committed batch set == batch count, and an
    *     explicitly REPLAYED batch changes nothing;
    *   - bounded listing: after the final compaction the _commits dir
    *     is one snapshot file and committedBatches latency is
    *     measured before/after;
    *   - a planted uncommitted partition (crash-before-marker) is
    *     invisible to readers and reclaimed by vacuum;
    *   - per-segment wall time stays flat (no state/lineage growth).
    * One JSON line → BENCH_SCALE_STREAM_LONGRUN.json. */
  def longrun(spark: SparkSession, nBatches: Int, rowsPerBatch: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    import graft.sources.CommitLog
    import graft.Smoke.{fmt2 => fmt}
    val root = java.nio.file.Files.createTempDirectory("stream-longrun").toString
    val drop = s"$root/drop"
    val valid = s"$root/valid"
    val errors = s"$root/errors"
    val ckpt = s"$root/ckpt"
    val segments = 6
    val perSeg = nBatches / segments
    require(perSeg * segments == nBatches, s"$nBatches not divisible by $segments")
    val segSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // offset growth probe (r17): the byte size a graft_commitlog
    // STREAM following the `valid` table would checkpoint after each
    // segment — the r16 encoding grew O(all batches ever); the v2
    // range compression must stay FLAT as batches accumulate
    val offsetBytes = scala.collection.mutable.ArrayBuffer.empty[Int]
    def latestOffsetJson(): String = {
      val st = CommitLog.logState(spark, valid)
      val live = st.committed.toSet
      graft.sources.CommitLogStreamOffset(live, st.entries.toSet -- live)
        .json()
    }
    var schema: org.apache.spark.sql.types.StructType = null
    (0 until segments).foreach { seg =>
      (0 until perSeg).foreach { b =>
        graft.bank.BankDataGen.generate(spark, rowsPerBatch,
            seed = 5000 + seg * perSeg + b)
          .withColumn("RecordOperation",
            when(pmod(col("id"), lit(100)) === 0, lit("X"))
              .otherwise(col("RecordOperation")))
          .coalesce(1)
          .write.mode("append").parquet(drop)
      }
      if (schema == null) schema = spark.read.parquet(drop).schema
      val t0 = System.nanoTime()
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(drop)
      val q = graft.streaming.EventStreams.validateAndRouteCommitted(
        stream, graft.bank.BankRules.all, "PayeeID", valid, errors, ckpt)
      q.awaitTermination()
      // periodic maintenance, concurrent with NOTHING (the quiescence
      // the ledger/compaction contracts document)
      CommitLog.compactLog(spark, valid)
      CommitLog.compactLog(spark, errors)
      CommitLog.vacuum(spark, valid, graceMs = 0)
      CommitLog.vacuum(spark, errors, graceMs = 0)
      segSecs += (System.nanoTime() - t0) / 1e9
      offsetBytes += latestOffsetJson().length
    }
    val total = nBatches.toLong * rowsPerBatch
    // exactly-once end to end
    val committedValid = CommitLog.committedBatches(spark, valid)
    require(committedValid.size == nBatches,
      s"committed ${committedValid.size} of $nBatches batches")
    val validRows = CommitLog.readCommitted(spark, valid).get.count()
    val errorRows = CommitLog.readCommitted(spark, errors).get.count()
    require(validRows + errorRows == total,
      s"routed ${validRows + errorRows} of $total rows")
    // replay an already-committed batch verbatim: idempotent markers +
    // dynamic overwrite must change NOTHING
    val (rId, bId) = committedValid.head
    val replaySlice = CommitLog.readCommitted(spark, valid).get
      .where(col("run_id") === rId && col("batch_id") === bId)
      .drop("run_id", "batch_id")
    // materialize the batch BEFORE replaying: the write dynamically
    // overwrites the very partition the lazy frame would read
    val replayLocal = spark.createDataFrame(
      java.util.Arrays.asList(replaySlice.collect(): _*), replaySlice.schema)
    CommitLog.writeBatch(replayLocal, valid, rId, bId)
    val afterReplay = CommitLog.readCommitted(spark, valid).get.count()
    require(afterReplay == validRows, s"replay changed counts: $afterReplay != $validRows")
    // planted crash-before-marker: files exist, no marker → invisible,
    // then vacuumed
    spark.range(100).selectExpr("id")
      .write.mode("overwrite")
      .parquet(s"$valid/run_id=$rId/batch_id=999999")
    val tornInvisible = CommitLog.readCommitted(spark, valid).get.count()
    require(tornInvisible == validRows, "uncommitted partition leaked into a read")
    CommitLog.vacuum(spark, valid, graceMs = 0)
    val fs = new org.apache.hadoop.fs.Path(valid)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$valid/run_id=$rId/batch_id=999999")), "vacuum left the torn partition")
    // bounded listing: _commits after the final compact + replay is
    // the snapshot plus the one replayed marker
    val commitFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$valid/_commits")).length
    require(commitFiles <= 3, s"_commits not bounded: $commitFiles files")
    val tList0 = System.nanoTime()
    CommitLog.committedBatches(spark, valid)
    val listMs = (System.nanoTime() - tList0) / 1e6
    val flat = segSecs.max / segSecs.min
    val json =
      s"""{"metric":"stream_longrun","batches":$nBatches,"rows_per_batch":$rowsPerBatch,""" +
      s""""segments":$segments,"segment_secs":[${segSecs.map(fmt).mkString(",")}],""" +
      s""""segment_max_over_min":${fmt(flat)},""" +
      s""""valid_rows":$validRows,"error_rows":$errorRows,"total_rows":$total,""" +
      s""""replay_idempotent":true,"torn_partition_invisible_and_vacuumed":true,""" +
      s""""commits_files_after_compact":$commitFiles,""" +
      s""""offset_bytes_per_segment":[${offsetBytes.mkString(",")}],""" +
      s""""committed_list_ms":${fmt(listMs)}}"""
    Smoke.artifact("BENCH_SCALE_STREAM_LONGRUN.json", json)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  /** Long-run CDC REPLICA smoke (`runMain graft.StreamScaleSmoke
    * cdclongrun [batches] [rowsPerBatch]`): a source table takes
    * appends + an upsert + a row delete per segment; a
    * [[graft.streaming.CommitLogReplica]] follows through the
    * readChangeFeed STREAMING source off the SAME checkpoint
    * (restart-resume per segment). Pins, per segment: replica ≡
    * source by count AND content checksum; wall time flat (no
    * state/lineage growth); the CDC offset's byte size (grows only
    * with REWRITE RUNS — one range per minted rewrite id — never with
    * plain append count); staged micro-batch dirs bounded (commit-time
    * watermark sweep). One JSON line → BENCH_SCALE_CDC_LONGRUN.json. */
  def cdcLongrun(spark: SparkSession, nBatches: Int, rowsPerBatch: Long): Unit = {
    import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
    import graft.sources.CommitLog
    import graft.Smoke.{fmt2 => fmt}
    val root = java.nio.file.Files.createTempDirectory("cdc-longrun").toString
    val (src, rep, ckpt) = (s"$root/src", s"$root/rep", s"$root/ckpt")
    val segments = 6
    val perSeg = nBatches / segments
    require(perSeg * segments == nBatches, s"$nBatches not divisible by $segments")
    val segSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val offsetBytes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stageDirs = scala.collection.mutable.ArrayBuffer.empty[Int]
    def rows(seg: Int, b: Int) = {
      val base = (seg * perSeg + b).toLong * rowsPerBatch
      spark.range(base, base + rowsPerBatch)
        .select(col("id"), concat(lit("v-"), col("id")).as("v"))
    }
    def checksum(table: String): (Long, Long) = {
      // bit_xor: order-independent, overflow-free under ANSI mode
      val df = CommitLog.readCommitted(spark, table).get
        .select(xxhash64(col("id"), col("v")).as("h"))
      val r = df.agg(org.apache.spark.sql.functions.expr("bit_xor(h)").as("h"),
        org.apache.spark.sql.functions.count(lit(1)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until segments).foreach { seg =>
      val t0 = System.nanoTime()
      (0 until perSeg).foreach { b =>
        CommitLog.writeBatchWithStats(rows(seg, b), src, "r1",
          (seg * perSeg + b).toLong, Seq("id"))
      }
      // one CDC update + one delete per segment — the change kinds a
      // replica must net correctly, accumulating rewrite runs
      val k = seg.toLong * perSeg * rowsPerBatch + 3
      CommitLog.upsert(spark, src,
        spark.range(k, k + 1).select(col("id"),
          concat(lit("UPD-"), col("id")).as("v")),
        "id", s"u$seg", 0L, statsCols = Seq("id"))
      CommitLog.deleteWhere(spark, src, "id", "in", Seq(k + 1))
      val q = graft.streaming.CommitLogReplica.start(spark, src, rep,
        Seq("id"), ckpt, statsCols = Seq("id"))
      require(q.awaitTermination(240000), "cdc replica drain timed out")
      q.stop()
      segSecs += (System.nanoTime() - t0) / 1e9
      val st = CommitLog.logState(spark, src)
      offsetBytes += graft.sources.CommitLogChangesOffset(
        st.entries.toSet, st.retired.keySet, st.tombstones.size).json().length
      val stageRoot = new org.apache.hadoop.fs.Path(s"$ckpt/graft-cdc-stage")
      stageDirs += (if (hfs.exists(stageRoot)) hfs.listStatus(stageRoot).length else 0)
      // periodic maintenance on BOTH tables, mid-life
      CommitLog.compactLog(spark, src); CommitLog.compactLog(spark, rep)
      val (sh, sn) = checksum(src)
      val (rh, rn) = checksum(rep)
      require(sn == rn && sh == rh,
        s"replica diverged at segment $seg: src ($sn, $sh) vs rep ($rn, $rh)")
    }
    val flat = segSecs.max / segSecs.min
    // stage dirs bounded: at most the in-flight tail per run, never
    // one per delivered micro-batch
    require(stageDirs.last <= 3, s"stage dirs unbounded: ${stageDirs.mkString(",")}")
    val json =
      s"""{"metric":"cdc_longrun","batches":$nBatches,"rows_per_batch":$rowsPerBatch,""" +
      s""""segments":$segments,"segment_secs":[${segSecs.map(fmt).mkString(",")}],""" +
      s""""segment_max_over_min":${fmt(flat)},""" +
      s""""offset_bytes_per_segment":[${offsetBytes.mkString(",")}],""" +
      s""""stage_dirs_per_segment":[${stageDirs.mkString(",")}],""" +
      s""""replica_checksum_equal":true}"""
    Smoke.artifact("BENCH_SCALE_CDC_LONGRUN.json", json)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  /** CDC bootstrap A/B (`runMain graft.StreamScaleSmoke cdatabootstrap
    * [merges] [rowsPerBatch]`): a consumer replaying an N-merge
    * history through the change feed, measured with the r19 WRITE-TIME
    * change partitions vs the legacy per-rewrite exceptAll
    * reconstruction (the r18 shape — 2 scans + a shuffle per
    * historical rewrite, per consumer). Same events both ways
    * (bit_xor checksum), the cdata plan audited free of
    * Except/replicaterows/anti-join. One JSON line →
    * BENCH_SCALE_CDATA.json. */
  def cdataBootstrap(spark: SparkSession, nMerges: Int,
      rowsPerBatch: Long): Unit = {
    import org.apache.spark.sql.functions.{col, concat, count, expr, lit, xxhash64}
    import graft.sources.CommitLog
    import graft.Smoke.{fmt3 => fmt}
    val root = java.nio.file.Files.createTempDirectory("cdata-boot").toString
    val src = s"$root/src"
    val baseBatches = 4
    (0 until baseBatches).foreach { b =>
      CommitLog.writeBatchWithStats(
        spark.range(b * rowsPerBatch, (b + 1) * rowsPerBatch)
          .select(col("id"), concat(lit("v-"), col("id")).as("v")),
        src, "base", b.toLong, Seq("id"))
    }
    val total = baseBatches * rowsPerBatch
    // each merge updates a key slice spread across EVERY base batch —
    // the worst case for read-time reconstruction (every rewrite's
    // exceptAll rescans its original)
    (0 until nMerges).foreach { m =>
      val stride = total / 200
      CommitLog.merge(spark, src,
        spark.range(0, 200).select((col("id") * stride + m).as("id"),
          concat(lit(s"upd$m-"), col("id")).as("v")),
        Seq("id"), s"m$m", 0L, statsCols = Seq("id"))
    }
    def feedChecksum(): (Long, Long, Double, String) = {
      val t0 = System.nanoTime()
      val df = CommitLog.readChangeFeed(spark, src, 0L).get
      val r = df.select(xxhash64(col("id"), col("v"), col("change_type"),
          col("change_ts")).as("h"))
        .agg(expr("bit_xor(h)").as("h"), count(lit(1)).as("n")).head()
      ((r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9,
        df.queryExecution.optimizedPlan.toString))
    }
    val (h1, n1, tCdata, plan) = feedChecksum()
    require(!plan.contains("Except") && !plan.contains("replicaterows") &&
      !plan.toLowerCase.contains("leftanti"),
      "cdata bootstrap plan must carry no reconstruction nodes")
    // age the change partitions away → the legacy reconstruction path
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$src/_changes"), true)
    val (h2, n2, tLegacy, _) = feedChecksum()
    require(h1 == h2 && n1 == n2,
      s"cdata and legacy events diverge: ($n1, $h1) vs ($n2, $h2)")
    val json =
      s"""{"metric":"cdc_bootstrap","merges":$nMerges,""" +
      s""""rows_per_batch":$rowsPerBatch,"events":$n1,""" +
      s""""cdata_secs":${fmt(tCdata)},"legacy_secs":${fmt(tLegacy)},""" +
      s""""speedup":${fmt(tLegacy / tCdata)},"events_equal":true}"""
    Smoke.artifact("BENCH_SCALE_CDATA.json", json)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  /** Change-feed BOOTSTRAP plan flatness (`runMain
    * graft.StreamScaleSmoke cdataplan [txns]`): a synthetic log with N
    * merge transactions (orig batch retired, `up` rewrite live,
    * write-time change partition referenced — built with THREE
    * partitionBy write jobs + driver-side renames and markers, never N
    * write jobs) replayed from zero by `readChangeFeed`. The r19
    * delete side built one DataFrame per change-partition group and
    * union-reduced them — O(txns-in-window) plan nodes, a quadratic
    * analyzer stall before the first task of exactly the
    * replica-bootstrap read 28y exists to serve. The r20 one-scan +
    * broadcast-mapping assembly must hold BOTH plan-node count and
    * analysis wall-time FLAT from N/4 to N (events themselves stay
    * correct: N inserts + N deletes, checked exactly). compactLog runs
    * during the build, so fold-surviving cdata references are
    * exercised at scale too. One JSON line →
    * BENCH_SCALE_CDATA_BOOT.json. */
  def cdataPlanSmoke(spark: SparkSession, nTxns: Int): Unit = {
    import org.apache.spark.sql.functions.{col, concat, hex, lit, lower, lpad}
    import graft.sources.CommitLog
    import graft.Smoke.{fmt3 => fmt}
    val conf = spark.sparkContext.hadoopConfiguration
    def build(n: Int): String = {
      val root = java.nio.file.Files.createTempDirectory(s"cdboot$n").toString
      val table = s"$root/t"
      // orig batches r/0..n-1, one row each — ONE dynamic-partition job
      spark.range(0, n).select(col("id"),
          concat(lit("orig-"), col("id")).as("v"),
          lit("r").as("run_id"), col("id").as("batch_id"))
        .repartition(8)
        .write.partitionBy("run_id", "batch_id").mode("append").parquet(table)
      // each txn's surviving rewrite rup<8hex>/i — ONE job
      spark.range(0, n).select(col("id"),
          concat(lit("new-"), col("id")).as("v"),
          concat(lit("rup"), lpad(lower(hex(col("id"))), 8, "0")).as("run_id"),
          col("id").as("batch_id"))
        .repartition(8)
        .write.partitionBy("run_id", "batch_id").mode("append").parquet(table)
      // write-time change partitions: ONE staged job + driver renames
      val stage = s"$root/stage"
      spark.range(0, n).select(col("id"),
          concat(lit("orig-"), col("id")).as("v"),
          lit("r").as("__orig_run"), col("id").as("__orig_batch"),
          col("id").as("__pd"))
        .repartition(8).write.partitionBy("__pd").parquet(stage)
      val hfs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$table/_changes"))
      (0 until n).foreach { i =>
        hfs.rename(new org.apache.hadoop.fs.Path(s"$stage/__pd=$i"),
          new org.apache.hadoop.fs.Path(s"$table/_changes/cd$i"))
      }
      val schema = Seq("id" -> "BIGINT", "v" -> "STRING")
      CommitLog.commitTxn(spark, table,
        (0 until n).map(i => CommitLog.TxnAdd("r", i.toLong,
          Seq.empty, schema)), Seq.empty, ts = 1000L)
      (0 until n).foreach { i =>
        CommitLog.commitTxn(spark, table,
          Seq(CommitLog.TxnAdd(f"rup$i%08x", i.toLong, Seq.empty, schema)),
          retires = Seq(("r", i.toLong)), ts = 2000L + i,
          seq = Some(2000L + i), cdata = Some(s"cd$i"))
        // fold periodically: keeps the conflict-check re-reads (and
        // the feed's final logState) off an O(n) marker listing, and
        // proves cdata references survive snapshot folds at scale
        if ((i + 1) % 256 == 0) CommitLog.compactLog(spark, table)
      }
      table
    }
    def measure(table: String, n: Int): (Int, Double, Double) = {
      val t0 = System.nanoTime()
      val df = CommitLog.readChangeFeed(spark, table, 0L).get
      val nodes = df.queryExecution.optimizedPlan.collect { case p => p }.size
      val tPlan = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val byType = df.groupBy("change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val tExec = (System.nanoTime() - t1) / 1e9
      require(byType == Map("insert" -> n.toLong, "delete" -> n.toLong),
        s"bootstrap events wrong at $n: $byType")
      (nodes, tPlan, tExec)
    }
    val small = nTxns / 4
    val tSmall = build(small)
    val tBig = build(nTxns)
    measure(tSmall, small) // warm code paths once
    val (nodesS, planS, execS) = measure(tSmall, small)
    val (nodesB, planB, execB) = measure(tBig, nTxns)
    require(nodesB == nodesS,
      s"plan must be flat in window size: $nodesS nodes @ $small vs " +
        s"$nodesB @ $nTxns")
    val json =
      s"""{"metric":"cdc_bootstrap_plan","txns_small":$small,""" +
      s""""txns_big":$nTxns,"plan_nodes_small":$nodesS,""" +
      s""""plan_nodes_big":$nodesB,"plan_secs_small":${fmt(planS)},""" +
      s""""plan_secs_big":${fmt(planB)},"exec_secs_small":${fmt(execS)},""" +
      s""""exec_secs_big":${fmt(execB)}}"""
    Smoke.artifact("BENCH_SCALE_CDATA_BOOT.json", json)
    Seq(tSmall, tBig).foreach(t => new scala.reflect.io.Directory(
      new java.io.File(t).getParentFile).deleteRecursively())
  }

  /** OPTIMIZE planning flatness (`runMain graft.StreamScaleSmoke
    * optplan [batches]`): a table with N one-file committed batches
    * (driver-side dir copies + ONE txn marker — no N write jobs) where
    * nothing needs compaction, so compactFiles is PURE planning: the
    * per-batch file-inventory listing the r19 bounded pool
    * parallelizes. Measured at N and 4N; the per-batch planning cost
    * must stay flat (the r18 loop was one serial listStatus
    * round-trip per batch). One JSON line → BENCH_SCALE_OPTPLAN.json. */
  def optPlanSmoke(spark: SparkSession, nBatches: Int): Unit = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.CommitLog
    import graft.Smoke.{fmt3 => fmt}
    val conf = spark.sparkContext.hadoopConfiguration
    def build(n: Int): String = {
      val table = java.nio.file.Files
        .createTempDirectory(s"optplan$n").toString + "/t"
      CommitLog.writeBatch(
        spark.range(0, 100)
          .select(col("id"), concat(lit("v-"), col("id")).as("v"))
          .coalesce(1), table, "r1", 0L)
      val hfs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      val tpl = new org.apache.hadoop.fs.Path(s"$table/run_id=r1/batch_id=0")
      (1 until n).foreach { b =>
        org.apache.hadoop.fs.FileUtil.copy(hfs, tpl, hfs,
          new org.apache.hadoop.fs.Path(s"$table/run_id=r1/batch_id=$b"),
          false, conf)
      }
      CommitLog.commitTxn(spark, table,
        (1 until n).map(b => CommitLog.TxnAdd("r1", b.toLong)), Seq.empty)
      table
    }
    def timePlan(table: String, n: Int): Double = {
      val t0 = System.nanoTime()
      CommitLog.compactFiles(spark, table) // 1 small file/batch → plan-only
      val secs = (System.nanoTime() - t0) / 1e9
      require(CommitLog.logState(spark, table).retired.isEmpty,
        "optplan smoke must be planning-only (nothing to rewrite)")
      secs
    }
    val t1 = build(nBatches)
    val t4 = build(nBatches * 4)
    timePlan(t1, nBatches) // warm FS/code paths once
    val small = timePlan(t1, nBatches)
    val big = timePlan(t4, nBatches * 4)
    val perSmall = small / nBatches * 1e6
    val perBig = big / (nBatches * 4) * 1e6
    val json =
      s"""{"metric":"optimize_planning","batches_small":$nBatches,""" +
      s""""batches_big":${nBatches * 4},"secs_small":${fmt(small)},""" +
      s""""secs_big":${fmt(big)},"us_per_batch_small":${fmt(perSmall)},""" +
      s""""us_per_batch_big":${fmt(perBig)},""" +
      s""""per_batch_ratio":${fmt(perBig / perSmall)}}"""
    Smoke.artifact("BENCH_SCALE_OPTPLAN.json", json)
    Seq(t1, t4).foreach(t => new scala.reflect.io.Directory(
      new java.io.File(t).getParentFile).deleteRecursively())
  }

  def main(args: Array[String]): Unit = {
    def intAt(i: Int, default: Int) = if (args.length > i) args(i).toInt else default
    def longAt(i: Int, default: Long) = if (args.length > i) args(i).toLong else default
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-stream-smoke")
    args.headOption match {
      case Some("cdataplan") => cdataPlanSmoke(spark, intAt(1, 2048))
      case Some("cdatabootstrap") => cdataBootstrap(spark, intAt(1, 24), longAt(2, 250000L))
      case Some("optplan") => optPlanSmoke(spark, intAt(1, 1000))
      case Some("cdclongrun") => cdcLongrun(spark, intAt(1, 60), longAt(2, 5000L))
      case Some("longrun") => longrun(spark, intAt(1, 120), longAt(2, 20000L))
      case _ => fileDrop(spark, longAt(0, 1000000L))
    }
    spark.stop()
  }

  /** Default mode (`runMain graft.StreamScaleSmoke [rowsPerBatch]`):
    * three file drops through validateAndRoute, then the recipe
    * pipeline over streamed documents. */
  def fileDrop(spark: SparkSession, rowsPerBatch: Long): Unit = {
    val nBatches = 3
    import graft.Smoke.{fmt2 => fmt}

    val root = java.nio.file.Files.createTempDirectory("stream-scale").toString
    val drop = s"$root/drop"
    // three 1 M-row file drops, each FILES_PER_BATCH part files so
    // maxFilesPerTrigger carves exactly one drop per micro-batch;
    // ~1% of rows get an enum-invalid RecordOperation so the error
    // route actually carries traffic (the generator's defaults are
    // all-valid)
    val filesPerBatch = 4
    (0 until nBatches).foreach { i =>
      import org.apache.spark.sql.functions.{col, lit, pmod, when}
      graft.bank.BankDataGen.generate(spark, rowsPerBatch, seed = 100 + i)
        .withColumn("RecordOperation",
          when(pmod(col("id"), lit(100)) === 0, lit("X"))
            .otherwise(col("RecordOperation")))
        .coalesce(filesPerBatch)
        .write.mode("append").parquet(drop)
    }
    val schema = spark.read.parquet(drop).schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(drop)
    val q = graft.streaming.EventStreams.validateAndRoute(
      stream, graft.bank.BankRules.all, "PayeeID",
      s"$root/valid", s"$root/errors", s"$root/ckpt")
    q.awaitTermination()

    val progress = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
    val batchSecs = progress.map(_.durationMs.get("triggerExecution").toLong / 1000.0)
    val rowsPerSec = progress.map(p =>
      p.numInputRows / (p.durationMs.get("triggerExecution").toLong / 1000.0))
    require(batchSecs.size == nBatches,
      s"expected $nBatches non-empty micro-batches, saw ${batchSecs.size}")
    val validRows = spark.read.parquet(s"$root/valid").count()
    val errorRows = spark.read.parquet(s"$root/errors").count()
    require(validRows + errorRows == rowsPerBatch * nBatches,
      s"routed ${validRows + errorRows} of ${rowsPerBatch * nBatches} rows")

    val flat = batchSecs.max / batchSecs.min
    println(s"STREAM batches=${batchSecs.map(fmt).mkString(", ")} s " +
      s"(max/min ${fmt(flat)}); valid=$validRows error=$errorRows")

    // ---- phase 2: the composed training-data recipe under file
    // drops (RecipeIngest: gopher gate → fingerprint dedup within
    // batch + vs the growing index → per-batch language mix). The
    // claim under test: per-batch cost stays flat while the
    // fingerprint index grows batch-over-batch.
    import org.apache.spark.sql.functions.{col, concat_ws, element_at, expr, lit, pmod, transform => sqlTransform, xxhash64, when, sequence}
    val docRows = rowsPerBatch / 2 // docs are ~10× wider than bank rows
    // 32 files per drop: the file count IS the narrow-stage parallelism
    // of each micro-batch (gate + fingerprint are scan-speed per
    // partition) — 4 files left 28 cores idle and measured ~5.6k
    // docs/s where 32 measures the real per-core rate
    val docFilesPerBatch = 32
    val docDrop = s"$root/docdrop"
    // 512 six-letter alpha pseudo-words — every generated doc passes
    // the Gopher gate (40 words, mean len 6, all alpha, dup-bigram
    // collisions ~0.3% of docs land in `rejected`, which keeps that
    // route honest). ~2% of ids copy the previous id's text → real
    // in-batch dup traffic for the fingerprint path.
    // base-26 digits keep all 512 words distinct (a pure mod-26
    // arithmetic generator would repeat word i at i+26, collapsing the
    // vocabulary to 26 words and tripping the dup-bigram gate)
    val vocab = org.apache.spark.sql.functions.array(
      (0 until 512).map(i => lit(
        "" + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar +
          ('a' + (i * 11 + 5) % 26).toChar + ('a' + (i * 17 + 7) % 26).toChar +
          ('a' + (i * 19 + 11) % 26).toChar + ('a' + (i * 23 + 13) % 26).toChar)): _*)
    // a second, disjoint "spam" vocabulary ("zz" prefix — the good
    // vocab never emits zz words below index 675): ~5% of feed docs
    // draw from it, and the trained classifier stage must cut them
    val spamVocab = org.apache.spark.sql.functions.array(
      (0 until 512).map(i => lit(
        "zz" + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar +
          ('a' + (i * 13 + 3) % 26).toChar + ('a' + (i * 7 + 1) % 26).toChar)): _*)
    (0 until nBatches).foreach { i =>
      spark.range(docRows).select(
          (col("id") + i * docRows).as("doc_id"),
          when(pmod(col("id"), lit(50)) === 1, col("id") - 1)
            .otherwise(col("id")).as("_seed"),
          element_at(org.apache.spark.sql.functions.array(
              lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
            (pmod(xxhash64(col("id"), lit(i)), lit(5)) + 1).cast("int")).as("lang"))
        .select(col("doc_id"), col("lang"),
          concat_ws(" ", sqlTransform(sequence(lit(0), lit(39)),
            j => element_at(
              when(pmod(col("_seed"), lit(20)) === 7, spamVocab).otherwise(vocab),
              (pmod(xxhash64(col("_seed"), j, lit(i)), lit(512)) + 1).cast("int"))))
            .as("_body"))
        // 10% of docs carry a banner line (run-recurring boilerplate):
        // the hot-line stage must strip it before gate/fingerprint
        .select(col("doc_id"), col("lang"),
          when(pmod(col("doc_id"), lit(10)) === 0,
            org.apache.spark.sql.functions.concat(
              lit("JOIN OUR MAILING LIST today\n"), col("_body")))
            .otherwise(col("_body")).as("text"))
        .coalesce(docFilesPerBatch)
        .write.mode("append").parquet(docDrop)
    }
    // offline classifier fit on a 4k-doc labeled seed set (good vs
    // spam vocab) — the model the per-batch stage 1.5 join consumes
    val seedSet = spark.range(4000).select(
        col("id").as("doc_id"), (col("id") % 2 === 0).as("y"),
        concat_ws(" ", sqlTransform(sequence(lit(0), lit(39)),
          j => element_at(
            when(col("id") % 2 === 0, vocab).otherwise(spamVocab),
            (pmod(xxhash64(col("id"), j, lit(-1)), lit(512)) + 1).cast("int"))))
          .as("text"))
    graft.text.NbClassifier.trainAndSave(seedSet, "doc_id", "text", "y",
      s"$root/r_clf")
    val docSchema = spark.read.parquet(docDrop).schema
    val recipeStream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", docFilesPerBatch.toString)
      .parquet(docDrop)
    val q2 = graft.streaming.RecipeIngest.start(recipeStream,
      "doc_id", "text", "lang",
      s"$root/r_accepted", s"$root/r_rejected", s"$root/r_index",
      s"$root/r_ckpt",
      Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.125),
      lineIndexPath = s"$root/r_lineidx", lineMinDf = 3,
      clfModelPath = s"$root/r_clf")
    q2.awaitTermination()
    val rp = q2.recentProgress.toSeq.filter(_.numInputRows > 0)
    val rSecs = rp.map(_.durationMs.get("triggerExecution").toLong / 1000.0)
    require(rSecs.size == nBatches,
      s"expected $nBatches recipe micro-batches, saw ${rSecs.size}")
    val acceptedRows = spark.read.parquet(s"$root/r_accepted").count()
    val rejectedRows = spark.read.parquet(s"$root/r_rejected").count()
    val indexRows = spark.read.parquet(s"$root/r_index").count()
    require(acceptedRows > 0 && indexRows > 0, "recipe accepted nothing")
    // the planted banner (df ~ docRows/10 >= 3 within batch 0) must be
    // stripped from every accepted doc across the whole run
    require(spark.read.parquet(s"$root/r_accepted")
      .where(col("text").contains("JOIN OUR MAILING LIST")).count() == 0,
      "hot-line stage failed to strip the planted banner")
    // the classifier stage must cut every spam-vocabulary doc (all
    // their tokens are zz-words the positive class never emits)
    require(spark.read.parquet(s"$root/r_accepted")
      .where(col("text").startsWith("zz")).count() == 0,
      "classifier stage admitted spam-vocabulary docs")
    require(spark.read.parquet(s"$root/r_rejected")
      .where(col("text").startsWith("zz")).count() > 0,
      "no spam docs reached the rejected sink — plant broken")
    val lineIdxRows = spark.read.parquet(s"$root/r_lineidx").count()
    val rFlat = rSecs.max / rSecs.min
    println(s"RECIPE batches=${rSecs.map(fmt).mkString(", ")} s " +
      s"(max/min ${fmt(rFlat)}); accepted=$acceptedRows rejected=$rejectedRows index=$indexRows")

    val json =
      s"""{"metric":"stream_scale","rows_per_batch":$rowsPerBatch,""" +
      s""""batches":$nBatches,"batch_secs":[${batchSecs.map(fmt).mkString(",")}],""" +
      s""""rows_per_sec":[${rowsPerSec.map(v => fmt(v)).mkString(",")}],""" +
      s""""batch_max_over_min":${fmt(flat)},"valid_rows":$validRows,"error_rows":$errorRows,""" +
      s""""recipe":{"docs_per_batch":$docRows,"batch_secs":[${rSecs.map(fmt).mkString(",")}],""" +
      s""""docs_per_sec":[${rp.map(p => fmt(p.numInputRows /
            (p.durationMs.get("triggerExecution").toLong / 1000.0))).mkString(",")}],""" +
      s""""batch_max_over_min":${fmt(rFlat)},"accepted_rows":$acceptedRows,""" +
      s""""line_index_rows":$lineIdxRows,""" +
      s""""rejected_rows":$rejectedRows,"index_rows":$indexRows}}"""
    Smoke.artifact("BENCH_SCALE_STREAM.json", json)
    // 3M generated rows + routed copies + checkpoint — clean up /tmp
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }
}
