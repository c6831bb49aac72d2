package graft
package scale

import graft.Smoke.{time, withTempDir}
import graft.sources.CommitLog
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming and commit-log maintenance at scale: file drops through
  * validate-and-route and the training-data recipe, long runs of
  * committed micro-batches and of a CDC replica, and the change-feed
  * and OPTIMIZE planning paths. */
object StreamScale {

  /** Bank rows of `seed` with ~1% planted invalid: RecordOperation "X"
    * on every id divisible by 100 (the generator's rows are all valid). */
  private def bankDrop(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    graft.bank.BankDataGen.generate(spark, rows, seed = seed)
      .withColumn("RecordOperation",
        when(pmod(col("id"), lit(100)) === 0, lit("X")).otherwise(col("RecordOperation")))

  /** Rows of [[bankDrop]] carrying the planted "X". */
  private def plantedX(rows: Long): Long = (rows + 99) / 100

  /** Wall seconds of each micro-batch that read rows. */
  private def batchSecs(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[(Long, Double)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => (p.numInputRows, p.durationMs.get("triggerExecution").toLong / 1000.0))

  /** Batches [from, until) of each of `min(6, batches)` segments. */
  private def segments(batches: Int): Seq[Range] = {
    val n = math.min(6, batches)
    (0 until n).map(s => (s * batches / n) until ((s + 1) * batches / n))
  }

  private def flatness(secs: Seq[Double]): Double = secs.max / secs.min

  /** The reference's ETL loop (file lands → validate → route valid and
    * error rows) as [[graft.streaming.EventStreams.validateAndRoute]]
    * over three drops of `rows` bank rows, then the composed recipe
    * ([[graft.streaming.RecipeIngest]]: hot-line strip → Gopher gate →
    * classifier → fingerprint dedup within the batch and against the
    * growing index → language mix) over three drops of `rows`/2
    * documents. Each drop is exactly `maxFilesPerTrigger` = cores files,
    * one micro-batch each; per-batch cost must stay flat while the
    * index grows. */
  private def fileDrop(spark: SparkSession, rows: Long): Fields = withTempDir("scale-stream") { root =>
    val (nBatches, files) = (3, spark.sparkContext.defaultParallelism)
    (0 until nBatches).foreach { i =>
      bankDrop(spark, rows, 100 + i).repartition(files).write.mode("append").parquet(s"$root/drop")
    }
    val q = graft.streaming.EventStreams.validateAndRoute(
      spark.readStream.schema(spark.read.parquet(s"$root/drop").schema)
        .option("maxFilesPerTrigger", files.toString).parquet(s"$root/drop"),
      graft.bank.BankRules.all, "PayeeID", s"$root/valid", s"$root/errors", s"$root/ckpt")
    q.awaitTermination()
    val bank = batchSecs(q)

    val docRows = rows / 2 // docs are ~10× wider than bank rows
    // 512 distinct six-letter pseudo-words (base-26 digits): every doc
    // passes the Gopher gate; ~2% of ids copy the previous id's text
    // (in-batch dups); 5% draw from a disjoint "zz" spam vocabulary the
    // classifier must cut; 10% carry a run-recurring banner line the
    // hot-line stage must strip
    def words(prefix: String, letters: Seq[(Int, Int)]) = array((0 until 512).map { i =>
      def c(v: Int) = ('a' + v % 26).toChar
      lit(prefix + c(i) + c(i / 26) + letters.map { case (m, a) => c(i * m + a) }.mkString)
    }: _*)
    val vocab = words("", Seq((11, 5), (17, 7), (19, 11), (23, 13)))
    val spamVocab = words("zz", Seq((13, 3), (7, 1)))
    def text(seed: Column, spam: Column, salt: Int) =
      concat_ws(" ", transform(sequence(lit(0), lit(39)), j =>
        element_at(when(spam, spamVocab).otherwise(vocab),
          (pmod(xxhash64(seed, j, lit(salt)), lit(512)) + 1).cast("int"))))
    (0 until nBatches).foreach { i =>
      spark.range(docRows).select((col("id") + i * docRows).as("doc_id"),
          when(pmod(col("id"), lit(50)) === 1, col("id") - 1).otherwise(col("id")).as("_seed"),
          element_at(array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
            (pmod(xxhash64(col("id"), lit(i)), lit(5)) + 1).cast("int")).as("lang"))
        .select(col("doc_id"), col("lang"),
          text(col("_seed"), pmod(col("_seed"), lit(20)) === 7, i).as("_body"))
        .select(col("doc_id"), col("lang"),
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(lit("JOIN OUR MAILING LIST today\n"), col("_body")))
            .otherwise(col("_body")).as("text"))
        .repartition(files).write.mode("append").parquet(s"$root/docdrop")
    }
    // the classifier, fit offline on 4k labeled docs (good vs spam vocabulary)
    graft.text.NbClassifier.trainAndSave(spark.range(4000).select(col("id").as("doc_id"),
        (col("id") % 2 === 0).as("y"), text(col("id"), col("id") % 2 =!= 0, -1).as("text")),
      "doc_id", "text", "y", s"$root/r_clf")
    val q2 = graft.streaming.RecipeIngest.start(
      spark.readStream.schema(spark.read.parquet(s"$root/docdrop").schema)
        .option("maxFilesPerTrigger", files.toString).parquet(s"$root/docdrop"),
      "doc_id", "text", "lang",
      s"$root/r_accepted", s"$root/r_rejected", s"$root/r_index", s"$root/r_ckpt",
      Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.125),
      lineIndexPath = s"$root/r_lineidx", lineMinDf = 3, clfModelPath = s"$root/r_clf")
    q2.awaitTermination()
    val recipe = batchSecs(q2)
    def count(path: String, where: Column = lit(true)) =
      spark.read.parquet(s"$root/$path").where(where).count()
    Fields("metric" -> "stream_scale", "rows_per_batch" -> rows, "batches" -> nBatches,
      "files_per_batch" -> files, "batch_secs" -> bank.map(_._2),
      "rows_per_sec" -> bank.map { case (n, s) => n / s },
      "batch_max_over_min" -> flatness(bank.map(_._2)),
      "valid_rows" -> count("valid"), "error_rows" -> count("errors"),
      "planted_errors" -> nBatches * plantedX(rows),
      "recipe" -> Fields("docs_per_batch" -> docRows, "batch_secs" -> recipe.map(_._2),
        "docs_per_sec" -> recipe.map { case (n, s) => n / s },
        "batch_max_over_min" -> flatness(recipe.map(_._2)),
        "accepted_rows" -> count("r_accepted"), "line_index_rows" -> count("r_lineidx"),
        "rejected_rows" -> count("r_rejected"), "index_rows" -> count("r_index"),
        "banner_accepted" -> count("r_accepted", col("text").contains("JOIN OUR MAILING LIST")),
        "spam_accepted" -> count("r_accepted", col("text").startsWith("zz")),
        "spam_rejected" -> count("r_rejected", col("text").startsWith("zz"))))
  }

  private def checkFileDrop(f: Fields): Unit = {
    val r = f.obj("recipe")
    val (bank, recipe) = (f.seq("batch_secs").size, r.seq("batch_secs").size)
    require(bank == f.long("batches") && recipe == f.long("batches"),
      s"one micro-batch per drop: bank $bank, recipe $recipe")
    val routed = f.long("valid_rows") + f.long("error_rows")
    require(routed == f.long("rows_per_batch") * f.long("batches"), s"routed $routed rows")
    require(f.long("error_rows") == f.long("planted_errors"),
      s"${f("error_rows")} error rows, planted ${f("planted_errors")}")
    require(r.long("accepted_rows") > 0 && r.long("index_rows") > 0, "the recipe accepted nothing")
    require(r.long("banner_accepted") == 0, "the hot-line stage left the planted banner")
    require(r.long("spam_accepted") == 0, "the classifier admitted spam-vocabulary docs")
    require(r.long("spam_rejected") > 0, "no spam doc reached the rejected sink: the plant is broken")
  }

  /** `batches` 20k-row micro-batches through
    * [[graft.streaming.EventStreams.validateAndRouteCommitted]] in
    * segments: each segment drops its files, drains an AvailableNow
    * query off the SAME checkpoint (restart-resume), then compacts and
    * vacuums both tables. Composed over the run: exactly-once routing,
    * an idempotent replay, a planted uncommitted partition invisible
    * and vacuumed, a bounded `_commits` listing, flat segment times and
    * a flat stream offset (the bytes a stream following `valid` would
    * checkpoint). */
  private def longrun(spark: SparkSession, batches: Long): Fields = withTempDir("scale-longrun") { root =>
    val (drop, valid, errors) = (s"$root/drop", s"$root/valid", s"$root/errors")
    val rowsPerBatch = 20000L
    val segs = segments(batches.toInt).map { seg =>
      seg.foreach { b =>
        bankDrop(spark, rowsPerBatch, 5000 + b).coalesce(1).write.mode("append").parquet(drop)
      }
      val (_, sec) = time {
        graft.streaming.EventStreams.validateAndRouteCommitted(
          spark.readStream.schema(spark.read.parquet(drop).schema)
            .option("maxFilesPerTrigger", "1").parquet(drop),
          graft.bank.BankRules.all, "PayeeID", valid, errors, s"$root/ckpt").awaitTermination()
        // maintenance while nothing else writes (the quiescence the
        // compaction contract documents)
        Seq(valid, errors).foreach { t =>
          CommitLog.compactLog(spark, t)
          CommitLog.vacuum(spark, t, graceMs = 0)
        }
      }
      val st = CommitLog.logState(spark, valid)
      val live = st.committed.toSet
      (sec, graft.sources.CommitLogStreamOffset(live, st.entries.toSet -- live).json().length)
    }
    val committed = CommitLog.committedBatches(spark, valid)
    def validRows = CommitLog.readCommitted(spark, valid).get.count()
    val (nValid, nError) = (validRows, CommitLog.readCommitted(spark, errors).get.count())
    // replay a committed batch verbatim, materialized first: the write
    // dynamically overwrites the very partition a lazy frame would read
    val (rId, bId) = committed.head
    val slice = CommitLog.readCommitted(spark, valid).get
      .where(col("run_id") === rId && col("batch_id") === bId).drop("run_id", "batch_id")
    CommitLog.writeBatch(
      spark.createDataFrame(java.util.Arrays.asList(slice.collect(): _*), slice.schema),
      valid, rId, bId)
    val afterReplay = validRows
    // a crash before the marker: files, no marker
    val torn = s"$valid/run_id=$rId/batch_id=999999"
    spark.range(100).write.mode("overwrite").parquet(torn)
    val withTorn = validRows
    CommitLog.vacuum(spark, valid, graceMs = 0)
    val fs = new Path(valid).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, listSec) = time(CommitLog.committedBatches(spark, valid))
    Fields("metric" -> "stream_longrun", "batches" -> batches, "rows_per_batch" -> rowsPerBatch,
      "segments" -> segs.size, "segment_secs" -> segs.map(_._1),
      "segment_max_over_min" -> flatness(segs.map(_._1)),
      "committed_batches" -> committed.size, "valid_rows" -> nValid, "error_rows" -> nError,
      "total_rows" -> batches * rowsPerBatch, "planted_errors" -> batches * plantedX(rowsPerBatch),
      "valid_after_replay" -> afterReplay, "valid_with_torn_partition" -> withTorn,
      "torn_partition_vacuumed" -> !fs.exists(new Path(torn)),
      "commits_files_after_compact" -> fs.listStatus(new Path(s"$valid/_commits")).length,
      "offset_bytes_per_segment" -> segs.map(_._2), "committed_list_ms" -> listSec * 1000)
  }

  private def checkLongrun(f: Fields): Unit = {
    require(f.long("committed_batches") == f.long("batches"),
      s"committed ${f("committed_batches")} of ${f("batches")} batches")
    require(f.long("valid_rows") + f.long("error_rows") == f.long("total_rows"),
      s"routed ${f.long("valid_rows") + f.long("error_rows")} of ${f("total_rows")} rows")
    require(f.long("error_rows") == f.long("planted_errors"),
      s"${f("error_rows")} error rows, planted ${f("planted_errors")}")
    require(f.long("valid_after_replay") == f.long("valid_rows"),
      s"replay changed the valid rows: ${f("valid_after_replay")}")
    require(f.long("valid_with_torn_partition") == f.long("valid_rows"),
      "an uncommitted partition leaked into a read")
    require(f.bool("torn_partition_vacuumed"), "vacuum left the uncommitted partition")
    // the snapshot plus the one replayed marker
    require(f.long("commits_files_after_compact") <= 3,
      s"_commits not bounded: ${f("commits_files_after_compact")} files")
    val offsets = f.seq("offset_bytes_per_segment").map(_.asInstanceOf[Int])
    // flat: a range's end in place of its start is all a later
    // segment adds, where listing batch ids would grow per batch
    require(offsets.max <= offsets.head + 1 + 2 * f.long("batches").toString.length,
      s"the stream offset grows with batches: $offsets")
  }

  /** A CDC replica ([[graft.streaming.CommitLogReplica]]) following a
    * source table through the change-feed stream off one checkpoint
    * (restart-resume per segment), over `batches` 5k-row appends plus
    * one upsert and one delete per segment. Per segment: replica ≡
    * source by count and content checksum, the CDC offset's bytes (one
    * range per rewrite run, never per append) and the staged
    * micro-batch dirs (bounded by the commit-time sweep). */
  private def cdcLongrun(spark: SparkSession, batches: Long): Fields =
      withTempDir("scale-cdc-longrun") { root =>
    val (src, rep, ckpt) = (s"$root/src", s"$root/rep", s"$root/ckpt")
    val rowsPerBatch = 5000L
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def checksum(table: String): (Long, Long) = {
      // bit_xor: order-independent, overflow-free under ANSI mode
      val r = CommitLog.readCommitted(spark, table).get
        .select(xxhash64(col("id"), col("v")).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val segs = segments(batches.toInt).zipWithIndex.map { case (seg, s) =>
      val (_, sec) = time {
        seg.foreach { b =>
          val base = b * rowsPerBatch
          CommitLog.writeBatchWithStats(spark.range(base, base + rowsPerBatch)
            .select(col("id"), concat(lit("v-"), col("id")).as("v")), src, "r1", b.toLong, Seq("id"))
        }
        // one update and one delete per segment: the change kinds a
        // replica must net, accumulating rewrite runs
        val k = seg.start * rowsPerBatch + 3
        CommitLog.upsert(spark, src,
          spark.range(k, k + 1).select(col("id"), concat(lit("UPD-"), col("id")).as("v")),
          "id", s"u$s", 0L, statsCols = Seq("id"))
        CommitLog.deleteWhere(spark, src, "id", "in", Seq(k + 1))
        val q = graft.streaming.CommitLogReplica.start(spark, src, rep, Seq("id"), ckpt,
          statsCols = Seq("id"))
        require(q.awaitTermination(240000), "cdc replica drain timed out")
        q.stop()
      }
      val st = CommitLog.logState(spark, src)
      val offset = graft.sources.CommitLogChangesOffset(
        st.entries.toSet, st.retired.keySet, st.tombstones.size).json().length
      val stage = new Path(s"$ckpt/graft-cdc-stage")
      val stageDirs = if (hfs.exists(stage)) hfs.listStatus(stage).length else 0
      // periodic maintenance on both tables, mid-life
      CommitLog.compactLog(spark, src); CommitLog.compactLog(spark, rep)
      (sec, offset, stageDirs, checksum(src) == checksum(rep))
    }
    Fields("metric" -> "cdc_longrun", "batches" -> batches, "rows_per_batch" -> rowsPerBatch,
      "segments" -> segs.size, "segment_secs" -> segs.map(_._1),
      "segment_max_over_min" -> flatness(segs.map(_._1)),
      "offset_bytes_per_segment" -> segs.map(_._2), "stage_dirs_per_segment" -> segs.map(_._3),
      "replica_equal_per_segment" -> segs.map(_._4))
  }

  private def checkCdcLongrun(f: Fields): Unit = {
    require(f.seq("replica_equal_per_segment").forall(_ == true),
      s"the replica diverged from the source: ${f("replica_equal_per_segment")}")
    // at most the in-flight tail per run, never one per micro-batch
    val stage = f.seq("stage_dirs_per_segment").map(_.asInstanceOf[Int])
    require(stage.last <= 3, s"stage dirs unbounded: $stage")
  }

  /** Change-feed bootstrap: a consumer replaying merges (one per 40k
    * rows, 2 to 24) over `rows` base rows (4 batches; each merge updates
    * 200 keys spread over every batch) through the write-time change
    * partitions, against the per-rewrite exceptAll reconstruction it
    * replaced (2 scans + a shuffle per historical rewrite, per
    * consumer). Same events both ways; the change-partition plan
    * carries no reconstruction node. */
  private def cdata(spark: SparkSession, rows: Long): Fields = withTempDir("scale-cdata") { root =>
    val src = s"$root/src"
    val (baseBatches, merges) = (4, math.min(24L, math.max(2L, rows / 40000)).toInt)
    val perBatch = rows / baseBatches
    (0 until baseBatches).foreach { b =>
      CommitLog.writeBatchWithStats(spark.range(b * perBatch, (b + 1) * perBatch)
        .select(col("id"), concat(lit("v-"), col("id")).as("v")), src, "base", b.toLong, Seq("id"))
    }
    val stride = perBatch * baseBatches / 200
    (0 until merges).foreach { m =>
      CommitLog.merge(spark, src, spark.range(0, 200).select((col("id") * stride + m).as("id"),
        concat(lit(s"upd$m-"), col("id")).as("v")), Seq("id"), s"m$m", 0L, statsCols = Seq("id"))
    }
    def feed(): ((Long, Long, String), Double) = time {
      val df = CommitLog.readChangeFeed(spark, src, 0L).get
      val r = df.select(xxhash64(col("id"), col("v"), col("change_type"), col("change_ts")).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), df.queryExecution.optimizedPlan.toString)
    }
    val ((h1, n1, plan), tCdata) = feed()
    // age the change partitions away: the legacy reconstruction path
    new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(s"$src/_changes"), true)
    val ((h2, n2, _), tLegacy) = feed()
    Fields("metric" -> "cdc_bootstrap", "merges" -> merges, "rows" -> perBatch * baseBatches,
      "rows_per_batch" -> perBatch, "events" -> n1, "cdata_secs" -> tCdata, "legacy_secs" -> tLegacy,
      "speedup" -> tLegacy / tCdata, "events_equal" -> (h1 == h2 && n1 == n2),
      "plan_reconstructs" -> (plan.contains("Except") || plan.contains("replicaterows") ||
        plan.toLowerCase.contains("leftanti")))
  }

  private def checkCdata(f: Fields): Unit = {
    require(f.bool("events_equal"), "change-partition and legacy events diverge")
    require(!f.bool("plan_reconstructs"), "the change-partition plan carries reconstruction nodes")
    require(f.long("events") >= f.long("rows"), s"${f("events")} events for ${f("rows")} rows")
  }

  /** Change-feed bootstrap plan flatness: synthetic logs of `txns`/4 and
    * `txns` merge transactions (each retires a one-row batch, adds its
    * rewrite and references a write-time change partition; built with
    * three partitioned write jobs plus driver renames and markers, with
    * a log compaction every 256 txns) replayed from zero by
    * `readChangeFeed`. Plan nodes must not grow with the window;
    * events are exact: one insert and one delete per txn. */
  private def cdataPlan(spark: SparkSession, txns: Long): Fields = withTempDir("scale-cdata-plan") { root =>
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = spark.sparkContext.defaultParallelism
    def build(n: Int): String = {
      val table = s"$root/t$n"
      def rows(v: String, run: Column) = spark.range(0, n)
        .select(col("id"), concat(lit(v), col("id")).as("v"), run.as("run_id"),
          col("id").as("batch_id"))
        .repartition(parts).write.partitionBy("run_id", "batch_id").mode("append").parquet(table)
      rows("orig-", lit("r"))
      rows("new-", concat(lit("rup"), lpad(lower(hex(col("id"))), 8, "0")))
      val stage = s"$root/stage$n"
      spark.range(0, n).select(col("id"), concat(lit("orig-"), col("id")).as("v"),
          lit("r").as("__orig_run"), col("id").as("__orig_batch"), col("id").as("__pd"))
        .repartition(parts).write.partitionBy("__pd").parquet(stage)
      val hfs = new Path(table).getFileSystem(conf)
      hfs.mkdirs(new Path(s"$table/_changes"))
      (0 until n).foreach { i =>
        hfs.rename(new Path(s"$stage/__pd=$i"), new Path(s"$table/_changes/cd$i"))
      }
      val schema = Seq("id" -> "BIGINT", "v" -> "STRING")
      CommitLog.commitTxn(spark, table,
        (0 until n).map(i => CommitLog.TxnAdd("r", i.toLong, Seq.empty, schema)), Seq.empty,
        ts = 1000L)
      (0 until n).foreach { i =>
        CommitLog.commitTxn(spark, table,
          Seq(CommitLog.TxnAdd(f"rup$i%08x", i.toLong, Seq.empty, schema)),
          retires = Seq(("r", i.toLong)), ts = 2000L + i, seq = Some(2000L + i),
          cdata = Some(s"cd$i"))
        // folds keep the conflict-check re-reads off an O(n) marker
        // listing and exercise cdata references across snapshot folds
        if ((i + 1) % 256 == 0) CommitLog.compactLog(spark, table)
      }
      table
    }
    def measure(table: String): Fields = {
      val ((df, nodes), tPlan) = time {
        val d = CommitLog.readChangeFeed(spark, table, 0L).get
        (d, d.queryExecution.optimizedPlan.collect { case p => p }.size)
      }
      val (byType, tExec) = time(df.groupBy("change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      Fields("plan_nodes" -> nodes, "plan_secs" -> tPlan, "exec_secs" -> tExec,
        "inserts" -> byType.getOrElse("insert", 0L), "deletes" -> byType.getOrElse("delete", 0L),
        "other_events" -> (byType - "insert" - "delete").values.sum)
    }
    val (small, big) = ((txns / 4).toInt, txns.toInt)
    val (tSmall, tBig) = (build(small), build(big))
    measure(tSmall) // warm code paths once
    Fields("metric" -> "cdc_bootstrap_plan", "txns_small" -> small, "txns_big" -> big,
      "small" -> measure(tSmall), "big" -> measure(tBig))
  }

  private def checkCdataPlan(f: Fields): Unit = {
    for (size <- Seq("small", "big")) {
      val m = f.obj(size)
      val n = f.long(s"txns_$size")
      require(m.long("inserts") == n && m.long("deletes") == n && m.long("other_events") == 0,
        s"bootstrap events wrong at $n txns: $m")
    }
    require(f.obj("big").long("plan_nodes") == f.obj("small").long("plan_nodes"),
      s"plan nodes grow with the window: ${f.obj("small")} vs ${f.obj("big")}")
  }

  /** OPTIMIZE planning flatness: tables of `batches` and 4×`batches`
    * one-file committed batches (driver-side dir copies + ONE txn
    * marker), where nothing needs compaction, so compactFiles is pure
    * planning: the per-batch file inventory a bounded pool lists in
    * parallel. The per-batch planning cost must stay flat. */
  private def optPlan(spark: SparkSession, batches: Long): Fields = withTempDir("scale-optplan") { root =>
    val conf = spark.sparkContext.hadoopConfiguration
    def build(n: Int): String = {
      val table = s"$root/t$n"
      CommitLog.writeBatch(
        spark.range(0, 100).select(col("id"), concat(lit("v-"), col("id")).as("v")).coalesce(1),
        table, "r1", 0L)
      val hfs = new Path(table).getFileSystem(conf)
      val tpl = new Path(s"$table/run_id=r1/batch_id=0")
      (1 until n).foreach { b =>
        FileUtil.copy(hfs, tpl, hfs, new Path(s"$table/run_id=r1/batch_id=$b"), false, conf)
      }
      CommitLog.commitTxn(spark, table, (1 until n).map(b => CommitLog.TxnAdd("r1", b.toLong)),
        Seq.empty)
      table
    }
    def plan(table: String): (Double, Int) = {
      // one small file per batch: planning only
      val (_, secs) = time(CommitLog.compactFiles(spark, table))
      (secs, CommitLog.logState(spark, table).retired.size)
    }
    val (n1, n4) = (batches.toInt, batches.toInt * 4)
    val (t1, t4) = (build(n1), build(n4))
    plan(t1) // warm FS and code paths once
    val ((small, rewroteSmall), (big, rewroteBig)) = (plan(t1), plan(t4))
    val (perSmall, perBig) = (small / n1 * 1e6, big / n4 * 1e6)
    Fields("metric" -> "optimize_planning", "batches_small" -> n1, "batches_big" -> n4,
      "secs_small" -> small, "secs_big" -> big,
      "us_per_batch_small" -> perSmall, "us_per_batch_big" -> perBig,
      "per_batch_ratio" -> perBig / perSmall, "batches_rewritten" -> (rewroteSmall + rewroteBig))
  }

  private def checkOptPlan(f: Fields): Unit =
    require(f.long("batches_rewritten") == 0,
      s"planning-only OPTIMIZE rewrote ${f("batches_rewritten")} batches")

  val all: Seq[ScaleCase] = Seq(
    ScaleCase("stream", "BENCH_SCALE_STREAM.json", 1000000L, fileDrop, checkFileDrop),
    ScaleCase("stream_longrun", "BENCH_SCALE_STREAM_LONGRUN.json", 120L, longrun, checkLongrun),
    ScaleCase("cdc_longrun", "BENCH_SCALE_CDC_LONGRUN.json", 60L, cdcLongrun, checkCdcLongrun),
    ScaleCase("cdata", "BENCH_SCALE_CDATA.json", 1000000L, cdata, checkCdata),
    ScaleCase("cdata_plan", "BENCH_SCALE_CDATA_BOOT.json", 2048L, cdataPlan, checkCdataPlan),
    ScaleCase("optplan", "BENCH_SCALE_OPTPLAN.json", 1000L, optPlan, checkOptPlan))
}
