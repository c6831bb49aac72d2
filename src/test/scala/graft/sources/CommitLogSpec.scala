package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"$tag-$i")).toDF("id", "v")

  test("uncommitted batches are never visible; commit flips visibility atomically") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtable").toString + "/t"

    CommitLog.writeBatch(rows(10, "a"), table, "r1", 0L)
    CommitLog.writeBatch(rows(20, "b"), table, "r1", 1L)
    assert(CommitLog.committedBatches(spark, table) == Seq(("r1", 0L), ("r1", 1L)))
    assert(CommitLog.readCommitted(spark, table).get.count() == 30)

    // crashed writer: data files land, marker never written
    rows(99, "crash").withColumn("run_id", lit("r1")).withColumn("batch_id", lit(2L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id", "batch_id").parquet(table)
    assert(CommitLog.readCommitted(spark, table).get.count() == 30,
      "torn batch visible through the log")
    // the legacy whole-table read has no such guarantee — the contrast
    assert(spark.read.parquet(table).count() == 129)

    // late commit makes exactly that batch visible
    CommitLog.commit(spark, table, "r1", 2L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 129)

    // replay of a committed batch stays exactly-once
    CommitLog.writeBatch(rows(20, "b"), table, "r1", 1L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 129)

    // partition columns survive the explicit-path read
    val df = CommitLog.readCommitted(spark, table).get
    assert(df.columns.toSet == Set("id", "v", "run_id", "batch_id"))
    assert(df.where(col("batch_id") === 2L).count() == 99)
  }

  test("empty log reads as None; second run's batches coexist") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtable2").toString + "/t"
    assert(CommitLog.readCommitted(spark, table).isEmpty)
    CommitLog.writeBatch(rows(5, "x"), table, "r1", 0L)
    CommitLog.writeBatch(rows(7, "y"), table, "r2", 0L)
    assert(CommitLog.committedBatches(spark, table).toSet ==
      Set(("r1", 0L), ("r2", 0L)))
    assert(CommitLog.readCommitted(spark, table).get.count() == 12)
  }

  test("compactLog folds markers into a snapshot without changing the committed set") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtable3").toString + "/t"
    for (b <- 0 until 5) CommitLog.writeBatch(rows(4, s"b$b"), table, "r1", b.toLong)
    val before = CommitLog.committedBatches(spark, table)
    CommitLog.compactLog(spark, table)
    assert(CommitLog.committedBatches(spark, table) == before)
    // exactly one snapshot file remains in the log
    val log = new java.io.File(s"$table/_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith("."))
    assert(log.count(_.endsWith(".snapshot")) == 1 && !log.exists(_.endsWith(".commit")))
    // commits after compaction append alongside the snapshot
    CommitLog.writeBatch(rows(4, "b5"), table, "r1", 5L)
    assert(CommitLog.committedBatches(spark, table).length == 6)
    assert(CommitLog.readCommitted(spark, table).get.count() == 24)
  }

  test("vacuum removes only uncommitted partitions past the grace window") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtable4").toString + "/t"
    CommitLog.writeBatch(rows(6, "keep"), table, "r1", 0L)
    rows(9, "orphan").withColumn("run_id", lit("r1")).withColumn("batch_id", lit(9L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id", "batch_id").parquet(table)
    // within grace: the orphan might be an in-flight writer — kept
    CommitLog.vacuum(spark, table, graceMs = 3600 * 1000)
    assert(new java.io.File(s"$table/run_id=r1/batch_id=9").exists())
    // past grace: reclaimed
    CommitLog.vacuum(spark, table, graceMs = 0L)
    assert(!new java.io.File(s"$table/run_id=r1/batch_id=9").exists())
    assert(new java.io.File(s"$table/run_id=r1/batch_id=0").exists())
    assert(CommitLog.readCommitted(spark, table).get.count() == 6)
  }

  test("racing reader only ever observes whole committed batches") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtable5").toString + "/t"
    val batchRows = 50
    @volatile var writerDone = false
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      while (!writerDone) {
        CommitLog.readCommitted(spark, table).foreach(df => observed.add(df.count()))
      }
    })
    reader.start()
    try {
      for (b <- 0 until 8)
        CommitLog.writeBatch(rows(batchRows, s"b$b"), table, "w", b.toLong)
    } finally { writerDone = true; reader.join(60000) }
    val counts = observed.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(counts.nonEmpty)
    // every observation is a whole number of batches, and monotone
    assert(counts.forall(c => c % batchRows == 0), s"torn read: ${counts.toSeq}")
    assert(counts.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
    assert(CommitLog.readCommitted(spark, table).get.count() == 8L * batchRows)
  }

  test("stats pruning: range reads list only intersecting batch dirs") {
    val table = java.nio.file.Files.createTempDirectory("graft-txstats").toString + "/t"
    // three batches covering disjoint id ranges
    def slab(lo: Long, n: Int, tag: String) =
      (0 until n).map(i => (lo + i, s"$tag-$i")).toDF("id", "v")
    CommitLog.writeBatchWithStats(slab(0L, 100, "a"), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(slab(1000L, 100, "b"), table, "r1", 1L, Seq("id"))
    CommitLog.writeBatchWithStats(slab(2000L, 100, "c"), table, "r1", 2L, Seq("id"))

    val pruned = CommitLog.readCommittedRange(spark, table, "id", 1010L, 1020L).get
    assert(pruned.count() == 11)
    // only batch 1's files were even listed
    assert(pruned.inputFiles.forall(_.contains("batch_id=1")),
      pruned.inputFiles.mkString(", "))
    // residual filter still applies inside the surviving batch
    assert(pruned.agg(min("id"), max("id")).collect()(0).toSeq == Seq(1010L, 1020L))

    // a predicate intersecting nothing returns an EMPTY frame with schema
    val none = CommitLog.readCommittedRange(spark, table, "id", 5000L, 6000L).get
    assert(none.count() == 0 && none.columns.contains("v"))

    // pruning equals the unpruned filtered read
    val full = CommitLog.readCommitted(spark, table).get
      .where(col("id").between(0L, 1005L)).select("id").collect().map(_.getLong(0)).sorted
    val pr = CommitLog.readCommittedRange(spark, table, "id", 0L, 1005L).get
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pr.toSeq == full.toSeq)
  }

  test("stats survive compaction; stat-less batches read conservatively") {
    val table = java.nio.file.Files.createTempDirectory("graft-txstats2").toString + "/t"
    def slab(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"x")).toDF("id", "v")
    CommitLog.writeBatchWithStats(slab(0L, 50), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(slab(500L, 50), table, "r1", 1L, Seq("id"))
    CommitLog.writeBatch(slab(900L, 50), table, "r1", 2L) // NO stats
    CommitLog.compactLog(spark, table)
    // folded: stats still prune batch 0; batch 2 (no stats) always read
    val got = CommitLog.readCommittedRange(spark, table, "id", 510L, 520L).get
    assert(got.count() == 11)
    assert(got.inputFiles.forall(f =>
      f.contains("batch_id=1") || f.contains("batch_id=2")),
      got.inputFiles.mkString(", "))
    assert(CommitLog.batchStats(spark, table).contains(("r1", 0L)))
    // string stats + separator characters round-trip the escaping
    val tricky = Seq(("a:b;c%d\te", 1L), ("zz", 2L)).toDF("v", "id")
    CommitLog.writeBatchWithStats(tricky, table, "r1", 3L, Seq("v"))
    val s = CommitLog.batchStats(spark, table)(("r1", 3L)).find(_.col == "v").get
    assert(s.typ == "str" && s.min == "a:b;c%d\te" && s.max == "zz")
  }

  test("schema evolution: added column reads NULL for prior batches; pruning stays exact") {
    val table = java.nio.file.Files.createTempDirectory("graft-txevo").toString + "/t"
    CommitLog.writeBatchWithStats(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(
      Seq((100L, "c", 1.5), (200L, "d", 2.5)).toDF("id", "v", "score"),
      table, "r1", 1L, Seq("id"))
    val all = CommitLog.readCommitted(spark, table).get
    assert(all.columns.toSet == Set("id", "v", "score", "run_id", "batch_id"))
    val rows = all.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    assert(rows == Map(1L -> null, 2L -> null, 100L -> 1.5, 200L -> 2.5))
    // batch-stats pruning still exact across the evolved span
    val pruned = CommitLog.readCommittedRange(spark, table, "id", 100L, 150L).get
    assert(pruned.select("id").collect().map(_.getLong(0)).toSeq == Seq(100L))
    assert(pruned.inputFiles.forall(_.contains("batch_id=1")),
      pruned.inputFiles.mkString(", "))
    // the zero-survivor empty frame carries the EVOLVED schema
    val none = CommitLog.readCommittedRange(spark, table, "id", 5000L, 6000L).get
    assert(none.count() == 0 && none.columns.contains("score"))
    // evolution survives compaction (schema folded into the snapshot)
    CommitLog.compactLog(spark, table)
    val folded = CommitLog.readCommitted(spark, table).get
    assert(folded.columns.contains("score") && folded.count() == 4)
    assert(CommitLog.batchSchemas(spark, table).contains(("r1", 1L)))
  }

  test("schema evolution: widening int->bigint casts up; incompatible drift fails loudly") {
    val wideT = java.nio.file.Files.createTempDirectory("graft-txwide").toString + "/t"
    CommitLog.writeBatch(Seq((1, "a")).toDF("id", "v"), wideT, "r1", 0L)
    CommitLog.writeBatch(Seq((5000000000L, "b")).toDF("id", "v"), wideT, "r1", 1L)
    val wide = CommitLog.readCommitted(spark, wideT).get
    assert(wide.schema("id").dataType.sql == "BIGINT", wide.schema.treeString)
    assert(wide.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5000000000L))
    val badT = java.nio.file.Files.createTempDirectory("graft-txbad").toString + "/t"
    CommitLog.writeBatch(Seq((1L, 10L)).toDF("id", "v"), badT, "r1", 0L)
    CommitLog.writeBatch(Seq((2L, "oops")).toDF("id", "v"), badT, "r1", 1L)
    val e = intercept[RuntimeException] {
      CommitLog.readCommitted(spark, badT).get.collect()
    }
    assert(e.getMessage.contains("'v'") && e.getMessage.contains("widening"),
      e.getMessage)
  }

  test("as-of-timestamp time travel: pinned commit times select exact batch sets") {
    val table = java.nio.file.Files.createTempDirectory("graft-txtime").toString + "/t"
    CommitLog.writeBatch(Seq((1L, "a")).toDF("id", "v"), table, "r1", 0L, ts = 1000L)
    CommitLog.writeBatch(Seq((2L, "b")).toDF("id", "v"), table, "r1", 1L, ts = 2000L)
    CommitLog.writeBatch(Seq((3L, "c")).toDF("id", "v"), table, "r1", 2L, ts = 3000L)
    def idsAsOf(t: Long) =
      CommitLog.readCommittedAsOfTimestamp(spark, table, t)
        .map(_.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(idsAsOf(500L).isEmpty)
    assert(idsAsOf(1000L).contains(Seq(1L)))
    assert(idsAsOf(2500L).contains(Seq(1L, 2L)))
    assert(idsAsOf(9999L).contains(Seq(1L, 2L, 3L)))
    // timestamps survive compaction (fourth snapshot field)
    CommitLog.compactLog(spark, table)
    assert(idsAsOf(2500L).contains(Seq(1L, 2L)))
    assert(CommitLog.batchTimestamps(spark, table) ==
      Map(("r1", 0L) -> 1000L, ("r1", 1L) -> 2000L, ("r1", 2L) -> 3000L))
    // stats/schema parsers are unconfused by the 4-field snapshot line
    assert(CommitLog.batchSchemas(spark, table).contains(("r1", 0L)))
    // a pre-timestamp batch (manual commit without ts is impossible
    // now, so simulate by the absence path: unknown ts => included)
    val later = CommitLog.readCommittedAsOfTimestamp(spark, table, 1500L).get
    assert(later.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // time travel COMPOSES with schema evolution: a widened batch
    // commits later; as-of T before it sees the narrow schema, after
    // it the evolved one (with NULLs for the old batches)
    CommitLog.writeBatch(Seq((4L, "d", 1.5)).toDF("id", "v", "score"),
      table, "r1", 3L, ts = 4000L)
    val before4k = CommitLog.readCommittedAsOfTimestamp(spark, table, 3500L).get
    assert(!before4k.columns.contains("score"))
    val after4k = CommitLog.readCommittedAsOfTimestamp(spark, table, 4000L).get
    assert(after4k.columns.contains("score") && after4k.count() == 4)
    assert(after4k.where(col("id") === 4L).select("score").head().getDouble(0) == 1.5)
    assert(after4k.where(col("id") === 1L).select("score").head().isNullAt(0))
  }

  test("non-finite double stats (NaN/Infinity) degrade to unprunable, not a crash") {
    val table = java.nio.file.Files.createTempDirectory("graft-txnan").toString + "/t"
    // a double column whose max is NaN (Spark orders NaN largest) and
    // one whose min is -Infinity: both serialize as strings BigDecimal
    // cannot parse — the batch must be conservatively read, with the
    // residual filter still exact
    val nanBatch = Seq((1L, 1.5), (2L, Double.NaN)).toDF("id", "score")
    val infBatch = Seq((3L, Double.NegativeInfinity), (4L, 2.5)).toDF("id", "score")
    val finite = Seq((5L, 100.0), (6L, 200.0)).toDF("id", "score")
    CommitLog.writeBatchWithStats(nanBatch, table, "r1", 0L, Seq("score"))
    CommitLog.writeBatchWithStats(infBatch, table, "r1", 1L, Seq("score"))
    CommitLog.writeBatchWithStats(finite, table, "r1", 2L, Seq("score"))
    val got = CommitLog.readCommittedRange(spark, table, "score", 1.0, 3.0).get
    // NaN is not BETWEEN 1 and 3 — the residual filter stays exact
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
    // both non-finite-stat batches were listed; the finite batch
    // [100, 200] is still pruned away
    val files = got.inputFiles
    assert(files.exists(_.contains("batch_id=0")) &&
      files.exists(_.contains("batch_id=1")) &&
      files.forall(f => !f.contains("batch_id=2")), files.mkString(", "))
  }

  test("as-of reads pin a snapshot that later commits cannot change") {
    val table = java.nio.file.Files.createTempDirectory("graft-txasof").toString + "/t"
    CommitLog.writeBatch(rows(10, "a"), table, "r1", 0L)
    CommitLog.writeBatch(rows(20, "b"), table, "r1", 1L)
    val asOf1 = CommitLog.readCommittedAsOf(spark, table, 1L).get.count()
    assert(asOf1 == 30)
    // a later batch does not change the pinned snapshot
    CommitLog.writeBatch(rows(40, "c"), table, "r1", 2L)
    assert(CommitLog.readCommittedAsOf(spark, table, 1L).get.count() == 30)
    assert(CommitLog.readCommitted(spark, table).get.count() == 70)
    // pinning survives compaction (markers fold, entries remain)
    CommitLog.compactLog(spark, table)
    assert(CommitLog.readCommittedAsOf(spark, table, 1L).get.count() == 30)
    assert(CommitLog.readCommittedAsOf(spark, table, -1L).isEmpty)
  }

  test("deleteWhere: rows vanish from prior batches only; time travel sees pre-delete state") {
    val table = java.nio.file.Files.createTempDirectory("graft-txdel").toString + "/t"
    CommitLog.writeBatch(rows(10, "a"), table, "r1", 0L, ts = 1000L)
    CommitLog.writeBatch(rows(20, "b"), table, "r1", 1L, ts = 2000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(3L, 5L), ts = 3000L)
    // ids 3 and 5 gone from BOTH prior batches
    val cur = CommitLog.readCommitted(spark, table).get
    assert(cur.count() == 26, cur.count().toString)
    assert(cur.where(col("id").isin(3L, 5L)).count() == 0)
    // a batch committed AFTER the delete keeps its 3 and 5 — the
    // tombstone recorded the exact batch set it applies to
    CommitLog.writeBatch(rows(10, "c"), table, "r1", 2L, ts = 4000L)
    val after = CommitLog.readCommitted(spark, table).get
    assert(after.count() == 36)
    assert(after.where(col("id").isin(3L, 5L)).count() == 2)
    // time travel: before the delete the rows exist; after, they don't
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get.count() == 30)
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 3500L).get.count() == 26)
    // range delete composes on top
    CommitLog.deleteWhere(spark, table, "id", "range", Seq(7L, 8L), ts = 5000L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 36 - 6)
    // batch-pinned reads apply deletes (a GDPR-delete reaches every
    // future read); only as-of-TIMESTAMP reads pre-delete history
    assert(CommitLog.readCommittedAsOf(spark, table, 1L).get.count() == 22)
    // NULL predicate values never match: a delete on v keeps null-v rows
    val withNull = Seq((100L, Option.empty[String]), (101L, Some("kill")))
      .toDF("id", "v")
    CommitLog.writeBatch(withNull, table, "r1", 3L, ts = 6000L)
    CommitLog.deleteWhere(spark, table, "v", "in", Seq("kill"), ts = 7000L)
    val fin = CommitLog.readCommitted(spark, table).get
    assert(fin.where(col("id") === 100L).count() == 1, "null row must survive")
    assert(fin.where(col("id") === 101L).count() == 0)
  }

  test("compactDeletes: copy-on-write rewrite, stats-pruned; vacuum reclaims retired dirs") {
    val table = java.nio.file.Files.createTempDirectory("graft-txcdel").toString + "/t"
    def idRows(lo: Long, n: Int, tag: String) =
      (0 until n).map(i => (lo + i, s"$tag-$i")).toDF("id", "v")
    CommitLog.writeBatchWithStats(idRows(0, 10, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    CommitLog.writeBatchWithStats(idRows(100, 10, "b"), table, "r1", 1L,
      Seq("id"), ts = 2000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(5L), ts = 3000L)
    CommitLog.compactDeletes(spark, table, ts = 4000L)
    // batch 1's stats [100,109] cannot contain 5 — it must NOT be
    // rewritten; batch 0 is retired and replaced by an r1rw* rewrite
    val st = CommitLog.logState(spark, table)
    assert(st.retired.keySet == Set(("r1", 0L)), st.retired.toString)
    val live = st.committed
    assert(live.exists { case (r, b) => r.startsWith("r1rw") && b == 0L }, live.toString)
    assert(live.contains(("r1", 1L)), "untouched batch must keep its original")
    val cur = CommitLog.readCommitted(spark, table).get
    assert(cur.count() == 19)
    assert(cur.where(col("id") === 5L).count() == 0)
    // pre-delete time travel still sees id 5 (retired dir still on disk)
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get.count() == 20)
    // re-running the same compaction is a no-op (same rewrite name)
    CommitLog.compactDeletes(spark, table, ts = 4500L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 19)
    assert(CommitLog.logState(spark, table).committed.size == 2)
    // rewritten batch keeps usable stats: a range read prunes on them
    val pruned = CommitLog.readCommittedRange(spark, table, "id", 0L, 9L).get
    assert(pruned.count() == 9)
    assert(!pruned.inputFiles.exists(_.contains("run_id=r1/batch_id=1")),
      "range read must prune the [100,109] batch")
    // log compaction preserves retire marks and tombstones
    CommitLog.compactLog(spark, table)
    assert(CommitLog.readCommitted(spark, table).get.count() == 19)
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get.count() == 20)
    // vacuum reclaims the retired dir once the grace window passes —
    // ending time travel into the pre-delete era
    CommitLog.vacuum(spark, table, graceMs = -1L)
    val (hfs, p) = {
      val pp = new org.apache.hadoop.fs.Path(s"$table/run_id=r1/batch_id=0")
      (pp.getFileSystem(spark.sparkContext.hadoopConfiguration), pp)
    }
    assert(!hfs.exists(p), "retired dir must be vacuumed")
    assert(CommitLog.readCommitted(spark, table).get.count() == 19)
  }

  test("upsert: CDC full-row merge — matched keys update, new keys insert, one atomic flip") {
    val table = java.nio.file.Files.createTempDirectory("graft-txup").toString + "/t"
    def idRows(lo: Long, n: Int, tag: String) =
      (0 until n).map(i => (lo + i, s"$tag-$i")).toDF("id", "v")
    CommitLog.writeBatchWithStats(idRows(0, 10, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    CommitLog.writeBatchWithStats(idRows(100, 10, "b"), table, "r1", 1L,
      Seq("id"), ts = 2000L)

    // upsert: ids 3,4 updated, 500,501 inserted
    val changes = Seq((3L, "NEW-3"), (4L, "NEW-4"), (500L, "NEW-500"),
      (501L, "NEW-501")).toDF("id", "v")
    CommitLog.upsert(spark, table, changes, "id", "r2", 0L, ts = 3000L,
      statsCols = Seq("id"))

    val cur = CommitLog.readCommitted(spark, table).get
    assert(cur.count() == 22)
    assert(cur.where(col("id") === 3L).select("v").as[String].head() == "NEW-3")
    assert(cur.where(col("id") === 500L).count() == 1)
    assert(cur.where(col("v") === "a-3").count() == 0, "old copy must be gone")
    assert(cur.groupBy("id").count().where(col("count") > 1).count() == 0,
      "no key may appear twice after an upsert")

    // batch-stats pruning: batch 1 ([100,109]) holds no upserted key —
    // it must NOT be rewritten; batch 0 is retired for an r1up* rewrite
    val st = CommitLog.logState(spark, table)
    assert(st.retired.keySet == Set(("r1", 0L)), st.retired.toString)
    assert(st.committed.contains(("r1", 1L)))
    assert(st.committed.exists { case (r, b) => r.startsWith("r1up") && b == 0L })
    assert(st.committed.contains(("r2", 0L)))

    // the rewrite recomputed its stats: a range read over [0,9] never
    // opens batch 1, and the rewrite's narrowed range still prunes
    val pruned = CommitLog.readCommittedRange(spark, table, "id", 0L, 9L).get
    assert(pruned.count() == 10) // 8 survivors + upserted 3,4
    assert(!pruned.inputFiles.exists(_.contains("run_id=r1/batch_id=1")))

    // pre-upsert time travel sees the original rows
    val before = CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get
    assert(before.count() == 20)
    assert(before.where(col("id") === 3L).select("v").as[String].head() == "a-3")
    assert(before.where(col("id") === 500L).count() == 0)

    // retrying the SAME upsert is idempotent in content: rewrite names
    // hash from the upsert identity, the new batch id is guarded
    intercept[IllegalArgumentException] {
      CommitLog.upsert(spark, table, changes, "id", "r2", 0L, ts = 3100L)
    }

    // a second upsert touching the REWRITE chains copy-on-write
    CommitLog.upsert(spark, table,
      Seq((4L, "NEWER-4")).toDF("id", "v"), "id", "r2", 1L, ts = 4000L,
      statsCols = Seq("id"))
    val cur2 = CommitLog.readCommitted(spark, table).get
    assert(cur2.count() == 22)
    assert(cur2.where(col("id") === 4L).select("v").as[String].head() == "NEWER-4")

    // log compaction folds transaction markers; everything still reads
    CommitLog.compactLog(spark, table)
    assert(CommitLog.readCommitted(spark, table).get.count() == 22)
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get.count() == 20)
    assert(CommitLog.readCommittedRange(spark, table, "id", 0L, 9L).get.count() == 10)

    // vacuum reclaims the retired originals after the grace window
    CommitLog.vacuum(spark, table, graceMs = -1L)
    val (hfs, p0) = {
      val pp = new org.apache.hadoop.fs.Path(s"$table/run_id=r1/batch_id=0")
      (pp.getFileSystem(spark.sparkContext.hadoopConfiguration), pp)
    }
    assert(!hfs.exists(p0), "retired original must be vacuumed")
    assert(CommitLog.readCommitted(spark, table).get.count() == 22)
  }

  test("upsert folds live tombstones into rewrites: a deleted row cannot resurrect") {
    import org.apache.spark.sql.functions.lit
    val table = java.nio.file.Files.createTempDirectory("graft-txupdel").toString + "/t"
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "v")
    CommitLog.writeBatchWithStats(base, table, "r1", 0L, Seq("id"), ts = 1000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(2L), ts = 2000L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 2)
    // the upsert rewrites batch 0 (key 1 matches); the rewrite must
    // NOT carry id 2 back to life (tombstones name original batches,
    // not rewrites)
    CommitLog.upsert(spark, table, Seq((1L, "ONE")).toDF("id", "v"),
      "id", "r2", 0L, ts = 3000L, statsCols = Seq("id"))
    val cur = CommitLog.readCommitted(spark, table).get
    assert(cur.count() == 2, cur.collect().mkString(","))
    assert(cur.where(col("id") === 2L).count() == 0, "deleted row resurrected")
    assert(cur.where(col("id") === 1L).select("v").as[String].head() == "ONE")

    // upsert with an evolved schema: the new batch adds a column; the
    // widening union reads old rows as NULL for it
    CommitLog.upsert(spark, table,
      Seq((9L, "nine")).toDF("id", "v").withColumn("extra", lit(7L)),
      "id", "r2", 1L, ts = 4000L)
    val evolved = CommitLog.readCommitted(spark, table).get
    assert(evolved.columns.contains("extra"))
    assert(evolved.where(col("id") === 9L).select("extra").as[Long].head() == 7L)
    assert(evolved.where(col("extra").isNull).count() == 2)

    // NULL keys: a NULL-keyed new row inserts, old rows survive
    CommitLog.upsert(spark, table,
      Seq((Option.empty[Long], Some("nullkey"))).toDF("id", "v"),
      "id", "r2", 2L, ts = 5000L)
    val withNull = CommitLog.readCommitted(spark, table).get
    assert(withNull.count() == 4)
    assert(withNull.where(col("id").isNull).count() == 1)
  }

  test("change feed: inserts, deletes, and upserts replay as an incremental event stream") {
    val table = java.nio.file.Files.createTempDirectory("graft-txcdf").toString + "/t"
    def idRows(lo: Long, n: Int, tag: String) =
      (0 until n).map(i => (lo + i, s"$tag-$i")).toDF("id", "v")
    CommitLog.writeBatchWithStats(idRows(0, 5, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    CommitLog.writeBatchWithStats(idRows(100, 5, "b"), table, "r1", 1L,
      Seq("id"), ts = 2000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(2L), ts = 3000L)
    CommitLog.upsert(spark, table,
      Seq((3L, "NEW-3"), (500L, "NEW-500")).toDF("id", "v"),
      "id", "r2", 0L, ts = 4000L, statsCols = Seq("id"))

    def feed(since: Long, until: Long = Long.MaxValue) =
      CommitLog.readChangeFeed(spark, table, since, until).get
        .select("change_type", "change_ts", "id", "v")
        .as[(String, Long, Option[Long], String)].collect().toSet

    // the full history: 10 inserts at 1000/2000, the id=2 delete at
    // 3000, the upsert at 4000 = delete of old 3 + inserts of NEW rows
    val all = feed(0L)
    assert(all.count(_._1 == "insert") == 12)
    assert(all.count(_._1 == "delete") == 2)
    assert(all.contains(("delete", 3000L, Some(2L), "a-2")))
    assert(all.contains(("delete", 4000L, Some(3L), "a-3")))
    assert(all.contains(("insert", 4000L, Some(3L), "NEW-3")))
    assert(all.contains(("insert", 4000L, Some(500L), "NEW-500")))

    // window boundaries: since is exclusive, until inclusive
    assert(feed(1000L, 2000L) ==
      idRows(100, 5, "b").as[(Long, String)].collect().toSet
        .map((r: (Long, String)) => ("insert", 2000L, Some(r._1), r._2)))
    // the upsert-only window carries exactly the delta
    val up = feed(3000L, 4000L)
    assert(up == Set(
      ("delete", 4000L, Some(3L), "a-3"),
      ("insert", 4000L, Some(3L), "NEW-3"),
      ("insert", 4000L, Some(500L), "NEW-500")))
    // empty window
    assert(CommitLog.readChangeFeed(spark, table, 4000L).isEmpty)

    // compactDeletes is the physical application of an already-
    // reported tombstone: the feed is unchanged by it
    CommitLog.compactDeletes(spark, table, ts = 5000L)
    assert(feed(0L) == all)
    assert(CommitLog.readChangeFeed(spark, table, 4500L).isEmpty)

    // a second delete matching an already-deleted row reports only
    // the still-visible matches (id=2 died at 3000, not again)
    CommitLog.deleteWhere(spark, table, "id", "range", Seq(1L, 2L), ts = 6000L)
    val d2 = feed(5000L, 6000L)
    assert(d2 == Set(("delete", 6000L, Some(1L), "a-1")))

    // vacuumed history fails loudly instead of a partial feed
    CommitLog.vacuum(spark, table, graceMs = -1L)
    val e = intercept[RuntimeException] { feed(0L) }
    assert(e.getMessage.contains("vacuumed"))
    // but windows after the vacuumed era still read
    assert(feed(5000L, 6000L) == d2)
  }

  test("merge: composite keys match per-column; deleteWhen removes, dropCols stay out") {
    val table = java.nio.file.Files.createTempDirectory("graft-txmerge").toString + "/t"
    // two batches with DISJOINT stats on the second key column — the
    // per-column prune must rewrite only the batch every key column
    // of some source key can live in
    CommitLog.writeBatchWithStats(
      Seq(("f1", 1L, "a-1"), ("f1", 2L, "a-2")).toDF("file", "payee", "v"),
      table, "r1", 0L, Seq("file", "payee"), ts = 1000L)
    CommitLog.writeBatchWithStats(
      Seq(("f2", 100L, "b-100"), ("f2", 101L, "b-101")).toDF("file", "payee", "v"),
      table, "r1", 1L, Seq("file", "payee"), ts = 2000L)

    // CDC op feed: update (f1,2), delete (f2,100), insert (f3,7) —
    // keyed on the composite (file, payee), op column dropped
    val feed = Seq(
      ("f1", 2L, "NEW-2", "U"),
      ("f2", 100L, null.asInstanceOf[String], "D"),
      ("f3", 7L, "NEW-7", "I")).toDF("file", "payee", "v", "op")
    CommitLog.merge(spark, table, feed, Seq("file", "payee"), "r2", 0L,
      ts = 3000L, statsCols = Seq("file", "payee"),
      deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))

    val out = CommitLog.readCommitted(spark, table).get
    assert(!out.columns.contains("op"), "op column must not land")
    val rows = out.select("file", "payee", "v")
      .as[(String, Long, String)].collect().toSet
    assert(rows == Set(
      ("f1", 1L, "a-1"), ("f1", 2L, "NEW-2"),   // update applied once
      ("f2", 101L, "b-101"),                     // delete removed 100
      ("f3", 7L, "NEW-7")), rows.toString)       // insert landed

    // pruning: batch (r1,0) was rewritten (its stats straddle the
    // update key); a batch whose SECOND column's stats exclude every
    // source key must NOT be rewritten even when the first matches
    CommitLog.writeBatchWithStats(
      Seq(("f1", 500L, "c-500")).toDF("file", "payee", "v"),
      table, "r1", 2L, Seq("file", "payee"), ts = 4000L)
    CommitLog.merge(spark, table,
      Seq(("f1", 1L, "NEWER-1")).toDF("file", "payee", "v"),
      Seq("file", "payee"), "r3", 0L, ts = 5000L,
      statsCols = Seq("file", "payee"))
    val live = CommitLog.committedBatches(spark, table)
    assert(live.contains(("r1", 2L)),
      s"(r1,2): file stats match but payee [500,500] excludes key 1 — must not rewrite: $live")
    assert(CommitLog.readCommitted(spark, table).get
      .where(col("payee") === 1L).select("v").as[String].collect().toSeq ==
      Seq("NEWER-1"))

    // pure-delete feed: matched rows vanish, no empty batch lands
    CommitLog.merge(spark, table,
      Seq(("f3", 7L, "x", "D")).toDF("file", "payee", "v", "op"),
      Seq("file", "payee"), "r4", 0L, ts = 6000L,
      statsCols = Seq("file", "payee"),
      deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
    assert(CommitLog.readCommitted(spark, table).get
      .where(col("file") === "f3").count() == 0)
    assert(!CommitLog.committedBatches(spark, table).contains(("r4", 0L)),
      "a pure-delete merge lands no new batch")
  }

  test("upsert with a float-keyed batch: widened probe never prunes the affected batch") {
    val table = java.nio.file.Files.createTempDirectory("graft-txfloat").toString + "/t"
    // FLOAT key column: stats render "0.1"/"2.5" from the float values
    CommitLog.writeBatchWithStats(
      Seq((0.1f, "old-a"), (2.5f, "old-b")).toDF("k", "v"),
      table, "r1", 0L, Seq("k"), ts = 1000L)
    // the CDC frame carries the SAME key widened to double — renders
    // "0.10000000149011612", outside the batch's rendered [0.1, 0.1]
    // decimal envelope, while Spark's own float→double cast compare
    // matches it exactly (the r16 ADVICE scenario)
    CommitLog.upsert(spark, table,
      Seq((0.1f.toDouble, "new-a")).toDF("k", "v"),
      "k", "r2", 0L, ts = 2000L, statsCols = Seq("k"))
    val out = CommitLog.readCommitted(spark, table).get
      .select(col("k").cast("double"), col("v")).as[(Double, String)]
      .collect().toSeq
    assert(out.count(_._1 == 0.1f.toDouble) == 1,
      s"stale float key copy must not survive the upsert: $out")
    assert(out.find(_._1 == 0.1f.toDouble).get._2 == "new-a")
    assert(out.size == 2, s"unmatched row survives untouched: $out")
  }

  test("concurrent rewrite conflict: retiring an already-retired batch fails loudly") {
    val table = java.nio.file.Files.createTempDirectory("graft-txconf").toString + "/t"
    CommitLog.writeBatchWithStats(rows(5, "a"), table, "r1", 0L, Seq("id"), ts = 1000L)
    // first upsert retires (r1, 0) behind its rewrite
    CommitLog.upsert(spark, table, Seq((1L, "NEW-1")).toDF("id", "v"),
      "id", "r2", 0L, ts = 2000L, statsCols = Seq("id"))
    // a SECOND transaction still retiring the original (stale state —
    // the race the r16 ADVICE described) must fail, not double rows
    CommitLog.writeBatch(rows(1, "x"), table, "r9", 0L, ts = 2500L)
    val e = intercept[RuntimeException] {
      CommitLog.commitTxn(spark, table,
        Seq(CommitLog.TxnAdd("r9", 1L)), retires = Seq(("r1", 0L)), ts = 3000L)
    }
    assert(e.getMessage.contains("conflict"))
    // same guard on the compactDeletes-style retiring commit
    val e2 = intercept[RuntimeException] {
      CommitLog.commitWithMeta(spark, table, "r9", 2L, Seq.empty, Seq.empty,
        ts = 3500L, retires = Seq(("r1", 0L)))
    }
    assert(e2.getMessage.contains("conflict"))
    // the table is still exactly the first upsert's result
    assert(CommitLog.readCommitted(spark, table).get
      .where(col("id") === 1L).count() == 1)
  }

  test("a batch with no rows commits no marker; with retires it only retires") {
    val table = java.nio.file.Files.createTempDirectory("graft-empty").toString + "/t"
    CommitLog.writeBatch(rows(3, "a"), table, "r1", 0L)
    CommitLog.writeBatch(rows(0, "b"), table, "r1", 1L)
    CommitLog.writeBatchWithStats(rows(0, "c"), table, "r1", 2L, Seq("id"))
    // a marker naming the missing (r1, 1) directory would fail this read
    assert(CommitLog.readCommitted(spark, table).get.count() == 3)
    assert(CommitLog.committedBatches(spark, table) == Seq(("r1", 0L)))
    // an empty rewrite of (r1, 0) retires it and adds nothing
    CommitLog.writeBatch(rows(0, "d"), table, "r2", 0L, retires = Seq(("r1", 0L)))
    assert(CommitLog.readCommitted(spark, table).isEmpty)
  }

  test("compactFiles: small files bin-pack copy-on-write; rows, stats and history survive") {
    val table = java.nio.file.Files.createTempDirectory("graft-txopt").toString + "/t"
    // a batch landed as 8 tiny files (the streaming-sink shape)
    CommitLog.writeDataOnly(rows(400, "a").repartition(8), table, "r1", 0L)
    CommitLog.commitWithMeta(spark, table, "r1", 0L,
      Seq(CommitLog.ColStats("id", "num", "0", "399")),
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L)
    // and one already-compact batch that must NOT be rewritten
    CommitLog.writeBatchWithStats(rows(10, "b").coalesce(1), table, "r1", 1L,
      Seq("id"), ts = 2000L)
    val before = CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSet

    CommitLog.compactFiles(spark, table, targetBytes = 128L * 1024 * 1024,
      ts = 3000L)
    val live = CommitLog.committedBatches(spark, table)
    assert(live.contains(("r1", 1L)), "compact batch untouched")
    assert(!live.contains(("r1", 0L)), "fragmented batch retired")
    val rw = live.filter(k => k._1.startsWith("r1rw") && k._2 == 0L)
    assert(rw.size == 1, live.toString)
    // one file now
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rwFiles = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/run_id=${rw.head._1}/batch_id=0")).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    assert(rwFiles.size == 1, s"bin-packed to one file: ${rwFiles.size}")
    // rows identical, stats recomputed on the recorded column
    assert(CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSet == before)
    assert(CommitLog.batchStats(spark, table)(rw.head)
      .exists(s => s.col == "id" && s.min == "0" && s.max == "399"))
    // pre-optimize time travel still sees the original lineage
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get
      .select("id", "v").as[(Long, String)].collect().toSet == before)
    // idempotent: a second pass finds nothing fragmented
    CommitLog.compactFiles(spark, table, ts = 4000L)
    assert(CommitLog.committedBatches(spark, table).toSet == live.toSet)
    // the change feed reports NO events for the rewrite (carried copies)
    assert(CommitLog.readChangeFeed(spark, table, 2500L).isEmpty)
  }

  test("merge over legacy schema-less batches rides the singleton-group fallback") {
    // batches committed via bare commit() record no marker schema —
    // rewriteBatchSet cannot prove a shared physical schema for them,
    // so each falls back to its own single-batch read group; the merge
    // result must be indistinguishable from the schema-recorded path
    val table = java.nio.file.Files.createTempDirectory("graft-txlegacy").toString + "/t"
    CommitLog.writeDataOnly(
      Seq((0L, "a-0"), (1L, "a-1")).toDF("id", "v"), table, "r1", 0L)
    CommitLog.commit(spark, table, "r1", 0L) // no schema, no stats
    CommitLog.writeDataOnly(
      Seq((10L, "b-10"), (11L, "b-11")).toDF("id", "v"), table, "r1", 1L)
    CommitLog.commit(spark, table, "r1", 1L)
    CommitLog.merge(spark, table,
      Seq((1L, "NEW-1"), (11L, "NEW-11"), (50L, "NEW-50")).toDF("id", "v"),
      Seq("id"), "r2", 0L, ts = 2000L, statsCols = Seq("id"))
    val out = CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(out == Set((0L, "a-0"), (1L, "NEW-1"), (10L, "b-10"),
      (11L, "NEW-11"), (50L, "NEW-50")), out.toString)
    // stat-less originals are unprunable → both rewritten and retired
    val st = CommitLog.logState(spark, table)
    assert(st.retired.keySet == Set(("r1", 0L), ("r1", 1L)))
  }

  test("OCC maintenance: OPTIMIZE racing a merge skips the contended batch, commits the rest") {
    val table = java.nio.file.Files.createTempDirectory("graft-txocc").toString + "/t"
    def frag(lo: Long, tag: String) = (0 until 20)
      .map(i => (lo + i, s"$tag-$i")).toDF("id", "v").repartition(5)
    CommitLog.writeDataOnly(frag(0, "a"), table, "r1", 0L)
    CommitLog.commitWithMeta(spark, table, "r1", 0L,
      Seq(CommitLog.ColStats("id", "num", "0", "19")),
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L)
    CommitLog.writeDataOnly(frag(100, "b"), table, "r1", 1L)
    CommitLog.commitWithMeta(spark, table, "r1", 1L,
      Seq(CommitLog.ColStats("id", "num", "100", "119")),
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 2000L)
    // the race, deterministically: OPTIMIZE plans from THIS snapshot...
    val stale = CommitLog.logState(spark, table)
    // ...then a CDC merge lands first and retires (r1, 0) behind its
    // own rewrite (stats prune the merge to batch 0 only)
    CommitLog.merge(spark, table, Seq((3L, "NEW-3")).toDF("id", "v"),
      Seq("id"), "cdc", 0L, ts = 3000L, statsCols = Seq("id"))
    // the stale-planned OPTIMIZE must NOT abort: the contended batch
    // OCC-skips (the merge's rewrite is the current state), the
    // disjoint batch compacts
    CommitLog.compactFilesFrom(spark, table, stale,
      targetBytes = 128L * 1024 * 1024, ts = 4000L, zorderBy = Seq.empty)
    val st = CommitLog.logState(spark, table)
    assert(st.committed.exists(k => k._1.startsWith("r1rw") && k._2 == 1L),
      s"disjoint batch must compact: ${st.committed}")
    assert(st.committed.exists(k => k._1.startsWith("r1up") && k._2 == 0L),
      s"the merge's rewrite must stay the winner: ${st.committed}")
    // no doubled or lost rows: exactly the merge's result, compacted
    val out = CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(out.size == 40 && out.toSet.size == 40, s"${out.size}")
    assert(out.count(_._1 == 3L) == 1 &&
      out.find(_._1 == 3L).get._2 == "NEW-3")
    // vacuum reclaims the skipped (never-committed) rewrite partition
    CommitLog.vacuum(spark, table, graceMs = -1L)
    assert(CommitLog.readCommitted(spark, table).get.count() == 40)
  }

  test("concurrent appends and OPTIMIZE: both succeed with no manual retry") {
    val table = java.nio.file.Files.createTempDirectory("graft-txocc2").toString + "/t"
    CommitLog.writeDataOnly(rows(100, "base").repartition(8), table, "r1", 0L)
    CommitLog.commitWithMeta(spark, table, "r1", 0L, Seq.empty,
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val appender = Future {
      for (b <- 1 to 5)
        CommitLog.writeBatch(
          (0 until 10).map(i => (1000L * b + i, s"app$b-$i")).toDF("id", "v"),
          table, "r2", b.toLong, ts = 2000L + b)
    }
    val optimizer = Future {
      CommitLog.compactFiles(spark, table, ts = 9000L)
    }
    Await.result(appender, 120.seconds)
    Await.result(optimizer, 120.seconds)
    // every append visible exactly once; the fragmented base compacted
    val got = CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(got.size == 150 && got.toSet.size == 150, s"${got.size}")
    assert(!CommitLog.committedBatches(spark, table).contains(("r1", 0L)),
      "base batch must have compacted")
  }

  test("OPTIMIZE ZORDER BY: per-file stats prune files inside surviving batches") {
    val table = java.nio.file.Files.createTempDirectory("graft-txzorder").toString + "/t"
    // two batches, 6 files each, x round-robin across files — every
    // file spans the whole x range, so a point filter must read ALL
    // files pre-zorder
    def batch(tag: String) = spark.range(600).select(
      col("id").as("x"), concat(lit(tag), col("id")).as("v"))
      .repartition(6)
    CommitLog.writeBatchWithStats(batch("a-"), table, "r1", 0L, Seq("x"), ts = 1000L)
    CommitLog.writeBatchWithStats(batch("b-"), table, "r1", 1L, Seq("x"), ts = 2000L)
    val before = CommitLog.readCommitted(spark, table).get
      .select("x", "v").as[(Long, String)].collect().toSet

    def filtered() = spark.read.format("graft_commitlog").load(table)
      .where(col("x").between(0, 9))
    val preFiles = CommitLogDataSource.scanInputFiles(filtered())
    assert(preFiles.size == 12, s"every file spans the range: ${preFiles.size}")

    // target sized to keep ~4 files per batch
    val hfs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchBytes = hfs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/run_id=r1/batch_id=0")).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")).map(_.getLen).sum
    CommitLog.compactFiles(spark, table, targetBytes = batchBytes / 4 + 1,
      ts = 3000L, zorderBy = Seq("x"))

    val st = CommitLog.logState(spark, table)
    val live = st.committed
    assert(live.forall(_._1.startsWith("r1rw")), s"every batch re-clustered: $live")
    assert(live.forall(k => st.meta(k).fileStats.nonEmpty),
      "markers must record per-file stats")
    // rows identical; the filtered read now opens a FILE subset
    assert(CommitLog.readCommitted(spark, table).get
      .select("x", "v").as[(Long, String)].collect().toSet == before)
    val postAll = CommitLogDataSource.scanInputFiles(
      spark.read.format("graft_commitlog").load(table))
    val postFiltered = CommitLogDataSource.scanInputFiles(filtered())
    assert(postFiltered.nonEmpty && postFiltered.size < postAll.size,
      s"x∈[0,9] must prune files: ${postFiltered.size} of ${postAll.size}")
    assert(postFiltered.size <= live.size * 2,
      s"~one z-range file per batch: ${postFiltered.size}")
    assert(filtered().select("x", "v").as[(Long, String)].collect().toSet ==
      before.filter(r => r._1 >= 0 && r._1 <= 9), "pruning never changes rows")

    // change feed silent (carried copies); pre-zorder time travel intact
    assert(CommitLog.readChangeFeed(spark, table, 2500L).isEmpty)
    assert(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get
      .select("x", "v").as[(Long, String)].collect().toSet == before)
    // per-file stats survive log compaction (folded snapshot field)
    CommitLog.compactLog(spark, table)
    val postSnap = CommitLogDataSource.scanInputFiles(filtered())
    assert(postSnap.toSet == postFiltered.toSet,
      "file pruning must survive compactLog")
  }

  test("compactFiles folds live tombstones like compactDeletes") {
    val table = java.nio.file.Files.createTempDirectory("graft-txopt2").toString + "/t"
    CommitLog.writeDataOnly(rows(100, "a").repartition(6), table, "r1", 0L)
    CommitLog.commitWithMeta(spark, table, "r1", 0L, Seq.empty,
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(5L), ts = 2000L)
    CommitLog.compactFiles(spark, table, ts = 3000L)
    val out = CommitLog.readCommitted(spark, table).get
    assert(out.count() == 99 && out.where(col("id") === 5L).count() == 0)
    // the delete was reported at ITS time, not re-reported by optimize
    assert(CommitLog.readChangeFeed(spark, table, 2500L).isEmpty)
  }

  test("wide merge: 64 affected batches rewrite with a FLAT Spark job count") {
    // the r17 shape was one spark.read→anti-join→write JOB PER BATCH
    // from a driver loop — wall-clock linear in batch count on a
    // cluster that could do them all at once. The single-job rewrite
    // must keep the job count O(1) while every batch still rewrites.
    val table = java.nio.file.Files.createTempDirectory("graft-txwide").toString + "/t"
    for (b <- 0 until 64)
      CommitLog.writeDataOnly(
        Seq((b.toLong, s"a-$b"), (1000L + b, s"keep-$b")).toDF("id", "v")
          .coalesce(1), table, "r1", b.toLong)
    (0 until 64).foreach(b => CommitLog.commitWithMeta(spark, table, "r1",
      b.toLong, Seq(CommitLog.ColStats("id", "num", b.toString,
        (1000L + b).toString)),
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L + b))

    val feed = (0 until 64).map(b => (b.toLong, s"NEW-$b")).toDF("id", "v")
    val sc = spark.sparkContext
    sc.setJobGroup("graft-wide-merge", "single-job rewrite scale gate")
    try CommitLog.merge(spark, table, feed, Seq("id"), "r2", 0L,
      ts = 9000L, statsCols = Seq("id"))
    finally sc.clearJobGroup()
    var jobs = 0
    var tries = 0
    while (tries < 50 && jobs == 0) {
      jobs = sc.statusTracker.getJobIdsForGroup("graft-wide-merge").length
      if (jobs == 0) Thread.sleep(100)
      tries += 1
    }
    Thread.sleep(500) // let the status store drain the listener bus
    jobs = sc.statusTracker.getJobIdsForGroup("graft-wide-merge").length
    // 24: the r18 single-job rewrite budget (≈14 observed) plus the
    // r19 write-time change-data pass (one combined scan + semi-join
    // write, a constant ~3-5 jobs) — still O(1) in batch count, which
    // is what this gate protects (the r17 loop was 641 jobs here)
    assert(jobs > 0 && jobs <= 24,
      s"wide merge must submit O(1) jobs, not one per batch: $jobs for 64 batches")

    // and the rewrite is CORRECT: every key updated once, carried rows
    // survive, every original retired behind a live rewrite
    val out = CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(out.size == 128, s"${out.size}")
    assert((0 until 64).forall(b => out((b.toLong, s"NEW-$b"))))
    assert((0 until 64).forall(b => out((1000L + b, s"keep-$b"))))
    val st = CommitLog.logState(spark, table)
    assert(st.retired.keySet == (0 until 64).map(b => ("r1", b.toLong)).toSet)
    assert(st.committed.count(_._1.startsWith("r1up")) == 64,
      "each original must retire behind its own rewrite partition")
    // rewrites carry recomputed stats: a point read prunes to one dir
    val pruned = CommitLog.readCommittedRange(spark, table, "id", 1005L, 1005L).get
    assert(pruned.count() == 1)
  }

  test("merge past the 10k-key cap: per-column typed envelope prunes, never drops a match") {
    val table = java.nio.file.Files.createTempDirectory("graft-txenv").toString + "/t"
    import spark.implicits._
    // batch A: keys (0..50, grp 0..50); batch B: far-away key range —
    // the envelope of an 10001-key feed must touch A and PRUNE B
    CommitLog.writeBatchWithStats(
      (0L to 50L).map(i => (i, i, s"a-$i")).toDF("k1", "k2", "v"),
      table, "r1", 0L, Seq("k1", "k2"), ts = 1000L)
    CommitLog.writeBatchWithStats(
      (1000000L to 1000050L).map(i => (i, i, s"b-$i")).toDF("k1", "k2", "v"),
      table, "r1", 1L, Seq("k1", "k2"), ts = 2000L)
    // 10001 distinct composite keys => someKeys overflows the cap and
    // the per-COLUMN min/max envelope path must engage (the kRow
    // 2i/2i+1 indexing across multiple key columns)
    val feed = spark.range(0L, 10001L)
      .select(col("id").as("k1"), col("id").as("k2"),
        concat(lit("new-"), col("id")).as("v"))
    CommitLog.merge(spark, table, feed, Seq("k1", "k2"), "r2", 0L,
      ts = 3000L, statsCols = Seq("k1", "k2"))
    val live = CommitLog.committedBatches(spark, table)
    assert(live.contains(("r1", 1L)),
      s"batch B outside the envelope must not be rewritten: $live")
    assert(!live.contains(("r1", 0L)), "batch A must be rewritten")
    val out = CommitLog.readCommitted(spark, table).get
    assert(out.count() == 10001 + 51, "10001 landed + B's 51 untouched")
    assert(out.where(col("k1") <= 50L && !col("v").startsWith("new-"))
      .count() == 0, "every matched old copy replaced")
  }

  test("history: every logged event, newest first, from markers alone") {
    val table = java.nio.file.Files.createTempDirectory("graft-txhist").toString + "/t"
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"), ts = 1000L)
    CommitLog.writeBatch(rows(5, "b"), table, "r1", 1L, ts = 2000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(1L), ts = 3000L)
    CommitLog.upsert(spark, table, Seq((2L, "NEW")).toDF("id", "v"),
      "id", "r2", 0L, ts = 4000L, statsCols = Seq("id"))
    val h = CommitLog.history(spark, table)
      .select("ts", "operation", "run_id", "details").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(h.head._1 == 4000L, "newest first")
    assert(h.count(_._2 == "append") == 3, h.mkString("\n")) // r1x2 + upsert's new batch
    assert(h.exists(t => t._2 == "delete" && t._3 == "" &&
      t._4.contains("id in 1")))
    assert(h.exists(t => t._2 == "upsert" && t._4.contains("run_id=r1")))
    assert(h.exists(t => t._2 == "retire" && t._3 == "r1"))
    // history survives log compaction (markers fold, events remain)
    CommitLog.compactLog(spark, table)
    val h2 = CommitLog.history(spark, table).collect()
    assert(h2.length == h.length)
  }

  test("run ids with marker-format separators are rejected up front") {
    val table = java.nio.file.Files.createTempDirectory("graft-txrunid").toString + "/t"
    for (bad <- Seq("a,b", "a\tb", "a\nb")) {
      val e = intercept[IllegalArgumentException] {
        CommitLog.writeBatch(rows(1, "x"), table, bad, 0L)
      }
      assert(e.getMessage.contains("runId"))
    }
  }
}
