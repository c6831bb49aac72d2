package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r20: RESTORE — rollback to a recorded version/timestamp as one
  * atomic restore marker (re-adds metadata-only, post-target batches
  * retired, post-target tombstones cancelled), its history row, its
  * survival across compactLog, and the loud edges (vacuumed target,
  * tombstone re-activation). */
class CommitLogRestoreSpec extends SparkSpec {
  import spark.implicits._

  private def idRows(lo: Long, n: Int, tag: String) =
    (0 until n).map(i => (lo + i, s"$tag-$i")).toDF("id", "v")

  /** merge+delete history over one base batch; returns (table, seq
    * after base write, seq after merge, seq after delete). */
  private def mergeDeleteHistory(): (String, Long, Long, Long) = {
    val table = java.nio.file.Files.createTempDirectory("graft-restore").toString + "/t"
    CommitLog.writeBatchWithStats(idRows(0, 5, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    val v1 = CommitLog.logState(spark, table).maxSeq
    CommitLog.merge(spark, table,
      Seq((1L, "B-1"), (10L, "B-10")).toDF("id", "v"),
      Seq("id"), "m", 0L, ts = 2000L, statsCols = Seq("id"))
    val v2 = CommitLog.logState(spark, table).maxSeq
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(2L), ts = 3000L)
    val v3 = CommitLog.logState(spark, table).maxSeq
    (table, v1, v2, v3)
  }

  private def contents(table: String): Set[(Long, String)] =
    CommitLog.readCommitted(spark, table).get
      .select("id", "v").as[(Long, String)].collect().toSet

  test("restore to a version rolls back a merge+delete history to seq-exact state") {
    val (table, v1, v2, _) = mergeDeleteHistory()
    // sanity: current state reflects merge (id 1 updated, 10 added)
    // and delete (id 2 gone)
    assert(contents(table) == Set(0L -> "a-0", 1L -> "B-1", 3L -> "a-3",
      4L -> "a-4", 10L -> "B-10"))
    CommitLog.restoreTo(spark, table, version = Some(v1), ts = 5000L)
    // seq-exact pre-merge state: every original row, nothing else
    assert(contents(table) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
    val st = CommitLog.logState(spark, table)
    assert(st.restores.size == 1)
    val r = st.restores.head
    assert(r.target == v1 && r.readds == Seq(("r1", 0L)) &&
      r.retires.size == 2 && r.cancels.size == 1)
    // the restore is its own versioned history event
    val hist = CommitLog.history(spark, table)
      .select("operation", "seq", "details")
      .as[(String, Long, String)].collect()
    val restoreRow = hist.filter(_._1 == "restore")
    assert(restoreRow.length == 1 && restoreRow.head._2 > v2,
      s"restore row versioned past the mutations: ${restoreRow.toSeq}")
    assert(restoreRow.head._3.contains(s"to seq $v1"))
    // pre-restore reads stay reproducible: as-of the merge era still
    // shows the merged+pre-delete state
    val asOf = CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(asOf == Set(0L -> "a-0", 1L -> "B-1", 2L -> "a-2", 3L -> "a-3",
      4L -> "a-4", 10L -> "B-10"))
    // and as-of the post-delete, pre-restore era applies the
    // (now-cancelled) delete
    val asOf2 = CommitLog.readCommittedAsOfTimestamp(spark, table, 3500L).get
      .select("id").as[Long].collect().toSet
    assert(asOf2 == Set(0L, 1L, 3L, 4L, 10L))
  }

  test("restore by timestamp; restore state survives compactLog; restore of a restore") {
    val (table, _, v2, _) = mergeDeleteHistory()
    CommitLog.restoreTo(spark, table, timestamp = Some(1500L), ts = 5000L)
    assert(contents(table) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
    // folding the log keeps the restore marker as its own file and
    // the decoded state identical
    CommitLog.compactLog(spark, table)
    assert(contents(table) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
    assert(CommitLog.logState(spark, table).restores.size == 1)
    // undo the undo: restore forward to the post-merge (pre-delete)
    // state — the cancelled tombstone postdates this target, so no
    // re-activation is needed
    CommitLog.restoreTo(spark, table, version = Some(v2), ts = 6000L)
    assert(contents(table) == Set(0L -> "a-0", 1L -> "B-1", 2L -> "a-2",
      3L -> "a-3", 4L -> "a-4", 10L -> "B-10"))
    assert(CommitLog.logState(spark, table).restores.size == 2)
  }

  test("restoring past a cancelled delete fails loudly (re-activation unsupported)") {
    val (table, v1, _, v3) = mergeDeleteHistory()
    CommitLog.restoreTo(spark, table, version = Some(v1), ts = 5000L)
    val e = intercept[RuntimeException] {
      CommitLog.restoreTo(spark, table, version = Some(v3), ts = 6000L)
    }
    assert(e.getMessage.contains("re-activating a cancelled delete"),
      e.getMessage)
  }

  test("restore to a vacuumed era fails loudly naming the missing batches") {
    val (table, v1, _, _) = mergeDeleteHistory()
    CommitLog.vacuum(spark, table, graceMs = -1L) // reclaims retired r1/0
    val e = intercept[RuntimeException] {
      CommitLog.restoreTo(spark, table, version = Some(v1), ts = 5000L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("the change feed replays a restore exactly: re-add inserts, rollback deletes, historical events kept") {
    val (table, v1, _, _) = mergeDeleteHistory()
    CommitLog.restoreTo(spark, table, version = Some(v1), ts = 5000L)
    val evs = CommitLog.readChangeFeed(spark, table, 0L).get
      .select("change_type", "change_ts", "id", "v")
      .as[(String, Long, Long, String)].collect().toSeq
    def at(tpe: String, t: Long) =
      evs.filter(e => e._1 == tpe && e._2 == t).map(e => (e._3, e._4)).toSet
    // full history: the original inserts, the merge's delete+inserts,
    // the (now-cancelled) tombstone's historical delete, then the
    // restore — full-batch deletes of the rolled-back state and the
    // re-add's inserts
    assert(at("insert", 1000L) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
    assert(at("delete", 2000L) == Set(1L -> "a-1"))
    assert(at("insert", 2000L) == Set(1L -> "B-1", 10L -> "B-10"))
    assert(at("delete", 3000L) == Set(2L -> "a-2"))
    assert(at("delete", 5000L) == Set(0L -> "a-0", 2L -> "a-2",
      3L -> "a-3", 4L -> "a-4", 1L -> "B-1", 10L -> "B-10"))
    assert(at("insert", 5000L) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
    assert(evs.size == 20, s"no extra events: ${evs.sorted}")
    // replaying ONLY the restore era nets to the restored state
    val tail = CommitLog.readChangeFeed(spark, table, 3500L).get
      .select("change_type", "id", "v").as[(String, Long, String)]
      .collect().toSet
    assert(tail.filter(_._1 == "insert").map(e => (e._2, e._3)) ==
      (0 until 5).map(i => i.toLong -> s"a-$i").toSet)
  }

  test("a cancelled delete in a still-live batch resurrects its rows in the feed") {
    val table = java.nio.file.Files.createTempDirectory("graft-resur").toString + "/t"
    CommitLog.writeBatchWithStats(idRows(0, 4, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    val v1 = CommitLog.logState(spark, table).maxSeq
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(1L, 2L), ts = 2000L)
    CommitLog.restoreTo(spark, table, version = Some(v1), ts = 3000L)
    // r1/0 was never retired: the restore only cancels the tombstone,
    // so the feed emits resurrection INSERTS for exactly the deleted
    // rows at the restore's time
    assert(contents(table) == (0 until 4).map(i => i.toLong -> s"a-$i").toSet)
    val evs = CommitLog.readChangeFeed(spark, table, 0L).get
      .select("change_type", "change_ts", "id", "v")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(evs.filter(e => e._1 == "insert" && e._2 == 3000L)
      .map(e => (e._3, e._4)).toSet == Set(1L -> "a-1", 2L -> "a-2"))
    assert(evs.filter(e => e._1 == "delete" && e._2 == 2000L)
      .map(e => (e._3, e._4)).toSet == Set(1L -> "a-1", 2L -> "a-2"))
    assert(evs.size == 4 + 2 + 2)
  }

  test("the streaming change feed fails loudly across a restore; offsets round-trip the restore count") {
    val o = CommitLogChangesOffset(Set(("r", 1L)), Set.empty, 2, 3)
    assert(CommitLogChangesOffset.parse(o.json()) == o)
    // a pre-r20 checkpoint line parses with restores = 0
    val legacy = CommitLogChangesOffset.parse("cdc1|r:1||2")
    assert(legacy == CommitLogChangesOffset(Set(("r", 1L)), Set.empty, 2, 0))

    val (table, v1, _, _) = mergeDeleteHistory()
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val dataSchema = org.apache.spark.sql.types.StructType(
      CommitLog.readCommitted(spark, table).get.schema.fields
        .filterNot(f => f.name == "run_id" || f.name == "batch_id"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val stream = new CommitLogChangesMicroBatchStream(table, dataSchema, ckpt)
    val s0 = stream.latestOffset() // checkpointed before the restore
    CommitLog.restoreTo(spark, table, version = Some(v1), ts = 5000L)
    val e = intercept[RuntimeException] {
      stream.planInputPartitions(s0, stream.latestOffset())
    }
    assert(e.getMessage.contains("RESTORE"), e.getMessage)
  }

  test("SQL RESTORE TO VERSION/TIMESTAMP AS OF maps onto restoreTo") {
    val (table, v1, _, _) = mergeDeleteHistory()
    val sess = spark.newSession()
    val out = sess.sql(
      s"RESTORE TABLE graft_commitlog.`$table` TO VERSION AS OF $v1")
      .collect()
    assert(out.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      == Seq((1L, 2L, 1L)))
    assert(CommitLog.readCommitted(sess, table).get.count() == 5)
    // a repeated restore to the same point is a clean no-op
    val again = sess.sql(
      s"RESTORE graft_commitlog.`$table` TO VERSION AS OF $v1").collect()
    assert(again.toSeq.map(r => r.getLong(0)) == Seq(0L))
  }
}
