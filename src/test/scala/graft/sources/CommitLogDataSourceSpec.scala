package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DSv2 front door must be indistinguishable from the library
  * read (same rows, same schema, same evolution/time-travel/delete
  * semantics) while exposing the format to plain SQL and keeping the
  * steady-state scan on Spark's vectorized parquet path with
  * batch-directory pruning visible in inputFiles. */
class CommitLogDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, tag: String, base: Long = 0L) =
    (0 until n).map(i => (base + i, s"$tag-$i")).toDF("id", "v")

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  private def canon(df: DataFrame): Seq[String] = {
    val names = df.columns.sorted.toSeq
    df.select(names.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  private def isVectorized(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectLeaves()
      .exists(_.getClass.getSimpleName == "BatchScanExec")

  test("format read ≡ readCommitted row-for-row (schema AND rows); torn batches invisible in inputFiles; dashed alias") {
    val table = tmp("graft-dsv2")
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(rows(10, "b", 10L), table, "r1", 1L, Seq("id"))
    CommitLog.writeBatchWithStats(rows(5, "c", 20L), table, "r2", 0L, Seq("id"))
    // torn batch: data files, no marker — must stay invisible via DSv2
    rows(99, "torn", 90L).withColumn("run_id", lit("r9")).withColumn("batch_id", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id", "batch_id").parquet(table)

    val lib = CommitLog.readCommitted(spark, table).get
    val dsv2 = spark.read.format("graft_commitlog").load(table)
    assert(dsv2.schema == lib.schema, "DSv2 schema must BE the library schema")
    assert(canon(dsv2) == canon(lib))
    assert(dsv2.count() == 25, "torn batch visible through DSv2")
    assert(isVectorized(dsv2), "steady-state read must be the vectorized parquet path")
    assert(dsv2.inputFiles.nonEmpty &&
      dsv2.inputFiles.forall(!_.contains("run_id=r9")),
      "torn batch files must never appear in inputFiles")

    val dashed = spark.read.format("graft-commitlog").load(table)
    assert(canon(dashed) == canon(lib))
  }

  test("SQL front door via GraftExtensions: SELECT over graft_commitlog.`/path`") {
    val table = tmp("graft-dsv2-sql")
    CommitLog.writeBatch(rows(6, "a"), table, "r1", 0L)
    CommitLog.writeBatch(rows(4, "b", 10L), table, "r1", 1L)
    val lib = canon(CommitLog.readCommitted(spark, table).get)

    val sess = spark.newSession()
    val sql = sess.sql(s"SELECT * FROM graft_commitlog.`$table`")
    assert(canon(sql) == lib)
    assert(sess.sql(
      s"SELECT count(*) AS n FROM graft_commitlog.`$table` WHERE id >= 10")
      .collect()(0).getLong(0) == 4L)
  }

  test("SQL change feed: graft_commitlog_changes table function replays the CDC events") {
    val table = tmp("graft-dsv2-cdf")
    CommitLog.writeBatchWithStats(rows(5, "a"), table, "r1", 0L,
      Seq("id"), ts = 1000L)
    CommitLog.upsert(spark, table,
      Seq((2L, "NEW-2"), (50L, "NEW-50")).toDF("id", "v"),
      "id", "r2", 0L, ts = 2000L, statsCols = Seq("id"))
    val lib = CommitLog.readChangeFeed(spark, table, 0L).get
      .select("change_type", "change_ts", "id", "v")
      .collect().map(_.toString).toSet

    val sess = spark.newSession()
    val sql = sess.sql(
      s"SELECT change_type, change_ts, id, v FROM graft_commitlog_changes('$table', 0)")
      .collect().map(_.toString).toSet
    assert(sql == lib)
    // window form + downstream composition
    assert(sess.sql(
      s"SELECT count(*) AS n FROM graft_commitlog_changes('$table', 1000, 2000) " +
        "WHERE change_type = 'delete'").collect()(0).getLong(0) == 1L)
    // empty window: empty relation in the feed's schema, not an error
    val empty = sess.sql(
      s"SELECT * FROM graft_commitlog_changes('$table', 2000)")
    assert(empty.count() == 0)
    assert(empty.columns.contains("change_type") && empty.columns.contains("v"))
  }

  test("pushed filters prune batch directories: inputFiles shows it, result stays exact") {
    val table = tmp("graft-dsv2-prune")
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(rows(10, "b", 10L), table, "r1", 1L, Seq("id"))
    CommitLog.writeBatchWithStats(rows(10, "c", 20L), table, "r1", 2L, Seq("id"))

    def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      CommitLogDataSource.scanInputFiles(df)
    val read = spark.read.format("graft_commitlog").load(table)
    val mid = read.where(col("id").between(12L, 15L))
    assert(scanFiles(mid).nonEmpty)
    assert(scanFiles(mid).forall(_.contains("batch_id=1")),
      s"stats pruning must keep only batch 1: ${scanFiles(mid)}")
    assert(canon(mid) ==
      canon(CommitLog.readCommittedRange(spark, table, "id", 12L, 15L).get))
    // conjunction across columns: v has no stats (unprunable), id prunes
    val conj = read.where(col("id") >= 20L && col("v").startsWith("c"))
    assert(scanFiles(conj).nonEmpty && scanFiles(conj).forall(_.contains("batch_id=2")))
    assert(conj.count() == 10)
    // IN-set pruning
    val inSet = read.where(col("id").isin(3L, 7L))
    assert(scanFiles(inSet).nonEmpty && scanFiles(inSet).forall(_.contains("batch_id=0")))
    assert(inSet.count() == 2)
    // partition-column pruning needs no stats at all
    val part = read.where(col("batch_id") === 2L)
    assert(scanFiles(part).nonEmpty && scanFiles(part).forall(_.contains("batch_id=2")))
    assert(part.count() == 10)
    // a zero-survivor predicate returns empty with intact schema
    val none = read.where(col("id") > 1000L)
    assert(none.count() == 0 && none.schema == read.schema)
  }

  test("asOfBatch and asOfTimestamp options replay the library's time travel; era schema") {
    val table = tmp("graft-dsv2-asof")
    CommitLog.writeBatch(rows(5, "a"), table, "r1", 0L, ts = 1000L)
    CommitLog.writeBatch(rows(5, "b", 5L), table, "r1", 1L, ts = 2000L)
    CommitLog.writeBatch(
      rows(5, "c", 10L).withColumn("extra", lit(7L)), table, "r1", 2L, ts = 3000L)

    val pinned = spark.read.format("graft_commitlog")
      .option("asOfBatch", "1").load(table)
    assert(canon(pinned) == canon(CommitLog.readCommittedAsOf(spark, table, 1L).get))

    val early = spark.read.format("graft_commitlog")
      .option("asOfTimestamp", "2500").load(table)
    assert(canon(early) ==
      canon(CommitLog.readCommittedAsOfTimestamp(spark, table, 2500L).get))
    assert(!early.columns.contains("extra"),
      "as-of T must see the schema of its era")
    val full = spark.read.format("graft_commitlog").load(table)
    assert(full.columns.contains("extra"))
    assert(full.where(col("extra").isNull).count() == 10,
      "pre-evolution batches read NULL for the added column")

    intercept[RuntimeException] {
      spark.read.format("graft_commitlog").option("asOfBatch", "1")
        .option("asOfTimestamp", "2500").load(table)
    }
    intercept[RuntimeException] {
      spark.read.format("graft_commitlog")
        .option("asOfTimestamp", "not-a-time").load(table).collect()
    }
  }

  test("schema evolution reads through DSv2: widening cast, fallback plan, loud drift") {
    val table = tmp("graft-dsv2-evo")
    CommitLog.writeBatch(
      rows(4, "a").withColumn("id", col("id").cast("int")), table, "r1", 0L)
    CommitLog.writeBatch(rows(4, "b", 100L), table, "r1", 1L)

    val lib = CommitLog.readCommitted(spark, table).get
    val dsv2 = spark.read.format("graft_commitlog").load(table)
    assert(dsv2.schema("id").dataType.sql == "BIGINT")
    assert(canon(dsv2) == canon(lib))
    assert(!isVectorized(dsv2),
      "mixed lineages must take the library-delegating fallback")

    // incompatible drift fails loudly AT PLAN TIME, naming the column
    val bad = tmp("graft-dsv2-drift")
    CommitLog.writeBatch(rows(3, "a"), bad, "r1", 0L)
    CommitLog.writeBatch(
      rows(3, "b").withColumn("id", concat(lit("x"), col("id"))), bad, "r1", 1L)
    val e = intercept[RuntimeException] {
      spark.read.format("graft_commitlog").load(bad)
    }
    assert(e.getMessage.contains("widening-only") && e.getMessage.contains("'id'"))
  }

  test("pruning away the lineage that declared a column still yields its NULLs") {
    val table = tmp("graft-dsv2-prune-evo")
    CommitLog.writeBatchWithStats(rows(5, "a"), table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(
      rows(5, "b", 100L).withColumn("extra", lit(9L)), table, "r1", 1L, Seq("id"))
    val read = spark.read.format("graft_commitlog").load(table)
    val onlyOld = read.where(col("id") < 50L)
    assert(onlyOld.count() == 5)
    assert(onlyOld.where(col("extra").isNull).count() == 5,
      "the added column survives pruning of every batch that declared it")
  }

  test("row-level deletes: residual-filtered until compactDeletes restores the fast path") {
    val table = tmp("graft-dsv2-del")
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"), ts = 1000L)
    CommitLog.writeBatchWithStats(rows(10, "b", 10L), table, "r1", 1L, Seq("id"), ts = 2000L)
    CommitLog.deleteWhere(spark, table, "id", "in", Seq(3L, 13L), ts = 3000L)

    val live = spark.read.format("graft_commitlog").load(table)
    assert(live.count() == 18)
    assert(live.where(col("id").isin(3L, 13L)).count() == 0)
    assert(!isVectorized(live), "live tombstones must take the fallback")
    assert(canon(live) == canon(CommitLog.readCommitted(spark, table).get))

    // pre-delete time travel through the option
    val before = spark.read.format("graft_commitlog")
      .option("asOfTimestamp", "2500").load(table)
    assert(before.count() == 20)

    CommitLog.compactDeletes(spark, table, ts = 4000L)
    val after = spark.read.format("graft_commitlog").load(table)
    assert(after.count() == 18)
    assert(isVectorized(after), "compaction must restore the vectorized path")
    assert(after.inputFiles.exists(_.contains("rw")),
      "the scan must read the rewrite partitions")
    assert(canon(after) == canon(CommitLog.readCommitted(spark, table).get))
  }

  test("empty table errors loudly; missing path errors loudly") {
    val empty = tmp("graft-dsv2-empty")
    val e = intercept[RuntimeException] {
      spark.read.format("graft_commitlog").load(empty)
    }
    assert(e.getMessage.contains("no committed batches"))
  }

  /** Run `body` in a fresh session (own SQL conf and function
    * registry) carrying the shared context's GraftExtensions — the SQL
    * front door. */
  private def withSqlSession(body: org.apache.spark.sql.SparkSession => Unit): Unit =
    body(spark.newSession())

  test("SQL INSERT INTO / INSERT OVERWRITE ride the marker protocol") {
    val table = tmp("graft-dsv2-ins")
    CommitLog.writeBatchWithStats(rows(3, "a"), table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      // minted batch: run_id/batch_id left NULL
      sess.sql(s"INSERT INTO graft_commitlog.`$table` " +
        "VALUES (100, 'ins-100', NULL, NULL), (101, 'ins-101', NULL, NULL)")
      val after = CommitLog.readCommitted(sess, table).get
      assert(after.count() == 5)
      val minted = CommitLog.committedBatches(sess, table)
        .filter(_._1.startsWith("sql"))
      assert(minted.size == 1, minted.toString)
      // the SQL write records stats: the new batch prunes on id
      assert(CommitLog.batchStats(sess, table)(minted.head)
        .exists(s => s.col == "id" && s.min == "100" && s.max == "101"))

      // explicit (run, batch) pin — one constant pair
      sess.sql(s"INSERT INTO graft_commitlog.`$table` " +
        "VALUES (200, 'pin-200', 'backfill', 7)")
      assert(CommitLog.committedBatches(sess, table).contains(("backfill", 7L)))
      // committed batches are immutable — same pair again fails
      val dup = intercept[Exception] {
        sess.sql(s"INSERT INTO graft_commitlog.`$table` " +
          "VALUES (201, 'x', 'backfill', 7)")
      }
      assert(dup.getMessage.contains("immutable"))

      // INSERT OVERWRITE: atomic whole-table replace, pre-overwrite
      // era reachable via time travel
      val before = CommitLog.logState(sess, table).committed.toSet
      sess.sql(s"INSERT OVERWRITE graft_commitlog.`$table` " +
        "VALUES (500, 'ow-500', NULL, NULL)")
      val now = CommitLog.readCommitted(sess, table).get
      assert(now.count() == 1 &&
        now.select("v").as[String](implicitly).collect()(0) == "ow-500")
      assert(CommitLog.logState(sess, table).committed.toSet
        .intersect(before).isEmpty, "overwrite retires every old batch")
    }
  }

  test("empty-source INSERT commits no dangling marker; empty OVERWRITE truncates") {
    // the r17 bug: INSERT ... SELECT ... WHERE false committed a
    // marker for a partition directory the empty write never created,
    // making the whole table unreadable
    val table = tmp("graft-dsv2-insempty")
    CommitLog.writeBatchWithStats(rows(3, "a"), table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      val batchesBefore = CommitLog.committedBatches(sess, table)
      sess.sql(s"INSERT INTO graft_commitlog.`$table` " +
        s"SELECT id, v, NULL, NULL FROM graft_commitlog.`$table` WHERE false")
      // no-op: no new marker, table still readable
      assert(CommitLog.committedBatches(sess, table) == batchesBefore)
      assert(CommitLog.readCommitted(sess, table).get.count() == 3)
      assert(sess.sql(s"SELECT count(*) FROM graft_commitlog.`$table`")
        .collect()(0).getLong(0) == 3L)
      // empty OVERWRITE = atomic truncate: retire everything, add nothing
      sess.sql(s"INSERT OVERWRITE graft_commitlog.`$table` " +
        s"SELECT id, v, NULL, NULL FROM graft_commitlog.`$table` WHERE false")
      assert(CommitLog.readCommitted(sess, table).isEmpty,
        "empty overwrite truncates the committed set")
    }
  }

  test("SQL DELETE FROM maps onto tombstones; unsupported shapes fail loudly") {
    val table = tmp("graft-dsv2-del")
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      sess.sql(s"DELETE FROM graft_commitlog.`$table` WHERE id IN (1, 3)")
      sess.sql(s"DELETE FROM graft_commitlog.`$table` WHERE id BETWEEN 7 AND 8")
      val left = CommitLog.readCommitted(sess, table).get
        .select("id").as[Long](implicitly).collect().toSet
      assert(left == Set(0L, 2L, 4L, 5L, 6L, 9L), left.toString)
      // a shape with no exact tombstone form rides the r19 delete-only
      // self-source merge instead of being rejected (copy-on-write,
      // no new tombstone)
      sess.sql(s"DELETE FROM graft_commitlog.`$table` WHERE v LIKE '%4'")
      val left2 = CommitLog.readCommitted(sess, table).get
        .select("id").as[Long](implicitly).collect().toSet
      assert(left2 == Set(0L, 2L, 5L, 6L, 9L), left2.toString)
      assert(CommitLog.logState(sess, table).tombstones.size == 2)
      // DELETE with no WHERE retires the whole committed set atomically
      sess.sql(s"DELETE FROM graft_commitlog.`$table`")
      assert(CommitLog.readCommitted(sess, table).isEmpty)
    }
  }

  test("SQL MERGE INTO maps onto CommitLog.merge: update/delete/insert, composite keys") {
    val table = tmp("graft-dsv2-merge")
    CommitLog.writeBatchWithStats(
      Seq(("f1", 1L, "a-1"), ("f1", 2L, "a-2"), ("f2", 9L, "a-9"))
        .toDF("file", "payee", "v"),
      table, "r1", 0L, Seq("file", "payee"))
    withSqlSession { sess =>
      sess.createDataFrame(Seq(("f1", 2L, "NEW-2", "U"),
        ("f2", 9L, "zz", "D"), ("f3", 5L, "NEW-5", "I")))
        .toDF("file", "payee", "v", "op").createOrReplaceTempView("feed")
      sess.sql(
        s"""MERGE INTO graft_commitlog.`$table` AS t USING feed AS s
           |ON t.file = s.file AND t.payee = s.payee
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = CommitLog.readCommitted(sess, table).get
        .select("file", "payee", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(out == Set(
        ("f1", 1L, "a-1"), ("f1", 2L, "NEW-2"),
        ("f3", 5L, "NEW-5")), out.toString)
      assert(!CommitLog.readCommitted(sess, table).get.columns.contains("op"),
        "source-only op column must not land")

      // delete-only MERGE: non-delete source rows touch nothing
      sess.createDataFrame(Seq(("f1", 1L, "ignored", "D"),
        ("f3", 5L, "ignored", "U")))
        .toDF("file", "payee", "v", "op").createOrReplaceTempView("feed2")
      sess.sql(
        s"""MERGE INTO graft_commitlog.`$table` t USING feed2 s
           |ON t.file = s.file AND t.payee = s.payee
           |WHEN MATCHED AND s.op = 'D' THEN DELETE""".stripMargin)
      val out2 = CommitLog.readCommitted(sess, table).get
        .select("file", "payee", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(out2 == Set(("f1", 2L, "NEW-2"), ("f3", 5L, "NEW-5")),
        out2.toString)

      // unsupported shapes fail NAMING the supported form
      val e = intercept[Exception] {
        sess.sql(
          s"""MERGE INTO graft_commitlog.`$table` t USING feed s
             |ON t.file = s.file AND t.payee = s.payee
             |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      }
      assert(e.getMessage.contains("UPDATE SET *"), e.getMessage)

      // a TARGET-qualified delete condition is rejected, never
      // silently rewritten to evaluate against the source column
      // (the r17 bug: `t.op = 'D'` quietly became `s.op = 'D'`)
      val tq = intercept[Exception] {
        sess.sql(
          s"""MERGE INTO graft_commitlog.`$table` t USING feed s
             |ON t.file = s.file AND t.payee = s.payee
             |WHEN MATCHED AND t.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      }
      assert(tq.getMessage.contains("target-qualified") &&
        tq.getMessage.contains("SOURCE"), tq.getMessage)
    }
  }

  test("SQL UPDATE maps onto a self-source merge; unsupported shapes fail loudly") {
    val table = tmp("graft-dsv2-upd")
    val mirror = tmp("graft-dsv2-updm")
    val base = Seq((0L, "a-0", 10L), (1L, "a-1", 20L), (2L, "a-2", 30L),
      (3L, "a-3", 40L)).toDF("id", "v", "n")
    CommitLog.writeBatchWithStats(base, table, "r1", 0L, Seq("id"))
    CommitLog.writeBatchWithStats(base, mirror, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      sess.sql(s"UPDATE graft_commitlog.`$table` " +
        "SET v = concat(v, '!'), n = n + 100 WHERE id IN (1, 3)")
      // ≡ the library merge with the equivalent self-source, row-for-row
      val src = CommitLog.readCommitted(sess, mirror).get
        .where(col("id").isin(1L, 3L))
        .select(col("id"), concat(col("v"), lit("!")).as("v"),
          (col("n") + 100).as("n"))
      CommitLog.merge(sess, mirror, src, Seq("id"), "m1", 0L,
        statsCols = Seq("id", "v", "n"))
      assert(canon(CommitLog.readCommitted(sess, table).get
          .select("id", "v", "n")) ==
        canon(CommitLog.readCommitted(sess, mirror).get
          .select("id", "v", "n")))
      assert(canon(sess.sql(s"SELECT id, v, n FROM graft_commitlog.`$table`")) ==
        canon(CommitLog.readCommitted(sess, mirror).get
          .select("id", "v", "n")))
      // simultaneous-assignment semantics: SET v = n, n = id reads the
      // ORIGINAL row for both (n must not see the new v)
      sess.sql(s"UPDATE graft_commitlog.`$table` " +
        "SET v = cast(n as string), n = id WHERE id = 0")
      val r0 = CommitLog.readCommitted(sess, table).get
        .where(col("id") === 0L).select("v", "n").collect()(0)
      assert(r0.getString(0) == "10" && r0.getLong(1) == 0L, r0.toString)

      // unsupported shapes fail NAMING the supported form
      def rejects(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { sess.sql(sql) }
        assert(e.getMessage.contains(needle),
          s"$sql =>\n${e.getMessage}")
      }
      rejects(s"UPDATE graft_commitlog.`$table` SET v = 'x'",
        "no WHERE clause")
      rejects(s"UPDATE graft_commitlog.`$table` SET id = 9 WHERE id = 1",
        "WHERE column")
      rejects(s"UPDATE graft_commitlog.`$table` SET v = 'x' " +
        "WHERE batch_id = 0", "system column")
      rejects(s"UPDATE graft_commitlog.`$table` SET v = 'x' " +
        "WHERE rand() > 0.5 AND id = 1", "nondeterministic")
      rejects(s"UPDATE graft_commitlog.`$table` SET v = 'x' " +
        s"WHERE id IN (SELECT id FROM graft_commitlog.`$table`)",
        "subquery")
      // a no-match UPDATE is a clean no-op
      val before = CommitLog.committedBatches(sess, table)
      sess.sql(s"UPDATE graft_commitlog.`$table` SET v = 'x' WHERE id = 999")
      assert(CommitLog.committedBatches(sess, table) == before)

      // multi-column WHERE (r19): every referenced column keys the
      // merge. Current state: (0,"10",0) (1,"a-1!",120) (2,"a-2",30)
      // (3,"a-3!",140) — the predicate matches id=2 only
      sess.sql(s"UPDATE graft_commitlog.`$table` " +
        "SET v = 'MULTI' WHERE id >= 2 AND n <= 130")
      val multi = CommitLog.readCommitted(sess, table).get
        .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
      assert(multi(2L) == "MULTI" && multi(3L) == "a-3!" &&
        multi(1L) == "a-1!", multi.toString)
    }
  }

  test("SQL DELETE with non-tombstone predicates rides a delete-only self-source merge") {
    val table = tmp("graft-dsv2-delmerge")
    val base = Seq((Option(0L), "a-0", 10L), (Option(1L), "a-1", 20L),
      (Option(2L), "a-2", 30L), (Option(3L), "a-3", 40L),
      (Option(4L), "a-4", 50L), (Option(5L), "a-5", 60L),
      (Option.empty[Long], "a-null", 70L))
      .toDF("id", "v", "n")
    CommitLog.writeBatchWithStats(base, table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      // multi-conjunct, modulo — no tombstone form exists; the r18
      // surface loud-failed here. Copy-on-write: matched rows vanish,
      // no tombstone is recorded, the original retires behind a rewrite
      sess.sql(s"DELETE FROM graft_commitlog.`$table` " +
        "WHERE id % 2 = 0 AND n > 15")
      val kept = CommitLog.readCommitted(sess, table).get
      val after = kept.where(col("id").isNotNull)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(after == Set(0L, 1L, 3L, 5L), after.toString) // 2,4 matched
      assert(kept.count() == 5, "the NULL-keyed unmatched row survives")
      val st = CommitLog.logState(sess, table)
      assert(st.tombstones.isEmpty, "physical delete, not a tombstone")
      assert(st.retired.keySet == Set(("r1", 0L)))
      // the change feed reports the physical deletes (write-time
      // change data — O(changed rows))
      val dels = CommitLog.readChangeFeed(sess, table, 0L).get
        .where(col("change_type") === "delete")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(dels == Set(2L, 4L))

      // tombstone-shaped predicates KEEP the cheap logical path
      sess.sql(s"DELETE FROM graft_commitlog.`$table` WHERE id = 1")
      val st2 = CommitLog.logState(sess, table)
      assert(st2.tombstones.size == 1, "shape with an exact tombstone " +
        "form must stay logical")
      assert(CommitLog.readCommitted(sess, table).get.count() == 4)

      // loud rejections, table untouched: a predicate MATCHING the
      // NULL-keyed row would silently skip it (the equi-join can
      // never remove it) — rejected naming the remedy
      def rejects(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { sess.sql(sql) }
        assert(e.getMessage.contains(needle), s"$sql =>\n${e.getMessage}")
      }
      rejects(s"DELETE FROM graft_commitlog.`$table` " +
        "WHERE id IS NULL OR n > 1000000", "NULL")
      rejects(s"DELETE FROM graft_commitlog.`$table` " +
        "WHERE rand() > 0.5 AND n > 5", "nondeterministic")
      assert(CommitLog.readCommitted(sess, table).get.count() == 4)
    }
  }

  test("SQL UPDATE rejects NULL-matching predicates instead of duplicating rows") {
    val table = tmp("graft-dsv2-updnull")
    val df = Seq((Option(1L), "a"), (Option.empty[Long], "b"),
      (Option(3L), "c")).toDF("id", "v")
    CommitLog.writeBatchWithStats(df, table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      val e = intercept[Exception] {
        sess.sql(s"UPDATE graft_commitlog.`$table` SET v = 'x' " +
          "WHERE id IS NULL OR id = 1")
      }
      assert(e.getMessage.contains("NULL"), e.getMessage)
      // nothing landed: the table is untouched
      assert(CommitLog.readCommitted(sess, table).get.count() == 3)
      assert(CommitLog.logState(sess, table).retired.isEmpty)
      // the non-NULL-matching form works
      sess.sql(s"UPDATE graft_commitlog.`$table` SET v = 'X' WHERE id = 1")
      assert(CommitLog.readCommitted(sess, table).get
        .where(col("v") === "X").count() == 1)
    }
  }

  test("SQL UPDATE stats-prunes its self-source scan to candidate batches") {
    val table = tmp("graft-dsv2-updprune")
    // three id-disjoint batches with recorded stats
    for (b <- 0 until 3)
      CommitLog.writeBatchWithStats(
        (0 until 10).map(i => (b * 100L + i, s"b$b-$i")).toDF("id", "v"),
        table, "r1", b.toLong, Seq("id"))
    val st = CommitLog.logState(spark, table)
    // the pruning primitive the command scans through: a point probe
    // lists exactly the one candidate batch's files
    val bounds = CommitLogSqlWrites.whereBounds(spark, "id = 105")
    assert(bounds == Seq(CommitLog.ColBound("id", Some(Seq(105L)), None, None)))
    assert(CommitLog.prunedCommitted(st, bounds) == Seq(("r1", 1L)))
    // range + conjunct bounds
    assert(CommitLog.prunedCommitted(st,
      CommitLogSqlWrites.whereBounds(spark, "id >= 200 AND id <= 205")) ==
      Seq(("r1", 2L)))
    // an unboundable predicate keeps every batch (residual filters)
    assert(CommitLog.prunedCommitted(st,
      CommitLogSqlWrites.whereBounds(spark, "id % 7 = 0")).size == 3)
    // end-to-end: the UPDATE touches only batch 1 (others' markers
    // stay live and un-rewritten) and is correct
    withSqlSession { sess =>
      sess.sql(s"UPDATE graft_commitlog.`$table` SET v = 'HIT' WHERE id = 105")
      val after = CommitLog.logState(sess, table)
      assert(after.retired.keySet == Set(("r1", 1L)),
        s"only the candidate batch rewrote: ${after.retired.keySet}")
      val out = CommitLog.readCommitted(sess, table).get
      assert(out.where(col("v") === "HIT").select("id")
        .collect().map(_.getLong(0)).toSeq == Seq(105L))
      assert(out.count() == 30)
    }
  }

  test("cross-type DML predicates never prune on mismatched stats families") {
    import spark.implicits._
    val table = tmp("graft-dsv2-coerce")
    // a STRING column whose stats span "01".."20": the numeric probe 5
    // compares lexicographically against them ("5" > "20"), while the
    // residual predicate coerces BOTH sides numerically — r19 pruned
    // the batch and the UPDATE silently skipped "05"
    CommitLog.writeBatchWithStats(
      Seq(("01", 1L), ("05", 2L), ("20", 3L)).toDF("s", "id"),
      table, "r1", 0L, Seq("s", "id"))
    val st = CommitLog.logState(spark, table)
    // numeric probe vs string stats → unprunable (family mismatch)
    assert(CommitLog.prunedCommitted(st,
      Seq(CommitLog.ColBound("s", Some(Seq(5)), None, None))) ==
      Seq(("r1", 0L)))
    assert(CommitLog.prunedCommitted(st,
      Seq(CommitLog.ColBound("s", None, Some(5), Some(7)))) ==
      Seq(("r1", 0L)))
    // string probe vs numeric stats → unprunable (conservative)
    assert(CommitLog.prunedCommitted(st,
      Seq(CommitLog.ColBound("id", Some(Seq("2")), None, None))) ==
      Seq(("r1", 0L)))
    // matched families still prune: a string point probe out of range
    assert(CommitLog.prunedCommitted(st,
      Seq(CommitLog.ColBound("s", Some(Seq("99")), None, None))).isEmpty)
    assert(CommitLog.prunedCommitted(st,
      Seq(CommitLog.ColBound("id", Some(Seq(99L)), None, None))).isEmpty)
    // end-to-end: the cross-type UPDATE reaches the row it matches
    withSqlSession { sess =>
      sess.sql(s"UPDATE graft_commitlog.`$table` SET id = 50 WHERE s = 5")
      assert(CommitLog.readCommitted(sess, table).get
        .where(col("s") === "05").select("id")
        .collect().map(_.getLong(0)).toSeq == Seq(50L))
    }
  }

  test("mixed-era tables: DML column validation unions marker-less batches' inferred columns") {
    import spark.implicits._
    val table = tmp("graft-dsv2-mixed")
    // era 1: schema-marker batch (id, v) with id stats 0..9
    CommitLog.writeBatchWithStats(rows(10, "a"), table, "r1", 0L, Seq("id"))
    // era 0 (pre-schema-marker writer): data + bare marker, column
    // `extra` exists ONLY here and is recorded NOWHERE
    CommitLog.writeDataOnly(
      Seq((100L, "b-0", "keep"), (101L, "b-1", "kill")).toDF("id", "v", "extra"),
      table, "r0", 0L)
    CommitLog.commit(spark, table, "r0", 0L)
    val st = CommitLog.logState(spark, table)
    // the validation column set sees the marker-less era's columns
    assert(CommitLogSqlWrites.dataColsOf(spark, table, st).toSet ==
      Set("id", "v", "extra"))
    // r19 loudly rejected `extra` as unknown; the id bound keeps the
    // merge machinery off the era-1 batch (which lacks the column)
    withSqlSession { sess =>
      sess.sql(s"DELETE FROM graft_commitlog.`$table` " +
        "WHERE extra = 'kill' AND id >= 100")
      val out = CommitLog.readCommitted(sess, table).get
      assert(out.count() == 11)
      assert(out.where(col("id") === 101L).isEmpty)
    }
  }

  test("SQL time travel: TIMESTAMP AS OF and VERSION AS OF map onto the read pins") {
    val table = tmp("graft-dsv2-tt")
    CommitLog.writeBatch(rows(5, "a"), table, "r1", 0L, ts = 1000L)
    CommitLog.writeBatch(rows(5, "b", 10L), table, "r1", 1L, ts = 2000L)
    withSqlSession { sess =>
      assert(sess.sql(s"SELECT count(*) FROM graft_commitlog.`$table` " +
        "FOR TIMESTAMP AS OF 1500").collect()(0).getLong(0) == 5L)
      assert(sess.sql(s"SELECT count(*) FROM graft_commitlog.`$table` " +
        "FOR VERSION AS OF 0").collect()(0).getLong(0) == 5L)
      assert(sess.sql(s"SELECT count(*) FROM graft_commitlog.`$table` " +
        "FOR TIMESTAMP AS OF 2500").collect()(0).getLong(0) == 10L)
      // string timestamp form routes through the same option parsing
      val byStr = sess.sql("SELECT count(*) FROM graft_commitlog." +
        s"`$table` FOR TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
        .collect()(0).getLong(0)
      assert(byStr == 5L, s"string-form pin: $byStr")
    }
  }

  test("SQL OPTIMIZE and VACUUM maintenance verbs via the delegating parser") {
    val table = tmp("graft-dsv2-opt")
    CommitLog.writeDataOnly(rows(200, "a").repartition(8), table, "r1", 0L)
    CommitLog.commitWithMeta(spark, table, "r1", 0L, Seq.empty,
      Seq("id" -> "BIGINT", "v" -> "STRING"), ts = 1000L)
    withSqlSession { sess =>
      val opt = sess.sql(s"OPTIMIZE graft_commitlog.`$table`").collect()
      assert(opt.length == 1 && opt(0).getLong(0) == 1L,
        s"one fragmented batch rewritten: ${opt.toSeq}")
      val live = CommitLog.committedBatches(sess, table)
      assert(live.exists(_._1.startsWith("r1rw")) && !live.contains(("r1", 0L)))
      assert(CommitLog.readCommitted(sess, table).get.count() == 200)
      // second pass: nothing fragmented
      assert(sess.sql(s"OPTIMIZE graft_commitlog.`$table` TARGET 64 MB")
        .collect()(0).getLong(0) == 0L)
      // VACUUM RETAIN 0 HOURS reclaims the retired original
      sess.sql(s"VACUUM graft_commitlog.`$table` RETAIN 0 HOURS")
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(sess.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$table/run_id=r1/batch_id=0")), "vacuum reclaims the retired dir")
      assert(CommitLog.readCommitted(sess, table).get.count() == 200)
      // plain SELECT still parses through the delegate untouched
      assert(sess.sql(s"SELECT count(*) FROM graft_commitlog.`$table`")
        .collect()(0).getLong(0) == 200L)
      // DESCRIBE HISTORY parity: the table function lists the
      // optimize rewrite and the original's retirement
      val ops = sess.sql(
        s"SELECT operation FROM graft_commitlog_history('$table')")
        .collect().map(_.getString(0)).toSeq
      assert(ops.contains("rewrite") && ops.contains("retire") &&
        ops.contains("append"), ops.toString)
      // OPTIMIZE ... ZORDER BY re-clusters every batch and records
      // per-file stats in the markers
      val z = sess.sql(s"OPTIMIZE graft_commitlog.`$table` " +
        "ZORDER BY (id) TARGET 64 MB").collect()
      assert(z(0).getLong(0) == 1L, s"zorder rewrites the batch: ${z.toSeq}")
      val st = CommitLog.logState(sess, table)
      assert(st.committed.forall(k => st.meta(k).fileStats.nonEmpty),
        "ZORDER must record per-file stats")
      assert(CommitLog.readCommitted(sess, table).get.count() == 200)
    }
  }

  test("CREATE TABLE ... USING graft_commitlog registers in the session catalog") {
    val table = tmp("graft-dsv2-cat")
    CommitLog.writeBatchWithStats(rows(8, "a"), table, "r1", 0L, Seq("id"))
    withSqlSession { sess =>
      sess.sql("DROP TABLE IF EXISTS graft_cat_t")
      sess.sql(s"CREATE TABLE graft_cat_t USING graft_commitlog LOCATION '$table'")
      try {
        val byName = sess.sql("SELECT * FROM graft_cat_t")
        val byPath = sess.sql(s"SELECT * FROM graft_commitlog.`$table`")
        assert(canon(byName) == canon(byPath),
          "catalog-name read must equal the path read")
        // the committed-visibility contract holds through the catalog:
        // a torn batch stays invisible
        rows(99, "torn", 90L).withColumn("run_id", lit("r9"))
          .withColumn("batch_id", lit(0L))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("run_id", "batch_id").parquet(table)
        assert(sess.sql("SELECT count(*) FROM graft_cat_t")
          .collect()(0).getLong(0) == 8L)
        // INSERT through the catalog NAME with a SELECT source — the
        // FallBackFileSourceV2 corruption shape: must ride the marker
        // protocol (one minted batch), never a raw parquet overwrite
        sess.sql("INSERT INTO graft_cat_t " +
          "SELECT id + 100, v, NULL, NULL FROM graft_cat_t WHERE id = 0")
        assert(sess.sql("SELECT count(*) FROM graft_cat_t")
          .collect()(0).getLong(0) == 9L)
        assert(CommitLog.committedBatches(sess, table)
          .exists(_._1.startsWith("sql")), "catalog INSERT must mint a marker")
        assert(CommitLog.readCommitted(sess, table).get.count() == 9)
        // UPDATE through the catalog name rides the same self-source merge
        sess.sql("UPDATE graft_cat_t SET v = 'CAT-UPD' WHERE id = 100")
        assert(sess.sql("SELECT v FROM graft_cat_t WHERE id = 100")
          .collect()(0).getString(0) == "CAT-UPD")
        assert(CommitLog.readCommitted(sess, table).get.count() == 9)
        // MERGE through the catalog name (r19 — the interception now
        // consults the catalog like UPDATE/DELETE do)
        sess.sql("MERGE INTO graft_cat_t t USING " +
          "(SELECT 100 AS id, 'CAT-MERGED' AS v) s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(sess.sql("SELECT v FROM graft_cat_t WHERE id = 100")
          .collect()(0).getString(0) == "CAT-MERGED")
        // non-tombstone DELETE through the catalog name (the r19
        // delete-only self-source merge)
        sess.sql("DELETE FROM graft_cat_t WHERE id % 100 = 0 AND id > 50")
        assert(sess.sql("SELECT count(*) FROM graft_cat_t")
          .collect()(0).getLong(0) == 8L) // id=100 gone
        assert(CommitLog.logState(sess, table).tombstones.isEmpty)
      } finally sess.sql("DROP TABLE IF EXISTS graft_cat_t")
    }
  }

  test("CREATE TABLE with a declared schema bootstraps an EMPTY table via INSERT") {
    val table = tmp("graft-dsv2-boot")
    withSqlSession { sess =>
      sess.sql("DROP TABLE IF EXISTS graft_boot_t")
      sess.sql("CREATE TABLE graft_boot_t (id BIGINT, v STRING) " +
        s"USING graft_commitlog LOCATION '$table'")
      try {
        // nothing committed yet: the declared schema lets the first
        // INSERT resolve; the write mints a marker like any other
        sess.sql("INSERT INTO graft_boot_t VALUES (1, 'first'), (2, 'second')")
        assert(CommitLog.readCommitted(sess, table).get.count() == 2)
        assert(CommitLog.committedBatches(sess, table)
          .exists(_._1.startsWith("sql")), "bootstrap INSERT must mint a marker")
        // and a SELECT-sourced insert (the FallBack shape) works too —
        // after the bootstrap the table carries the system columns
        sess.sql("INSERT INTO graft_boot_t " +
          "SELECT id + 10, v, NULL, NULL FROM graft_boot_t WHERE id = 1")
        assert(sess.sql("SELECT count(*) FROM graft_boot_t")
          .collect()(0).getLong(0) == 3L)
      } finally sess.sql("DROP TABLE IF EXISTS graft_boot_t")
    }
  }
}
