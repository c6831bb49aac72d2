package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class AdaptiveSpec extends SparkSpec {
  import spark.implicits._

  test("a 3-row fold cap admits a 3-row checkpoint and refuses a 4-row one") {
    val cap = Adaptive.foldRows(Adaptive.DriverFoldBytes / 3)
    assert(cap === 3L)
    val three = (1L to 3L).toDF("x").localCheckpoint()
    val four = (1L to 4L).toDF("x").localCheckpoint()
    assert(Adaptive.admits(cap, Adaptive.rows(three)))
    assert(!Adaptive.admits(cap, Adaptive.rows(four)))
    Adaptive.release(three)
    Adaptive.release(four)
  }

  test("a frame that is not a checkpoint is never admitted") {
    val plain = Seq(1L).toDF("x")
    val derived = Seq(1L).toDF("x").localCheckpoint().select(col("x") + 1)
    for (df <- Seq(plain, derived)) {
      assert(Adaptive.rows(df).isEmpty)
      assert(!Adaptive.admits(Long.MaxValue, Adaptive.rows(df)))
    }
    Adaptive.release(derived)
  }

  test("a fold cap of 0 admits nothing and never counts") {
    assert(!Adaptive.admits(0L, fail("a cap of 0 must not count the frame")))
  }

  test("each fold's row cap is its bytes per row within the one driver budget") {
    assert(Adaptive.DriverFoldBytes === 64L * 1024 * 1024)
    assert(Adaptive.foldRows(ConnectedComponents.FoldBytesPerEdge) === 2097152L)
    assert(Adaptive.foldRows(Hits.FoldBytesPerEdge) === 2097152L)
    assert(Adaptive.foldRows(LabelPropagation.FoldBytesPerEdge) === 524288L)
    assert(Adaptive.foldRows(Als.FoldBytesPerRating) === 1048576L)
    assert(Adaptive.foldRows(graft.text.BpeTrain.FoldBytesPerWord) === 1048576L)
  }

  test("release frees the checkpoint under a result's projection") {
    val ckpt = (1L to 5L).toDF("x").localCheckpoint()
    val rdd = ckpt.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    assert(rdd.getStorageLevel.isValid)
    Adaptive.release(ckpt.select(col("x") * 2))
    assert(!rdd.getStorageLevel.isValid)
  }

  test("scan-shaped frames are widened and never pinned; derived frames are pinned, never widened") {
    val scan = spark.range(0, 100, 1, 1).toDF("id").where(col("id") > 3)
    assert(Adaptive.pinDerived(scan) eq scan)
    assert(Adaptive.widenScan(scan).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    val derived = spark.range(0, 100, 1, 1).groupBy((col("id") % 7).as("k")).count()
    assert(Adaptive.widenScan(derived) eq derived)
    val pinned = Adaptive.pinDerived(derived)
    assert(pinned.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(pinned.collect().toSet === derived.collect().toSet)
    Adaptive.release(pinned)
  }
}
