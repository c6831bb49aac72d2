package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The exactly-once micro-batch rule lives in [[MicroBatch]]: run ids
  * that distinct pipelines cannot share, and no operator with its own
  * stream start, partition overwrite or checkpoint hash. No Spark. */
class MicroBatchSpec extends AnyFunSuite {

  test("run ids of distinct checkpoints differ; a checkpoint's run id is stable") {
    val (a, b) = ("/tmp/ckpt/pipeline-26936", "/tmp/ckpt/pipeline-73485")
    // the two paths collide under a 31-bit hash alone
    def hash31(p: String) = scala.util.hashing.MurmurHash3.stringHash(p) & 0x7fffffff
    assert(hash31(a) == hash31(b))
    assert(MicroBatch.runIdOf(a) != MicroBatch.runIdOf(b))
    assert(MicroBatch.runIdOf(a) == MicroBatch.runIdOf(a))
    assert(MicroBatch.runIdOf(new String(b.toCharArray)) == MicroBatch.runIdOf(b))
  }

  // split so this file does not match its own patterns
  private val needles =
    Seq("write" + "Stream", "partitionOverwrite" + "Mode", "stringHash(" + "checkpoint")
  private val owners = Set(
    "src/main/scala/graft/streaming/MicroBatch.scala",
    "src/main/scala/graft/sources/CommitLog.scala")

  test("only MicroBatch and CommitLog start streams, overwrite partitions or hash checkpoints") {
    val found = Seq("src/main/scala/graft/streaming", "src/main/scala/graft/sources").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(dir)
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter { p => val text = Files.readString(p); needles.exists(text.contains) }
        .map((p: Path) => p.toString)
        .toSeq
      finally files.close()
    }.filterNot(owners)
    assert(found.isEmpty,
      s"use MicroBatch.start/prior and CommitLog.writeDataOnly: ${found.sorted}")
  }
}
