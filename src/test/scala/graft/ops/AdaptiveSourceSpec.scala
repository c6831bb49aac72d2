package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the adaptive-execution policy in `graft/ops/Adaptive.scala`:
  * no other operator or text kernel reads checkpoint plan nodes,
  * probes partition counts, declares its own driver-fold row budget or
  * keeps its own checkpoint mode or cadence, and the iterative graph
  * operators pin only through `Adaptive.rounds`. Source scan only — no
  * Spark. */
class AdaptiveSourceSpec extends AnyFunSuite {

  private val owner = "src/main/scala/graft/ops/Adaptive.scala"

  /** (path, text) of every Scala source under graft/ops and graft/text. */
  private lazy val sources: Seq[(String, String)] =
    Seq("src/main/scala/graft/ops", "src/main/scala/graft/text").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(dir)
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .map((p: Path) => p.toString -> Files.readString(p))
        .toSeq
      finally files.close()
    }

  // split so this file does not match its own patterns
  private val needles = Seq("Logical" + "RDD", "getNum" + "Partitions", "Driver" + "Fold")

  test("only Adaptive.scala holds checkpoint, partition-count and fold-budget policy") {
    val found = sources.collect { case (p, text) if needles.exists(text.contains) => p }
      .filterNot(_ == owner)
    assert(found.isEmpty, s"move the decision into graft.ops.Adaptive: ${found.sorted}")
  }

  test("only Adaptive.scala keeps a checkpoint mode or cadence; iterative operators pin through it") {
    val knobs = Seq("use" + "Reliable", "checkpoint" + "Every")
    val kept = sources.collect { case (p, text) if knobs.exists(text.contains) => p }
      .filterNot(_ == owner)
    assert(kept.isEmpty, s"resolve the mode with Adaptive.rounds: ${kept.sorted}")
    val iterative = Seq("ConnectedComponents", "LabelPropagation", "KCore", "PageRank",
      "ShortestPaths", "Hits", "RandomWalks").map(n => s"src/main/scala/graft/ops/$n.scala")
    val calls = Seq("checkpoint" + "(", "localCheckpoint" + "(")
    val direct = sources.collect {
      case (p, text) if iterative.contains(p) && calls.exists(text.contains) => p
    }
    assert(iterative.forall(p => sources.exists(_._1 == p)), "an iterative operator file moved")
    assert(direct.isEmpty, s"pin through Adaptive.rounds: ${direct.sorted}")
  }
}
