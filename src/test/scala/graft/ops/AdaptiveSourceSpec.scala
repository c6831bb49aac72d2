package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the adaptive-execution policy in `graft/ops/Adaptive.scala`:
  * no other operator or text kernel reads checkpoint plan nodes,
  * probes partition counts or declares its own driver-fold row budget.
  * Source scan only — no Spark. */
class AdaptiveSourceSpec extends AnyFunSuite {

  // split so this file does not match its own patterns
  private val needles = Seq("Logical" + "RDD", "getNum" + "Partitions", "Driver" + "Fold")

  test("only Adaptive.scala holds checkpoint, partition-count and fold-budget policy") {
    val found = Seq("src/main/scala/graft/ops", "src/main/scala/graft/text").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val files = Files.walk(dir)
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter { p => val text = Files.readString(p); needles.exists(text.contains) }
        .map((p: Path) => p.toString)
        .toSeq
      finally files.close()
    }.filterNot(_ == "src/main/scala/graft/ops/Adaptive.scala")
    assert(found.isEmpty, s"move the decision into graft.ops.Adaptive: ${found.sorted}")
  }
}
