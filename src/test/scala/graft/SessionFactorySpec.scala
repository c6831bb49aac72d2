package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps GraftSession.local the one session factory: no main outside
  * the harness (Bench, Verify) builds its own SparkSession, and no spec
  * builds one or swaps the process-wide default session. Keeps the
  * mains to the harness, two tools and the scale-case runner. A spec that
  * needs its own SQL conf or function registry uses `spark.newSession()`.
  * Source scan only — no Spark. */
class SessionFactorySpec extends AnyFunSuite {

  // split so this file does not match its own patterns
  private val builderCall = "SparkSession" + ".builder("
  private val sessionSwaps = Seq("clear" + "DefaultSession", "clear" + "ActiveSession")

  /** `root`-relative paths of the .scala files under `root` whose text
    * contains any of `needles`. */
  private def offenders(root: String, needles: Seq[String]): Seq[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter { p => val text = Files.readString(p); needles.exists(text.contains) }
      .map((p: Path) => dir.relativize(p).toString)
      .toSeq.sorted
    finally files.close()
  }

  test("only GraftSession and the Bench/Verify harness build a SparkSession in src/main") {
    val allowed = Set("graft/GraftSession.scala", "graft/Bench.scala", "graft/Verify.scala")
    val found = offenders("src/main/scala", Seq(builderCall)).filterNot(allowed)
    assert(found.isEmpty, s"build the session with GraftSession.local instead: $found")
  }

  test("src/main has five mains: Bench, Verify, PlanDump, Prof and ScaleCases") {
    val allowed = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/PlanDump.scala",
      "graft/tools/Prof.scala", "graft/ScaleCases.scala")
    val found = offenders("src/main/scala", Seq("def " + "main(")).filterNot(allowed)
    assert(found.isEmpty, s"add a scale case to graft.ScaleCases instead of a main: $found")
  }

  test("specs neither build a SparkSession nor swap the default session") {
    val found = offenders("src/test/scala", builderCall +: sessionSwaps)
    assert(found.isEmpty, s"use SparkSpec.session or spark.newSession() instead: $found")
  }
}
