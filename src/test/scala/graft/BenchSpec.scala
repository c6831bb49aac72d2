package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench artifact contract without launching a session:
  * name-filtered runs must never overwrite the audited full-run
  * artifact, and the JSON line must stay locale-proof and parseable. */
class BenchSpec extends AnyFunSuite {

  test("full run writes BENCH_LAST.json; name-filtered run writes the side file") {
    val noEnv: String => Option[String] = _ => None
    assert(Bench.outPath(Set.empty, noEnv) == "BENCH_LAST.json")
    assert(Bench.outPath(Set("q1_pricing_summary"), noEnv) == "BENCH_SUBSET.json")
  }

  test("SPARK_GRAFT_BENCH_OUT overrides both defaults") {
    val env: String => Option[String] =
      k => if (k == "SPARK_GRAFT_BENCH_OUT") Some("/tmp/out.json") else None
    assert(Bench.outPath(Set.empty, env) == "/tmp/out.json")
    assert(Bench.outPath(Set("x"), env) == "/tmp/out.json")
  }

  test("jsonLine is valid JSON with '.' decimals and millisecond precision") {
    val line = Bench.jsonLine(Map("q1" -> 1.23456, "q2" -> 0.1), "/data/sf0.1")
    assert(line.contains("\"q1\":1.235") && line.contains("\"q2\":0.100"))
    assert(line.contains("\"value\":1.335"))
    // structural sanity: balanced braces, no raw newlines
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(!line.contains("\n"))
  }

  test("stdoutLine fits the driver's 2KB tail window, keeps the true total") {
    // small result sets pass through verbatim
    val small = Map("q1" -> 1.0, "q2" -> 2.0)
    assert(Bench.stdoutLine(small, "/sf", Map.empty) ==
      Bench.jsonLine(small, "/sf", Map.empty))
    // a 300-query set (~8KB full line) must reduce to <= budget with
    // the headline total still over EVERY query and the slowest kept
    val big = (1 to 300).map(i => f"query_name_$i%03d" -> i * 0.01).toMap
    val line = Bench.stdoutLine(big, "/data/sf0.1", Map("load" -> "1.0"))
    assert(line.length <= 1900, s"len ${line.length}")
    val expectedTotal = big.values.sum
    assert(line.contains(
      "\"value\":" + String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(expectedTotal))))
    assert(line.contains("query_name_300"), "slowest entry must survive")
    assert(line.contains("queries_omitted"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // the FILE line stays complete regardless
    assert(Bench.jsonLine(big, "/data/sf0.1", Map.empty).contains("query_name_001"))
  }

  test("parsePrior extracts exactly the per-query map from a prior artifact line") {
    val line = Bench.jsonLine(Map("q1" -> 1.23456, "q_lag_gaps" -> 0.241), "/d/sf0.1",
      Map("load" -> "0.50,0.80", "reruns" -> ""))
    val prior = Bench.parsePrior(line)
    assert(prior == Map("q1" -> 1.235, "q_lag_gaps" -> 0.241))
    // top-level fields ("value", meta) must not leak into the map
    assert(!prior.contains("value") && !prior.contains("load"))
    assert(Bench.parsePrior("not json") == Map.empty)
    assert(Bench.parsePrior("""{"metric":"total","value":1.0}""") == Map.empty)
  }

  test("parsePriorSf reads the artifact's scale factor for the re-run gate") {
    val line = Bench.jsonLine(Map("q1" -> 1.0), "/root/testdata/sf0.1")
    assert(Bench.parsePriorSf(line) == "/root/testdata/sf0.1")
    assert(Bench.parsePriorSf("""{"metric":"total"}""") == "")
  }

  test("jsonLine appends meta pairs as top-level string fields") {
    val line = Bench.jsonLine(Map("q1" -> 0.5), "/d", Map("runs" -> "warm-min3"))
    assert(line.contains("\"runs\":\"warm-min3\""))
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("benchOnlyQueries never overlap the oracle-gated queries map") {
    // a shared name would make Bench run the bench-only variant twice
    // and — worse — suggest to a reader that the native path is
    // oracle-verified when only the md5 variant is
    assert(SparkEntry.queries.keySet.intersect(SparkEntry.benchOnlyQueries.keySet).isEmpty)
  }

  test("every registry entry name is declared exactly once") {
    // the three views are built with toMap, which would keep one of
    // two same-named entries and drop the other without a word
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, es) if es.size > 1 => name
    }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }
}
