package graft

import graft.scale.{AnnScale, Fields, ScaleCase, SqlScale}
import java.nio.file.{Files, Paths}

/** Every scale case runs at a tiny size on the shared session and its
  * check passes there: a check must hold at every size. Artifacts go to
  * scratch directories, never the checkout. */
class ScaleCasesSpec extends SparkSpec {

  /** Each case's tiny size, in the case's own unit. */
  private val tiny: Map[String, Long] = Map(
    "validation" -> 2000L,
    "ann" -> 2000L, "ann_frontier" -> 2000L, "ann_frontier_clustered" -> 2000L, "ann_auto" -> 2000L,
    "ann_pq" -> 2000L, "ann_pq_residual" -> 2000L, "ann_recluster" -> 2000L, "text2vec" -> 1L,
    "cc" -> 64L, "graph" -> 64L,
    "sql" -> 60000L, "longdoc" -> 8L, "decontam" -> 2000L, "zorder" -> 80000L, "widemerge" -> 4L,
    "stream" -> 4000L, "stream_longrun" -> 2L, "cdc_longrun" -> 2L, "cdata" -> 8000L,
    "cdata_plan" -> 64L, "optplan" -> 16L,
    "img" -> 200L, "pdf" -> 200L, "video" -> 40L)

  test("cases have unique names and artifacts, and each has a tiny size") {
    val cases = ScaleCases.all
    assert(cases.map(_.name).distinct.size == cases.size)
    assert(cases.map(_.artifact).distinct.size == cases.size)
    assert(cases.map(_.name).toSet == tiny.keySet)
  }

  /** `c` as the spec runs it: `text2vec` over the sf0.001 testdata, and
    * `sql` over every 15th query of its sweep (all 88 take ~150 s here,
    * planning- and codegen-bound whatever the row count). */
  private def tinyBuild(c: ScaleCase): ScaleCase = c.name match {
    case "text2vec" => c.copy(build = AnnScale.textVec("/root/testdata/sf0.001"))
    case "sql" => c.copy(build = SqlScale.sweep(SqlScale.names.grouped(15).map(_.head).toSeq))
    case _ => c
  }

  for (c <- ScaleCases.all) test(s"${c.name} passes its check at a tiny size") {
    val small = tinyBuild(c)
    Smoke.withTempDir("scale-spec") { dir =>
      val json = Files.readString(ScaleCases.write(spark, small, tiny(c.name), Paths.get(dir)))
      assert(json.contains("\"cores\":4,\"spark_conf\":{"))
    }
  }

  test("a failing check writes no artifact; a passing one does") {
    val c = ScaleCase("probe", "BENCH_SCALE_PROBE.json", 1L,
      (s, n) => Fields("rows" -> s.range(n).count()), f => require(f.long("rows") >= 2, "too few rows"))
    Smoke.withTempDir("scale-spec") { dir =>
      val artifact = Paths.get(dir, c.artifact)
      intercept[IllegalArgumentException](ScaleCases.write(spark, c, 1L, Paths.get(dir)))
      assert(!Files.exists(artifact))
      ScaleCases.write(spark, c, 2L, Paths.get(dir))
      assert(Files.readString(artifact).startsWith("{\"rows\":2,\"cores\":"))
    }
  }

  test("an artifact's fields render as JSON in declaration order") {
    val f = Fields("s" -> "a\"b", "n" -> 3L, "d" -> 0.5, "nan" -> Double.NaN, "b" -> true,
      "xs" -> Seq(1, 2), "o" -> Fields("k" -> "v"))
    assert(f.json == """{"s":"a\"b","n":3,"d":0.5000,"nan":null,"b":true,"xs":[1,2],"o":{"k":"v"}}""")
    assert(f.long("n") == 3L && f.double("d") == 0.5 && f.obj("o")("k") == "v")
  }
}
