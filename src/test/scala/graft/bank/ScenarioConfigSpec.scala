package graft.bank

import graft.SparkSpec
import graft.rules.RuleSetConfig

class ScenarioConfigSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = BankDataGen.generate(spark, 200, seed = 11)

  test("a JSON suite drives composite scenarios end-to-end, rules included") {
    // the fully config-driven path: rules AND scenarios in one
    // document — nothing about the checks is compiled into the caller
    val json = s"""
      { ${BankRules.config.toJson.trim.drop(1).dropRight(1).trim},
        "keyCol": "PayeeID",
        "scenarios": [
          { "name": "clean_feed" },
          { "name": "bad_rtn",
            "invalid": [{"col": "RoutingTransitNumber", "value": "12345ABCD",
                         "keys": [3, 4]}],
            "expectedErrors": 2 },
          { "name": "rename_and_drop",
            "renames": [{"from": "ContactEmail", "to": "Email"}],
            "dropColumns": ["ContactFax"],
            "invalid": [{"col": "State", "value": "c1", "keys": [5]}],
            "expectedErrors": 1 },
          { "name": "wrong_expectation",
            "invalid": [{"col": "State", "value": "c1", "keys": [5]}],
            "expectedErrors": 99 }
        ] }"""
    val report = ScenarioConfig.runFromJson(spark, json, base, BankSchema.schema)
      .orderBy("scenario")
      .as[(String, String, Long, Option[Long], Int, Int, Int, Option[String])]
      .collect().map(r => r._1 -> r).toMap

    assert(report("clean_feed")._2 == "pass" && report("clean_feed")._3 == 0)
    assert(report("bad_rtn")._2 == "pass" && report("bad_rtn")._3 == 2)
    val rd = report("rename_and_drop")
    assert(rd._2 == "pass" && rd._3 == 1)
    // renamed/dropped columns skip their rules, the rest still apply
    assert(rd._6 > 0 && rd._5 + rd._6 == BankRules.all.rules.size)
    assert(rd._7 > 0) // schema issues: the rename + the drop
    assert(report("wrong_expectation")._2 == "fail")
  }

  test("the JSON suite reproduces the direct Scala compositeTransform run") {
    val json = """
      { "keyCol": "PayeeID",
        "scenarios": [
          { "name": "s1",
            "renames": [{"from": "ContactEmail", "to": "Email"}],
            "dropColumns": ["ContactFax"],
            "invalid": [{"col": "State", "value": "c1", "keys": [5]}] } ] }"""
    val fromConfig = ScenarioConfig.runFromJson(spark, json, base, BankSchema.schema,
      fallbackRules = Some(BankRules.all))
      .collect().toSeq
    val direct = Scenario.runReport(spark, Seq(Scenario.ScenarioSpec(
      "s1", () => Scenario.compositeTransform(
        base, Seq(("ContactEmail", "Email")), Seq("ContactFax"),
        Seq(("State", "c1", Seq(5L))), BankSchema.schema,
        BankRules.all, "PayeeID", "s1"))))
      .collect().toSeq
    assert(fromConfig == direct)
  }

  test("rule-less documents require caller rules; missing keyCol fails loudly") {
    val json = """{ "scenarios": [ { "name": "s" } ] }"""
    intercept[IllegalArgumentException] {
      ScenarioConfig.runFromJson(spark, json, base, BankSchema.schema)
    }
    intercept[IllegalArgumentException] {
      ScenarioConfig.runFromJson(spark, json, base, BankSchema.schema,
        fallbackRules = Some(BankRules.all))
    }
  }

  test("runFromFile loads the document from a filesystem path") {
    val dir = java.nio.file.Files.createTempDirectory("scenario-cfg")
    val path = dir.resolve("suite.json")
    val json = s"""
      { ${BankRules.config.toJson.trim.drop(1).dropRight(1).trim},
        "keyCol": "PayeeID",
        "scenarios": [
          { "name": "bad_rtn",
            "invalid": [{"col": "RoutingTransitNumber", "value": "12345ABCD",
                         "keys": [3]}],
            "expectedErrors": 1 } ] }"""
    java.nio.file.Files.writeString(path, json)
    val report = ScenarioConfig.runFromFile(spark, path.toString, base, BankSchema.schema)
      .as[(String, String, Long, Option[Long], Int, Int, Int, Option[String])]
      .collect()
    assert(report.length == 1 && report(0)._2 == "pass" && report(0)._3 == 1)
  }
}
