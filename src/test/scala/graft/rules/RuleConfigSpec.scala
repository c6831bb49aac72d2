package graft.rules

import graft.SparkSpec
import graft.bank.{BankDataGen, BankRules}
import graft.validate.Validator
import org.apache.spark.sql.functions._

class RuleConfigSpec extends SparkSpec {
  import spark.implicits._

  test("the full bank rule set round-trips through JSON losslessly") {
    val json = BankRules.config.toJson
    val back = RuleSetConfig.fromJson(json)
    assert(back == BankRules.config)
    // and the round-tripped render is a fixed point
    assert(back.toJson == json)
  }

  test("config-loaded bank rules produce the identical error file to the compiled set") {
    // generated feed + injected invalids across many rule families —
    // the same scenario shape the reference's invalid-values driver
    // runs. The set loaded back from JSON must plan every output the
    // same as the compiled set. Column `==` cannot tell: Spark 4
    // column nodes carry their call-site origin, so compare plans.
    val feed = Seq(
      ("RoutingTransitNumber", "12345ABCD", Seq(3L, 4L)),
      ("State", "c1", Seq(5L)),
      ("ContactEmail", "not-an-email", Seq(6L)),
      ("OrganizationTIN", "12", Seq(7L)),
      ("EffectiveStartDate", "2026-02-30", Seq(8L)),
      ("PaymentMode", "WIRE", Seq(9L)),
      ("PayeeID", "x", Seq(10L)),
      ("CityName", "1Numberville", Seq(11L))
    ).foldLeft(BankDataGen.generate(spark, 300, seed = 7)) {
      case (d, (c, v, ids)) => BankDataGen.withInvalid(d, c, v, ids)
    }

    val compiled = BankRules.all
    val loaded = RuleSetConfig.fromJson(BankRules.config.toJson).toRuleSet
    assert(loaded.rules.map(r => (r.name, r.message)) ==
      compiled.rules.map(r => (r.name, r.message)))

    assert(Validator.validate(feed, loaded)
      .sameSemantics(Validator.validate(feed, compiled)))
    assert(Validator.summary(feed, loaded)
      .sameSemantics(Validator.summary(feed, compiled)))
    val errors = Validator.errorFile(feed, compiled, "PayeeID", "feed")
    assert(Validator.errorFile(feed, loaded, "PayeeID", "feed").sameSemantics(errors))
    // and the plans compared are not vacuous: every injected row is flagged
    val flagged = errors.select("PayeeId").as[String].collect().toSet
    val injected = feed.where(col("id").isin((3L to 11L): _*))
      .select(col("PayeeID")).as[String].collect().toSet
    assert(injected.nonEmpty && injected.subsetOf(flagged))
  }

  test("every predicate family compiles from JSON text and matches its hand-built twin") {
    // JSON written as a user would write it (text, not via toJson) —
    // exercising the parser across every Pred shape in one document
    val json = """
      {"rules": [
        {"name": "r1", "message": "m1",
         "violation": {"kind": "required", "col": "a"}},
        {"name": "r2", "message": "m2",
         "violation": {"kind": "maxLength", "col": "a", "n": 3}},
        {"name": "r3", "message": "m3",
         "violation": {"kind": "inSet", "col": "a", "values": ["x", "y"]}},
        {"name": "r4", "message": "m4",
         "violation": {"kind": "matches", "col": "a", "s": "^[a-z]+$"}},
        {"name": "r5", "message": "m5",
         "violation": {"kind": "between", "col": "v", "lo": 0, "hi": 10}},
        {"name": "r6", "message": "m6",
         "violation": {"kind": "cmp", "op": "lt", "col": "v", "value": "0", "valueType": "double"}},
        {"name": "r7", "message": "m7",
         "when": {"kind": "inLit", "col": "a", "values": ["x"]},
         "violation": {"kind": "colCmp", "op": "ne", "left": "a", "right": "b"}},
        {"name": "r8", "message": "m8",
         "violation": {"kind": "and", "of": [
           {"kind": "present", "col": "d1"}, {"kind": "present", "col": "d2"},
           {"kind": "dateCmp", "op": "lt", "left": "d2", "right": "d1"}]}},
        {"name": "r9", "message": "m9",
         "violation": {"kind": "not", "of": {"kind": "or", "of": [
           {"kind": "blank", "col": "a"}, {"kind": "numeric", "col": "a"}]}}},
        {"name": "r10", "message": "m10",
         "violation": {"kind": "dateYmd", "col": "d1"}},
        {"name": "r11", "message": "m11",
         "violation": {"kind": "abaChecksum", "col": "a"}}
      ]}"""
    val rs = RuleSetConfig.fromJson(json).toRuleSet
    assert(rs.rules.map(_.name) == (1 to 11).map(i => s"r$i"))

    val df = Seq(
      ("x", "x", 5.0, "2024-01-01", "2024-06-01"),
      ("x", "yy", -1.0, "2024-01-01", "2023-06-01"),
      ("", "x", 20.0, "2024-02-30", "2024-06-01"),
      ("abcd", "abcd", 3.0, "2024-01-01", "2024-01-01")
    ).toDF("a", "b", "v", "d1", "d2")

    val twin = RuleSet(Seq(
      Rule("r1", Checks.required(col("a")), "m1"),
      Rule("r2", Checks.maxLength(col("a"), 3), "m2"),
      Rule("r3", Checks.inSet(col("a"), Seq("x", "y")), "m3"),
      Rule("r4", Checks.matches(col("a"), "^[a-z]+$"), "m4"),
      Rule("r5", Checks.between(col("v"), 0, 10), "m5"),
      Rule("r6", col("v") < lit(0.0), "m6"),
      Rule("r7", col("a") =!= col("b"), "m7")
        .onlyWhen(col("a").isInCollection(Seq("x"))),
      Rule("r8", Checks.present(col("d1")) && Checks.present(col("d2")) &&
        try_to_date(col("d2"), "yyyy-MM-dd").lt(try_to_date(col("d1"), "yyyy-MM-dd")), "m8"),
      Rule("r9", !(Checks.blank(col("a")) || Checks.numeric(col("a"))), "m9"),
      Rule("r10", Checks.dateYmd(col("d1")), "m10"),
      Rule("r11", Checks.abaChecksum(col("a")), "m11")))

    val got = df.select(rs.errorsCol.as("e")).as[Seq[String]].collect().toSeq
    val want = df.select(twin.errorsCol.as("e")).as[Seq[String]].collect().toSeq
    assert(got == want)
    // sanity on content, not just parity
    assert(got(1).contains("m6") && got(1).contains("m7") && got(1).contains("m8"))
    assert(got(2).contains("m1") && got(2).contains("m10"))
  }

  test("unknown kinds and malformed documents fail loudly") {
    intercept[IllegalArgumentException] {
      RuleSetConfig.fromJson(
        """{"rules": [{"name": "x", "message": "m",
             "violation": {"kind": "frobnicate", "col": "a"}}]}""")
        .toRuleSet
    }
    intercept[IllegalArgumentException] {
      RuleSetConfig.fromJson("""{"rules": "nope"}""")
    }
    intercept[IllegalArgumentException] {
      RuleSetConfig.fromJson(
        """{"rules": [{"name": "x", "message": "m",
             "violation": {"kind": "cmp", "op": "narrower", "col": "a", "value": "1"}}]}""")
        .toRuleSet
    }
  }

  test("messages with quotes and regex metacharacters survive the JSON trip") {
    val cfg = RuleSetConfig(Seq(RuleConfig(
      name = "quoted",
      message = """She said "don't" — and|pipes, \backslashes\ too""",
      violation = Pred.withS("matches", "a", """^[\d"']+$"""))))
    val back = RuleSetConfig.fromJson(cfg.toJson)
    assert(back == cfg)
    val df = Seq("""12"3""", "abc").toDF("a")
    val flagged = df.select(back.toRuleSet.errorsCol.as("e")).as[Seq[String]].collect()
    assert(flagged(0).isEmpty && flagged(1).size == 1)
    assert(flagged(1).head == cfg.rules.head.message)
  }
}
