package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Config-driven rules — the reference's rules live in DATA, not code:
  * a tester passes `invalid_values={...}` / scenario dicts to the
  * pipeline driver and composes new checks without touching the engine
  * (/root/reference/DM_bankfile_validate_pipeline.py:3113 invalid-values
  * scenario, :2510 composite transform). This module gives the Scala
  * engine the same property: a [[Pred]] AST, (de)serialized to JSON, so
  * a rule set ships as a config file and loads WITHOUT a recompile.
  * [[graft.bank.BankRules.config]] declares the bank rule set in this
  * form.
  *
  * Design: the AST is data (case classes), compilation to Spark is one
  * total function [[Pred.toColumn]] onto the existing [[Checks]]
  * combinators — a JSON-loaded rule therefore compiles to the same
  * plan (same native kernels, same codegen) as the one it was saved
  * from; RuleConfigSpec pins the bank set's JSON round trip with
  * `Dataset.sameSemantics`, and the v_customer_* oracle queries load
  * their rules from JSON text.
  *
  * JSON codecs are written out explicitly (no reflection extraction):
  * the wire format is a public contract — {"kind": ..., params} per
  * node — and must stay stable and unambiguous across Scala versions.
  */
sealed trait Pred {
  /** Compile to a Spark Column (violation / condition semantics are the
    * caller's interpretation — a Pred is just a boolean expression). */
  def toColumn: Column = this match {
    case Pred.Check(kind, c0, n, values, s, lo, hi) =>
      val c = col(c0)
      kind match {
        case "required"    => Checks.required(c)
        case "blank"       => Checks.blank(c)
        case "present"     => Checks.present(c)
        case "maxLength"   => Checks.maxLength(c, n.get)
        case "minLength"   => Checks.minLength(c, n.get)
        case "exactLength" => Checks.exactLength(c, n.get)
        case "inSet"       => Checks.inSet(c, values.get)
        case "matches"     => Checks.matches(c, s.get)
        case "numeric"     => Checks.numeric(c)
        case "digits"      => Checks.digits(c, n.get)
        case "charsetOnly" => Checks.charsetOnly(c, s.get)
        case "alnum"       => Checks.alnum(c)
        case "nameFormat"  => Checks.nameFormat(c, s.getOrElse(".' -"))
        case "upperCode"   => Checks.upperCode(c, n.get)
        case "email"       => Checks.email(c)
        case "phone"       => Checks.phone(c)
        case "dateYmd"     => Checks.dateYmd(c)
        case "mustBeBlank" => Checks.mustBeBlank(c)
        case "between"     => Checks.between(c, lo.get, hi.get)
        case "abaChecksum" => Checks.abaChecksum(c)
        case other => throw new IllegalArgumentException(s"unknown check kind: $other")
      }
    case Pred.Cmp(op, c0, value, valueType) =>
      val c = col(c0)
      val v: Column = valueType match {
        case "string"    => lit(value)
        case "long"      => lit(value.toLong)
        case "double"    => lit(value.toDouble)
        case "date"      => to_date(lit(value))
        case "timestamp" => to_timestamp(lit(value))
        case other => throw new IllegalArgumentException(s"unknown value type: $other")
      }
      op match {
        case "lt" => c < v
        case "le" => c <= v
        case "gt" => c > v
        case "ge" => c >= v
        case "eq" => c === v
        case "ne" => c =!= v
        case other => throw new IllegalArgumentException(s"unknown cmp op: $other")
      }
    case Pred.ColCmp(op, left, right) =>
      op match {
        case "eq" => col(left) === col(right)
        case "ne" => col(left) =!= col(right)
        case "lt" => col(left) < col(right)
        case "gt" => col(left) > col(right)
        case other => throw new IllegalArgumentException(s"unknown colCmp op: $other")
      }
    case Pred.DateCmp(op, left, right, fmt) =>
      val l = try_to_date(col(left), fmt); val r = try_to_date(col(right), fmt)
      op match {
        case "lt" => l.lt(r)
        case "gt" => l.gt(r)
        case other => throw new IllegalArgumentException(s"unknown dateCmp op: $other")
      }
    case Pred.InLit(c, values)  => col(c).isInCollection(values)
    case Pred.And(of)           => of.map(_.toColumn).reduce(_ && _)
    case Pred.Or(of)            => of.map(_.toColumn).reduce(_ || _)
    case Pred.Not(of)           => !of.toColumn
  }
}

object Pred {
  /** One-column check, `kind` naming a [[Checks]] combinator; exactly
    * the parameters that combinator needs are set. */
  final case class Check(kind: String, col: String,
                         n: Option[Int] = None,
                         values: Option[Seq[String]] = None,
                         s: Option[String] = None,
                         lo: Option[Double] = None,
                         hi: Option[Double] = None) extends Pred
  /** Column vs typed literal (`valueType`: string|long|double|date|timestamp). */
  final case class Cmp(op: String, col: String, value: String,
                       valueType: String = "string") extends Pred
  /** Column vs column (cross-field equality family). */
  final case class ColCmp(op: String, left: String, right: String) extends Pred
  /** Date-parsed column vs column (format-string dates; NULL-safe via
    * try_to_date, as the bank set's EffectiveEndDate.afterStart needs). */
  final case class DateCmp(op: String, left: String, right: String,
                           fmt: String = "yyyy-MM-dd") extends Pred
  /** Raw set membership — a CONDITION (no present() guard), for `when`
    * clauses like OrganizationCode in (M, D, P). */
  final case class InLit(col: String, values: Seq[String]) extends Pred
  final case class And(of: Seq[Pred]) extends Pred
  final case class Or(of: Seq[Pred]) extends Pred
  final case class Not(of: Pred) extends Pred

  // convenience constructors for programmatic config building
  def check(kind: String, col: String): Check = Check(kind, col)
  def withN(kind: String, col: String, n: Int): Check = Check(kind, col, n = Some(n))
  def withS(kind: String, col: String, s: String): Check = Check(kind, col, s = Some(s))
  def inSet(col: String, vs: String*): Check = Check("inSet", col, values = Some(vs.toSeq))
  def and(ps: Pred*): And = And(ps.toSeq)
  def or(ps: Pred*): Or = Or(ps.toSeq)

  private[rules] def toJValue(p: Pred): JValue = p match {
    case Check(kind, c, n, values, s, lo, hi) =>
      JObject(List(
        Some("kind" -> JString(kind)), Some("col" -> JString(c)),
        n.map(v => "n" -> JInt(v)),
        values.map(v => "values" -> JArray(v.map(JString).toList)),
        s.map(v => "s" -> JString(v)),
        lo.map(v => "lo" -> JDouble(v)), hi.map(v => "hi" -> JDouble(v))
      ).flatten)
    case Cmp(op, c, v, t) =>
      JObject("kind" -> JString("cmp"), "op" -> JString(op),
        "col" -> JString(c), "value" -> JString(v), "valueType" -> JString(t))
    case ColCmp(op, l, r) =>
      JObject("kind" -> JString("colCmp"), "op" -> JString(op),
        "left" -> JString(l), "right" -> JString(r))
    case DateCmp(op, l, r, f) =>
      JObject("kind" -> JString("dateCmp"), "op" -> JString(op),
        "left" -> JString(l), "right" -> JString(r), "fmt" -> JString(f))
    case InLit(c, vs) =>
      JObject("kind" -> JString("inLit"), "col" -> JString(c),
        "values" -> JArray(vs.map(JString).toList))
    case And(of) => JObject("kind" -> JString("and"),
      "of" -> JArray(of.map(toJValue).toList))
    case Or(of) => JObject("kind" -> JString("or"),
      "of" -> JArray(of.map(toJValue).toList))
    case Not(of) => JObject("kind" -> JString("not"), "of" -> toJValue(of))
  }

  private def str(o: JObject, f: String): String = o \ f match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"field $f: expected string, got $other")
  }
  private def strOpt(o: JObject, f: String): Option[String] = o \ f match {
    case JString(s) => Some(s); case _ => None
  }
  private def strs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map { case JString(s) => s
      case other => throw new IllegalArgumentException(s"expected string, got $other") }
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  private[rules] def fromJValue(v: JValue): Pred = {
    val o = v match {
      case o: JObject => o
      case other => throw new IllegalArgumentException(s"pred must be an object, got $other")
    }
    str(o, "kind") match {
      case "cmp" => Cmp(str(o, "op"), str(o, "col"), str(o, "value"),
        strOpt(o, "valueType").getOrElse("string"))
      case "colCmp" => ColCmp(str(o, "op"), str(o, "left"), str(o, "right"))
      case "dateCmp" => DateCmp(str(o, "op"), str(o, "left"), str(o, "right"),
        strOpt(o, "fmt").getOrElse("yyyy-MM-dd"))
      case "inLit" => InLit(str(o, "col"), strs(o \ "values"))
      case "and" => And((o \ "of").asInstanceOf[JArray].arr.map(fromJValue))
      case "or"  => Or((o \ "of").asInstanceOf[JArray].arr.map(fromJValue))
      case "not" => Not(fromJValue(o \ "of"))
      case kind => Check(kind, str(o, "col"),
        n = o \ "n" match { case JInt(i) => Some(i.toInt); case _ => None },
        values = o \ "values" match { case a: JArray => Some(strs(a)); case _ => None },
        s = strOpt(o, "s"),
        lo = o \ "lo" match { case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble); case _ => None },
        hi = o \ "hi" match { case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble); case _ => None })
    }
  }
}

/** One configurable rule: violation Pred + optional `when` context
  * (compiles via [[Rule.onlyWhen]] to `cond && violation`). */
final case class RuleConfig(name: String, message: String,
                            violation: Pred, when: Option[Pred] = None) {
  def toRule: Rule = {
    val base = Rule(name, violation.toColumn, message)
    when.fold(base)(w => base.onlyWhen(w.toColumn))
  }
}

/** A serializable rule set: the unit a config file holds. */
final case class RuleSetConfig(rules: Seq[RuleConfig]) {
  def toRuleSet: RuleSet = RuleSet(rules.map(_.toRule))
  def toJson: String = JsonMethods.pretty(JsonMethods.render(RuleSetConfig.toJValue(this)))
}

object RuleSetConfig {
  private[rules] def toJValue(rs: RuleSetConfig): JValue =
    JObject("rules" -> JArray(rs.rules.map { r =>
      JObject(List(
        Some("name" -> JString(r.name)),
        Some("message" -> JString(r.message)),
        r.when.map(w => "when" -> Pred.toJValue(w)),
        Some("violation" -> Pred.toJValue(r.violation))
      ).flatten)
    }.toList))

  def fromJson(json: String): RuleSetConfig = {
    val o = JsonMethods.parse(json)
    val rules = o \ "rules" match {
      case JArray(xs) => xs.map { r =>
        val name = r \ "name" match { case JString(s) => s
          case other => throw new IllegalArgumentException(s"rule name: $other") }
        val message = r \ "message" match { case JString(s) => s
          case other => throw new IllegalArgumentException(s"rule message: $other") }
        val when = r \ "when" match { case JNothing => None
          case w => Some(Pred.fromJValue(w)) }
        RuleConfig(name, message, Pred.fromJValue(r \ "violation"), when)
      }
      case other => throw new IllegalArgumentException(s"rules must be an array, got $other")
    }
    RuleSetConfig(rules)
  }

  /** Load from a file path (local or any Hadoop-visible FS). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): RuleSetConfig = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }
}
