package graft.rules

import graft.expr.AnyTrue
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A single declarative validation rule.
  *
  * A rule is a named, boolean *violation* expression plus a human message
  * — the Spark-first re-expression of the reference's per-field Glue
  * checks (observable via the reference's tests directory and the
  * `FILENAME|PayeeId|ERROR_DESC` error CSVs,
  * DM_bankfile_validate_pipeline.py:833).
  *
  * Rules are pure `Column` expressions: evaluating a whole RuleSet is ONE
  * narrow projection — no UDF, no shuffle. Validity
  * ([[RuleSet.violatedCol]]) is one whole-stage-codegen'd
  * [[graft.expr.AnyTrue]] with each rule in its own small method; the
  * message array ([[RuleSet.errorsCol]]) is evaluated interpreted
  * (Spark's `filter` is a `CodegenFallback`), so callers build it only
  * for the rows that are invalid.
  *
  * @param name      stable identifier (used in summaries)
  * @param violation boolean Column, true ⇔ the row breaks this rule
  * @param message   ERROR_DESC text emitted for violating rows
  */
final case class Rule(name: String, violation: Column, message: String) {

  /** Restrict the rule to rows matching `cond` (conditional requiredness,
    * e.g. "AccountNumber required when PaymentMode=EFT and OrgCode in
    * D/P" — reference tests/test_accountnumber_blank_eft_required.py). */
  def onlyWhen(cond: Column): Rule =
    copy(violation = cond && violation)

  /** Column holding `message` when violated, else NULL. */
  private[rules] def messageOrNull: Column =
    when(coalesce(violation, lit(false)), lit(message))
}

/** An ordered collection of rules evaluated together in one projection. */
final case class RuleSet(rules: Seq[Rule]) {
  require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")

  def ++(other: RuleSet): RuleSet = RuleSet(rules ++ other.rules)
  def +(r: Rule): RuleSet = RuleSet(rules :+ r)

  /** `array<string>` of messages for every violated rule, in declaration
    * order; empty exactly when [[violatedCol]] is false. Interpreted per
    * row (`filter` is a `CodegenFallback`): filter on [[violatedCol]]
    * first and build it for the invalid rows only. */
  def errorsCol: Column =
    filter(array(rules.map(_.messageOrNull): _*), _.isNotNull)

  /** True ⇔ the row violates at least one rule (a NULL violation is
    * not one): the one definition of row validity. A codegen'd
    * [[graft.expr.AnyTrue]] over the violations, in declaration order. */
  def violatedCol: Column = AnyTrue.anyTrue(rules.map(_.violation))
}

object RuleSet {
  def apply(rules: Rule*)(implicit d: DummyImplicit): RuleSet = RuleSet(rules.toSeq)
}

/** Column-level check combinators. Each returns a *violation* Column.
  *
  * Blank semantics follow the reference: NULL and ""/whitespace-only are
  * both "blank" (newaugsver_clean.py:475-479 treats '' and null as the
  * same missing value; CSV feeds lose the distinction anyway).
  */
object Checks {
  import graft.expr.StringCheck.{check => sc}

  // Hot predicates run as native codegen kernels (graft.expr.
  // StringCheck): one allocation-free byte pass per check instead of
  // per-row trim/translate/regex-Matcher allocations — at a ~68-rule
  // stack that keeps validation scan-bound. Each kernel's equivalence
  // to the regex/Column spec it replaced is pinned by StringCheckSpec.

  def blank(c: Column): Column = sc(c, "blank")
  def present(c: Column): Column = !blank(c)

  /** Violated when the field is blank. */
  def required(c: Column): Column = blank(c)

  /** Violated when present and longer than `n` chars. */
  def maxLength(c: Column, n: Int): Column = present(c) && length(c) > n

  /** Violated when present and shorter than `n` chars. */
  def minLength(c: Column, n: Int): Column = present(c) && length(c) < n

  /** Violated when present and not exactly `n` chars. */
  def exactLength(c: Column, n: Int): Column = present(c) && length(c) =!= n

  /** Violated when present and not one of `values` (case-sensitive —
    * reference rejects lowercase 'checking'/'savings',
    * tests/test_accounttype_invalid_lowercase_checking.py). */
  def inSet(c: Column, values: Seq[String]): Column =
    present(c) && !c.isInCollection(values)

  /** Violated when present and not fully matching `regex`. */
  def matches(c: Column, regex: String): Column =
    present(c) && !regexp_like(c, lit(regex))

  private val Digits = "0123456789"
  private val Alnum = ('A' to 'Z').mkString + ('a' to 'z').mkString + Digits

  /** Violated when present and not all-digits. */
  def numeric(c: Column): Column = present(c) && !sc(c, "allin", Digits)

  /** Violated when present and not exactly `n` digits. */
  def digits(c: Column, n: Int): Column =
    present(c) && (length(c) =!= n || !sc(c, "allin", Digits))

  /** Violated when the field contains characters outside letters,
    * digits, and `extra`. `extra` is a LITERAL character list (no
    * regex escaping). */
  def charsetOnly(c: Column, extra: String): Column =
    present(c) && !sc(c, "allin", Alnum + extra)

  /** Violated when present and not entirely ASCII letters/digits. */
  def alnum(c: Column): Column = charsetOnly(c, "")

  private val Alpha = ('A' to 'Z').mkString + ('a' to 'z').mkString
  private val Upper = ('A' to 'Z').mkString

  /** Violated when present and not "leading ASCII letter, remainder
    * letters + `extra`" — the reference's name-field pattern
    * `^[A-Za-z][A-Za-z<extra>]*$`. */
  def nameFormat(c: Column, extra: String = ".' -"): Column =
    present(c) && !sc(c, "namefmt", Alpha + extra)

  /** Violated when present and not exactly `n` uppercase ASCII letters. */
  def upperCode(c: Column, n: Int): Column =
    present(c) && (length(c) =!= n || !sc(c, "allin", Upper))

  /** Violated when present and not a plausible email (reference rejects
    * specials / over-long, tests/test_contactemail_over_max_length.py).
    * Kernel DFA of `^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$`. */
  def email(c: Column): Column = present(c) && !sc(c, "email")

  /** Violated when present and not phone-like: digits with optional
    * punctuation/extension (reference faker phone formats;
    * tests/test_contactphone_invalid_format.py rejects embedded letters
    * like 123ABC4567 but faker emits x-extensions, dots, parens).
    * Kernel DFA of `^\+?[0-9().\-\s]+(x[0-9]+)?$`. */
  def phone(c: Column): Column = present(c) && !sc(c, "phone")

  /** Violated when present and not a YYYY-MM-DD calendar date
    * (kernel: strict 4-2-2 digit format + leap-aware validity — what
    * the format regex + non-null try_to_date pair accepted). */
  def dateYmd(c: Column): Column = present(c) && !sc(c, "ymd")

  /** Violated when the field is present but must be blank in context. */
  def mustBeBlank(c: Column): Column = present(c)

  /** Violated when present and out of [lo, hi]. */
  def between(c: Column, lo: Double, hi: Double): Column =
    c.isNotNull && (c < lo || c > hi)

  /** ABA routing-transit checksum: 9 digits with
    * `3(d1+d4+d7) + 7(d2+d5+d8) + (d3+d6+d9) ≡ 0 (mod 10)` — the
    * Federal Reserve check the reference's 9-digit-numeric rule stops
    * short of; catches single-digit typos the format rule passes.
    * Violated when present and either non-9-digit or checksum-bad. */
  def abaChecksum(c: Column): Column = {
    def d(i: Int): Column = substring(c, i, 1).cast("int")
    // when() keeps the digit casts inside the 9-digit branch — ANSI
    // mode would throw casting a non-digit character otherwise
    present(c) && when(digits(c, 9), lit(true)).otherwise(
      pmod(lit(3) * (d(1) + d(4) + d(7)) + lit(7) * (d(2) + d(5) + d(8)) +
        (d(3) + d(6) + d(9)), lit(10)) =!= 0)
  }
}
