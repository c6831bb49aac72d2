package graft.bank

/** DuckDB-SQL renderings of every [[BankRules]] violation predicate —
  * an independently-written double-entry of the rule semantics
  * (SURVEY §3, distilled from /root/reference/tests/), used by the
  * correctness oracle to re-validate the generated bank feed outside
  * Spark. The predicates are authored from the same reference
  * semantics, NOT mechanically derived from the Column expressions,
  * so a transcription error on either side shows up as an oracle
  * mismatch. BankRulesSqlSpec pins the rule-name list 1:1 against
  * [[BankRules.all]] (same names, same declaration order) so the
  * ERROR_DESC message order cannot drift.
  */
object BankRulesSql {

  private def q(s: String) = s.replace("'", "''")
  private def blank(f: String) = s"($f IS NULL OR trim($f) = '')"
  private def present(f: String) = s"NOT ${blank(f)}"
  private def maxLen(f: String, n: Int) = s"(${present(f)} AND length($f) > $n)"
  private def minLen(f: String, n: Int) = s"(${present(f)} AND length($f) < $n)"
  private def inSet(f: String, vs: String*) =
    s"(${present(f)} AND $f NOT IN (${vs.map(v => s"'${q(v)}'").mkString(", ")}))"
  private def matches(f: String, re: String) =
    s"(${present(f)} AND NOT regexp_matches($f, '${q(re)}'))"
  private def charset(f: String, extra: String) =
    s"(${present(f)} AND regexp_matches($f, '${q(s"[^A-Za-z0-9$extra]")}'))"
  private def digits(f: String, n: Int) = matches(f, s"^[0-9]{$n}$$")
  private def phone(f: String) = matches(f, "^\\+?[0-9().\\-\\s]+(x[0-9]+)?$")
  private def email(f: String) =
    matches(f, "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$")
  private def dateYmd(f: String) =
    s"(${present(f)} AND (NOT regexp_matches($f, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') OR try_cast($f AS DATE) IS NULL))"
  private def onlyWhen(cond: String, v: String) = s"($cond AND $v)"

  private val isMDP = "OrganizationCode IN ('M', 'D', 'P')"
  private val isDP = "OrganizationCode IN ('D', 'P')"
  private val isR = "OrganizationCode = 'R'"
  private val isEft = "PaymentMode = 'EFT'"
  private val isChk = "PaymentMode = 'CHK'"
  private val nameExtra = "\\-&.,'() "
  private val nameChars = "^[A-Za-z][A-Za-z.' \\-]*$"

  /** (rule name, DuckDB violation predicate) in [[BankRules.all]]
    * declaration order. */
  val predicates: Seq[(String, String)] = Seq(
    "RecordOperation.required" -> blank("RecordOperation"),
    "RecordOperation.enum" -> inSet("RecordOperation", "A", "D"),
    "OrganizationCode.required" -> blank("OrganizationCode"),
    "OrganizationCode.enum" -> inSet("OrganizationCode", "M", "D", "P", "R"),
    "PayeeID.required" -> blank("PayeeID"),
    "PayeeID.length" -> s"(${maxLen("PayeeID", 9)} OR ${minLen("PayeeID", 2)})",
    "PayeeID.charset" -> matches("PayeeID", "^[A-Za-z0-9]+$"),
    "PayeeID.matchesOrgIdentifier" -> onlyWhen(isMDP,
      s"(${present("PayeeID")} AND ${present("OrganizationIdentifier")} AND PayeeID <> OrganizationIdentifier)"),
    "OrganizationIdentifier.required" -> blank("OrganizationIdentifier"),
    "OrganizationIdentifier.length" ->
      s"(${maxLen("OrganizationIdentifier", 12)} OR ${minLen("OrganizationIdentifier", 3)})",
    "OrganizationIdentifier.charset" -> matches("OrganizationIdentifier", "^[A-Za-z0-9]+$"),
    "OrganizationIdentifier.rFormat" ->
      onlyWhen(isR, matches("OrganizationIdentifier", "^[1-9][0-9]{9}$")),
    "OrganizationName.required" -> blank("OrganizationName"),
    "OrganizationName.maxLength" -> maxLen("OrganizationName", 40),
    "OrganizationName.charset" -> charset("OrganizationName", nameExtra),
    "OrganizationLegalName.maxLength" -> maxLen("OrganizationLegalName", 40),
    "OrganizationLegalName.charset" -> charset("OrganizationLegalName", nameExtra),
    "OrganizationTIN.required" -> onlyWhen(isMDP, blank("OrganizationTIN")),
    "OrganizationTIN.format" -> digits("OrganizationTIN", 9),
    "OrganizationTIN.blankForR" -> onlyWhen(isR, present("OrganizationTIN")),
    "OrganizationTINType.required" -> onlyWhen(isMDP, blank("OrganizationTINType")),
    "OrganizationTINType.enum" -> inSet("OrganizationTINType", "EIN", "SSN"),
    "OrganizationTINType.blankForR" -> onlyWhen(isR, present("OrganizationTINType")),
    "ProfitNonprofit.required" -> onlyWhen(isDP, blank("ProfitNonprofit")),
    "ProfitNonprofit.enum" -> inSet("ProfitNonprofit", "P", "NP"),
    "OrganizationNPI.format" -> matches("OrganizationNPI", "^[1-9][0-9]{9}$"),
    "PaymentMode.required" -> onlyWhen(isMDP, blank("PaymentMode")),
    "PaymentMode.enum" -> inSet("PaymentMode", "EFT", "CHK"),
    "PaymentMode.mRequiresEft" ->
      onlyWhen("OrganizationCode = 'M'", s"(${present("PaymentMode")} AND PaymentMode <> 'EFT')"),
    "RoutingTransitNumber.requiredEft" ->
      onlyWhen(s"($isMDP AND $isEft)", blank("RoutingTransitNumber")),
    "RoutingTransitNumber.format" -> digits("RoutingTransitNumber", 9),
    "AccountNumber.requiredEft" ->
      onlyWhen(s"($isMDP AND $isEft)", blank("AccountNumber")),
    "AccountNumber.format" -> matches("AccountNumber", "^[0-9]{1,17}$"),
    "AccountType.requiredEft" ->
      onlyWhen(s"($isMDP AND $isEft)", blank("AccountType")),
    "AccountType.enum" -> inSet("AccountType", "CHKING", "SAVING"),
    "RoutingTransitNumber.blankChk" -> onlyWhen(isChk, present("RoutingTransitNumber")),
    "AccountNumber.blankChk" -> onlyWhen(isChk, present("AccountNumber")),
    "AccountType.blankChk" -> onlyWhen(isChk, present("AccountType")),
    "R.bankingAddressBlank" -> onlyWhen(isR,
      Seq("RoutingTransitNumber", "AccountNumber", "AccountType", "AddressCode",
        "AddressLine1", "AddressLine2", "CityName", "State", "PostalCode",
        "ContactFirstName", "ContactLastName")
        .map(present).mkString("(", " OR ", ")")),
    "EffectiveStartDate.required" -> blank("EffectiveStartDate"),
    "EffectiveStartDate.format" -> dateYmd("EffectiveStartDate"),
    "EffectiveEndDate.format" -> dateYmd("EffectiveEndDate"),
    "EffectiveEndDate.afterStart" ->
      s"(${present("EffectiveEndDate")} AND ${present("EffectiveStartDate")} AND try_cast(EffectiveEndDate AS DATE) < try_cast(EffectiveStartDate AS DATE))",
    "EffectiveEndDate.requiredDeactivated" ->
      onlyWhen("RecordOperation = 'D'", blank("EffectiveEndDate")),
    "AddressCode.enum" -> inSet("AddressCode", "PMT", "COR"),
    "AddressCode.requiredDP" -> onlyWhen(isDP, blank("AddressCode")),
    "AddressLine1.maxLength" -> maxLen("AddressLine1", 40),
    "AddressLine1.charset" -> charset("AddressLine1", nameExtra + "/#"),
    "AddressLine2.maxLength" -> maxLen("AddressLine2", 40),
    "AddressLine2.charset" -> charset("AddressLine2", nameExtra + "/#"),
    "CityName.maxLength" -> maxLen("CityName", 25),
    "CityName.charset" -> matches("CityName", nameChars),
    "State.format" -> matches("State", "^[A-Z]{2}$"),
    "PostalCode.format" -> matches("PostalCode", "^[0-9]{5}(-[0-9]{4})?$"),
    "ContactCode.enum" -> inSet("ContactCode", "AO", "DO"),
    "ContactFirstName.maxLength" -> maxLen("ContactFirstName", 20),
    "ContactFirstName.charset" -> matches("ContactFirstName", nameChars),
    "ContactLastName.maxLength" -> maxLen("ContactLastName", 25),
    "ContactLastName.charset" -> matches("ContactLastName", nameChars),
    "ContactTitle.maxLength" -> maxLen("ContactTitle", 23),
    "ContactPhone.maxLength" -> maxLen("ContactPhone", 25),
    "ContactPhone.format" -> phone("ContactPhone"),
    "ContactFax.maxLength" -> maxLen("ContactFax", 25),
    "ContactFax.format" -> phone("ContactFax"),
    "ContactOtherPhone.maxLength" -> maxLen("ContactOtherPhone", 25),
    "ContactOtherPhone.format" -> phone("ContactOtherPhone"),
    "ContactEmail.maxLength" -> maxLen("ContactEmail", 99),
    "ContactEmail.format" -> email("ContactEmail"))

  /** On-disk home for the oracle's input copies of generated frames.
    * The generator is seeded and deterministic, so the dump is pure
    * input data (like the driver's testdata parquet), not a
    * Spark-result echo; the rules are then applied independently by
    * each engine. Lives under the `target/` of the build whose classes
    * run (build-transient, not in git), so two checkouts never share
    * it: `<checkout>/target/scala-2.13/classes` gives
    * `<checkout>/target/oracle_aux`. */
  val auxDir: String = auxDirOf(java.nio.file.Paths.get(
    getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  /** The outermost `target/` above `classes`, so the copy of the
    * classes that `sbt runMain` runs from
    * (`<checkout>/target/bg-jobs/sbt_…/job-N/target/…/classes`, deleted
    * when the run ends) still gives `<checkout>/target/oracle_aux`. */
  private[bank] def auxDirOf(classes: java.nio.file.Path): String = {
    val names = (0 until classes.getNameCount).map(classes.getName(_).toString)
    val target = names.indexOf("target")
    val base =
      if (target < 0) classes.getParent.getParent
      else classes.getRoot.resolve(classes.subpath(0, target + 1))
    base.resolve("oracle_aux").toString
  }

  val genPath = s"$auxDir/bank_gen.parquet"
  val brokenPath = s"$auxDir/bank_broken.parquet"

  /** Per-rule violation counts over a dumped frame — the DuckDB mirror
    * of `Validator.summary(df, BankRules.all)`. */
  def summarySql(path: String): String =
    predicates.map { case (n, p) =>
      s"SELECT '${q(n)}' AS rule, CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM read_parquet('$path/*.parquet')"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rule")

  /** Reference-shaped error file — the DuckDB mirror of
    * `Validator.errorFile(df, BankRules.all, "PayeeID", fileName)`:
    * one row per invalid record, messages joined in declaration order. */
  def errorFileSql(path: String, fileName: String): String = {
    val msgs = BankRules.all.rules.map(r => r.name -> r.message).toMap
    val cases = predicates.map { case (n, p) =>
      s"CASE WHEN $p THEN '${q(msgs(n))}' END"
    }
    val anyViolation = predicates.map(_._2).mkString("(", "\n   OR ", ")")
    s"""SELECT '${q(fileName)}' AS FILENAME, CAST(PayeeID AS VARCHAR) AS PayeeId,
       |  concat_ws(', ',
       |    ${cases.mkString(",\n    ")}) AS ERROR_DESC
       |FROM read_parquet('$path/*.parquet')
       |WHERE $anyViolation
       |ORDER BY PayeeId""".stripMargin
  }
}
