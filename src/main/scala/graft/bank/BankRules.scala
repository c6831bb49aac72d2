package graft.bank

import graft.rules.{Pred, RuleConfig, RuleSet, RuleSetConfig}
import graft.rules.Pred._

/** The full reference validation rule set, distilled from the ~80 test
  * scenarios in /root/reference/tests/ plus the observed error-CSV
  * vocabulary ("RoutingTransitNumber must be 9 digits", "For OrgCode R,
  * all banking/address fields must be completely blank", "For
  * PaymentMode CHK ... must be blank", test_output/invalid_values_*).
  *
  * The rules are declared once, as data: [[config]] is the form a
  * tester edits or ships as JSON without a recompile, mirroring how the
  * reference drives its scenarios from dicts
  * (DM_bankfile_validate_pipeline.py:3113). [[all]] compiles it through
  * [[graft.rules.Pred.toColumn]] onto the [[graft.rules.Checks]]
  * combinators — every rule is a pure Column expression, so the whole
  * set evaluates in one codegen'd projection.
  */
object BankRules {

  private val isMDP: Pred = InLit("OrganizationCode", Seq("M", "D", "P"))
  private val isDP: Pred = InLit("OrganizationCode", Seq("D", "P"))
  private val isR: Pred = Cmp("eq", "OrganizationCode", "R")
  private val isEft: Pred = Cmp("eq", "PaymentMode", "EFT")
  private val isChk: Pred = Cmp("eq", "PaymentMode", "CHK")

  /** Name/address-safe charset: letters, digits, space and -&.,'() —
    * reference rejects !@#$%^* in name fields
    * (tests/test_chk_core_fields_special_characters_combined.py).
    * Literal character list — charsetOnly is translate-based, so no
    * regex escaping. */
  private val nameExtra = "-&.,'() "

  private val recordOperation = Seq(
    RuleConfig("RecordOperation.required", "RecordOperation is required",
      check("required", "RecordOperation")),
    RuleConfig("RecordOperation.enum", "RecordOperation must be A or D",
      inSet("RecordOperation", "A", "D")))

  private val organizationCode = Seq(
    RuleConfig("OrganizationCode.required", "OrganizationCode is required",
      check("required", "OrganizationCode")),
    RuleConfig("OrganizationCode.enum", "OrganizationCode must be one of M, D, P, R",
      inSet("OrganizationCode", "M", "D", "P", "R")))

  private val payee = Seq(
    RuleConfig("PayeeID.required", "PayeeID is required",
      check("required", "PayeeID")),
    RuleConfig("PayeeID.length", "PayeeID must be 2-9 characters",
      or(withN("maxLength", "PayeeID", 9), withN("minLength", "PayeeID", 2))),
    RuleConfig("PayeeID.charset", "PayeeID must be alphanumeric",
      check("alnum", "PayeeID")),
    RuleConfig("PayeeID.matchesOrgIdentifier",
      "PayeeID must equal OrganizationIdentifier for M, D and P records",
      and(check("present", "PayeeID"), check("present", "OrganizationIdentifier"),
        ColCmp("ne", "PayeeID", "OrganizationIdentifier")),
      when = Some(isMDP)),
    RuleConfig("OrganizationIdentifier.required", "OrganizationIdentifier is required",
      check("required", "OrganizationIdentifier")),
    RuleConfig("OrganizationIdentifier.length",
      "OrganizationIdentifier must be 3-12 characters",
      or(withN("maxLength", "OrganizationIdentifier", 12),
        withN("minLength", "OrganizationIdentifier", 3))),
    RuleConfig("OrganizationIdentifier.charset",
      "OrganizationIdentifier must be alphanumeric",
      check("alnum", "OrganizationIdentifier")),
    RuleConfig("OrganizationIdentifier.rFormat",
      "OrganizationIdentifier must be a 10-digit identifier for R records",
      withS("matches", "OrganizationIdentifier", "^[1-9][0-9]{9}$"),
      when = Some(isR)))

  private val organization = Seq(
    RuleConfig("OrganizationName.required", "OrganizationName is required",
      check("required", "OrganizationName")),
    RuleConfig("OrganizationName.maxLength", "OrganizationName exceeds 40 characters",
      withN("maxLength", "OrganizationName", 40)),
    RuleConfig("OrganizationName.charset", "OrganizationName contains invalid characters",
      withS("charsetOnly", "OrganizationName", nameExtra)),
    RuleConfig("OrganizationLegalName.maxLength",
      "OrganizationLegalName exceeds 40 characters",
      withN("maxLength", "OrganizationLegalName", 40)),
    RuleConfig("OrganizationLegalName.charset",
      "OrganizationLegalName contains invalid characters",
      withS("charsetOnly", "OrganizationLegalName", nameExtra)),
    RuleConfig("OrganizationTIN.required",
      "OrganizationTIN is required for M, D and P records",
      check("required", "OrganizationTIN"), when = Some(isMDP)),
    RuleConfig("OrganizationTIN.format", "OrganizationTIN must be 9 digits",
      withN("digits", "OrganizationTIN", 9)),
    RuleConfig("OrganizationTIN.blankForR", "OrganizationTIN must be blank for R records",
      check("mustBeBlank", "OrganizationTIN"), when = Some(isR)),
    RuleConfig("OrganizationTINType.required",
      "OrganizationTINType is required for M, D and P records",
      check("required", "OrganizationTINType"), when = Some(isMDP)),
    RuleConfig("OrganizationTINType.enum", "Invalid OrganizationTinType for non-R records",
      inSet("OrganizationTINType", "EIN", "SSN")),
    RuleConfig("OrganizationTINType.blankForR",
      "OrganizationTINType must be blank for R records",
      check("mustBeBlank", "OrganizationTINType"), when = Some(isR)),
    RuleConfig("ProfitNonprofit.required",
      "ProfitNonprofit is required for D and P records",
      check("required", "ProfitNonprofit"), when = Some(isDP)),
    RuleConfig("ProfitNonprofit.enum", "ProfitNonprofit must be P or NP",
      inSet("ProfitNonprofit", "P", "NP")),
    RuleConfig("OrganizationNPI.format", "OrganizationNPI must be 10 digits",
      withS("matches", "OrganizationNPI", "^[1-9][0-9]{9}$")))

  private val payment = Seq(
    RuleConfig("PaymentMode.required", "PaymentMode is required for M, D and P records",
      check("required", "PaymentMode"), when = Some(isMDP)),
    RuleConfig("PaymentMode.enum", "PaymentMode must be EFT or CHK",
      inSet("PaymentMode", "EFT", "CHK")),
    RuleConfig("PaymentMode.mRequiresEft", "PaymentMode must be EFT for M records",
      and(check("present", "PaymentMode"), Cmp("ne", "PaymentMode", "EFT")),
      when = Some(Cmp("eq", "OrganizationCode", "M"))))

  /** EFT context: banking fields required + formatted
    * (tests/test_eft_banking_fields_blank_required_combined.py,
    * test_eft_banking_format_rules_combined.py; error CSV
    * "RoutingTransitNumber must be 9 digits, RoutingTransitNumber should
    * be numeric for M, D and P records with payment type as EFT"). */
  private val banking = Seq(
    RuleConfig("RoutingTransitNumber.requiredEft",
      "RoutingTransitNumber is required for M, D and P records with payment type as EFT",
      check("required", "RoutingTransitNumber"), when = Some(and(isMDP, isEft))),
    RuleConfig("RoutingTransitNumber.format", "RoutingTransitNumber must be 9 digits",
      withN("digits", "RoutingTransitNumber", 9)),
    RuleConfig("AccountNumber.requiredEft",
      "AccountNumber is required for M, D and P records with payment type as EFT",
      check("required", "AccountNumber"), when = Some(and(isMDP, isEft))),
    // 1-17 digits without regex: any non-digit trips numeric, length
    // is bounded separately (present ⇒ length >= 1 already)
    RuleConfig("AccountNumber.format", "AccountNumber must be 1-17 digits",
      or(check("numeric", "AccountNumber"), withN("maxLength", "AccountNumber", 17))),
    RuleConfig("AccountType.requiredEft",
      "AccountType is required for M, D and P records with payment type as EFT",
      check("required", "AccountType"), when = Some(and(isMDP, isEft))),
    RuleConfig("AccountType.enum", "AccountType must be CHKING or SAVING",
      inSet("AccountType", "CHKING", "SAVING")),
    RuleConfig("RoutingTransitNumber.blankChk",
      "RoutingTransitNumber must be blank, For PaymentMode CHK",
      check("mustBeBlank", "RoutingTransitNumber"), when = Some(isChk)),
    RuleConfig("AccountNumber.blankChk",
      "AccountNumber must be blank, For PaymentMode CHK",
      check("mustBeBlank", "AccountNumber"), when = Some(isChk)),
    RuleConfig("AccountType.blankChk",
      "AccountType must be blank, For PaymentMode CHK",
      check("mustBeBlank", "AccountType"), when = Some(isChk)),
    RuleConfig("R.bankingAddressBlank",
      "For OrgCode R, all banking/address fields must be completely blank",
      Or(Seq("RoutingTransitNumber", "AccountNumber", "AccountType", "AddressCode",
        "AddressLine1", "AddressLine2", "CityName", "State", "PostalCode",
        "ContactFirstName", "ContactLastName").map(f => check("present", f))),
      when = Some(isR)))

  private val dates = Seq(
    RuleConfig("EffectiveStartDate.required", "EffectiveStartDate is required",
      check("required", "EffectiveStartDate")),
    RuleConfig("EffectiveStartDate.format",
      "EffectiveStartDate must be a valid YYYY-MM-DD date",
      check("dateYmd", "EffectiveStartDate")),
    RuleConfig("EffectiveEndDate.format",
      "EffectiveEndDate must be a valid YYYY-MM-DD date",
      check("dateYmd", "EffectiveEndDate")),
    RuleConfig("EffectiveEndDate.afterStart",
      "EffectiveEndDate must not be before EffectiveStartDate",
      and(check("present", "EffectiveEndDate"), check("present", "EffectiveStartDate"),
        DateCmp("lt", "EffectiveEndDate", "EffectiveStartDate"))),
    RuleConfig("EffectiveEndDate.requiredDeactivated",
      "EffectiveEndDate should be provided for deactivated records",
      check("required", "EffectiveEndDate"),
      when = Some(Cmp("eq", "RecordOperation", "D"))))

  private val address = Seq(
    RuleConfig("AddressCode.enum", "AddressCode must be PMT or COR",
      inSet("AddressCode", "PMT", "COR")),
    RuleConfig("AddressCode.requiredDP", "AddressCode is required for D and P records",
      check("required", "AddressCode"), when = Some(isDP)),
    RuleConfig("AddressLine1.maxLength", "AddressLine1 exceeds 40 characters",
      withN("maxLength", "AddressLine1", 40)),
    RuleConfig("AddressLine1.charset", "AddressLine1 contains invalid characters",
      withS("charsetOnly", "AddressLine1", nameExtra + "/#")),
    RuleConfig("AddressLine2.maxLength", "AddressLine2 exceeds 40 characters",
      withN("maxLength", "AddressLine2", 40)),
    RuleConfig("AddressLine2.charset", "AddressLine2 contains invalid characters",
      withS("charsetOnly", "AddressLine2", nameExtra + "/#")),
    RuleConfig("CityName.maxLength", "CityName exceeds 25 characters",
      withN("maxLength", "CityName", 25)),
    RuleConfig("CityName.charset", "CityName contains invalid characters",
      check("nameFormat", "CityName")),
    RuleConfig("State.format", "State must be a 2-letter uppercase code",
      withN("upperCode", "State", 2)),
    RuleConfig("PostalCode.format", "PostalCode must be 5 digits or ZIP+4",
      withS("matches", "PostalCode", "^[0-9]{5}(-[0-9]{4})?$")))

  private val contact = Seq(
    RuleConfig("ContactCode.enum", "ContactCode must be AO or DO",
      inSet("ContactCode", "AO", "DO")),
    RuleConfig("ContactFirstName.maxLength", "ContactFirstName exceeds 20 characters",
      withN("maxLength", "ContactFirstName", 20)),
    RuleConfig("ContactFirstName.charset", "ContactFirstName contains invalid characters",
      check("nameFormat", "ContactFirstName")),
    RuleConfig("ContactLastName.maxLength", "ContactLastName exceeds 25 characters",
      withN("maxLength", "ContactLastName", 25)),
    RuleConfig("ContactLastName.charset", "ContactLastName contains invalid characters",
      check("nameFormat", "ContactLastName")),
    RuleConfig("ContactTitle.maxLength", "ContactTitle exceeds 23 characters",
      withN("maxLength", "ContactTitle", 23)),
    RuleConfig("ContactPhone.maxLength", "ContactPhone exceeds 25 characters",
      withN("maxLength", "ContactPhone", 25)),
    RuleConfig("ContactPhone.format", "ContactPhone has invalid format",
      check("phone", "ContactPhone")),
    RuleConfig("ContactFax.maxLength", "ContactFax exceeds 25 characters",
      withN("maxLength", "ContactFax", 25)),
    RuleConfig("ContactFax.format", "ContactFax has invalid format",
      check("phone", "ContactFax")),
    RuleConfig("ContactOtherPhone.maxLength", "ContactOtherPhone exceeds 25 characters",
      withN("maxLength", "ContactOtherPhone", 25)),
    RuleConfig("ContactOtherPhone.format", "ContactOtherPhone has invalid format",
      check("phone", "ContactOtherPhone")),
    RuleConfig("ContactEmail.maxLength", "ContactEmail exceeds 99 characters",
      withN("maxLength", "ContactEmail", 99)),
    RuleConfig("ContactEmail.format", "ContactEmail has invalid format",
      check("email", "ContactEmail")))

  /** The complete set as config, declaration order = ERROR_DESC order.
    * `RuleSetConfig.fromJson` loads a customized copy of its `toJson`. */
  val config: RuleSetConfig = RuleSetConfig(
    recordOperation ++ organizationCode ++ payee ++ organization ++ payment ++
      banking ++ dates ++ address ++ contact)

  /** The compiled rule set every validation run applies. */
  val all: RuleSet = config.toRuleSet
}
