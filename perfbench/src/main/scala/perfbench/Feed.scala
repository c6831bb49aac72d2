package perfbench

import graft.bank.{BankDataGen, BankRules}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** An invalid value written into a column, and the one rule that must
  * report it whatever the rest of the row holds. */
final case class Injection(column: String, value: String, rule: String)

/** One row of `ErrorCompare.diff`. */
final case class DiffRow(key: String, token: String, inLeft: Boolean, inRight: Boolean)

/** Which generated rows are altered, and how. All sets are disjoint. */
final case class FeedPlan(rows: Long, seed: Long,
                          injected: Seq[(Injection, Seq[Long])],
                          duplicatedRows: Seq[Long],
                          duplicatedKeys: Seq[(Long, Long)],
                          dbDropped: Seq[Long],
                          dbExtra: Seq[Long]) {
  def invalid: Long = injected.map(_._2.size.toLong).sum
  def feedRows: Long = rows + duplicatedRows.size
}

/** What a correct validation run over the feed returns, derived from
  * the plan and the rule definitions rather than from the validator. */
final case class Expected(rows: Long, invalid: Long,
                          ruleViolations: Map[String, Long],
                          duplicateRowGroups: Long, duplicateKeyGroups: Long,
                          diff: Set[DiffRow]) {
  def valid: Long = rows - invalid
}

/** The benchmark's seeded bank feed: `BankDataGen.generate` rows with
  * invalid values on about 5% of rows, about 0.5% of rows duplicated
  * and about 0.1% of rows sharing a PayeeID in pairs. The seed picks the
  * rows. */
object Feed {

  /** One injection per rule family the engine's `bank_error_file` entry
    * exercises: charset, enum, length, format, date order and blanks. */
  val injections: Seq[Injection] = Seq(
    Injection("RoutingTransitNumber", "12345ABCD", "RoutingTransitNumber.format"),
    Injection("State", "C1", "State.format"),
    Injection("ContactEmail", "bad-email@@example", "ContactEmail.format"),
    Injection("EffectiveEndDate", "2020-13-45", "EffectiveEndDate.format"),
    Injection("EffectiveEndDate", "2020-01-01", "EffectiveEndDate.afterStart"),
    Injection("PayeeID", "A!", "PayeeID.charset"),
    Injection("OrganizationTINType", "XYZ", "OrganizationTINType.enum"),
    Injection("AccountType", "checking", "AccountType.enum"),
    Injection("CityName", "Spring8field", "CityName.charset"),
    Injection("PostalCode", "1234", "PostalCode.format"),
    Injection("ContactPhone", "123ABC4567", "ContactPhone.format"),
    Injection("OrganizationName", "Bad@Name!", "OrganizationName.charset"),
    Injection("OrganizationNPI", "0123456789", "OrganizationNPI.format"),
    Injection("ContactFirstName", "J0hn", "ContactFirstName.charset"),
    Injection("OrganizationCode", "X", "OrganizationCode.enum"),
    Injection("RecordOperation", "Z", "RecordOperation.enum"),
    Injection("EffectiveStartDate", "", "EffectiveStartDate.required"),
    Injection("ContactTitle", "An Extremely Long Title That Overflows", "ContactTitle.maxLength"),
    Injection("AddressLine1", "1234567890123456789012345678901234567890X", "AddressLine1.maxLength"))

  /** Rows whose only error is `State.format`: the "DB" copy of the
    * error file drops a share of them, so each leaves exactly one token
    * missing on the DB side. */
  private val dropFrom = "State.format"
  /** The token the "DB" copy adds to a share of its rows. */
  val DbOnlyToken = "Legacy DB rule retired"
  /** PayeeID shared by each pair of rows with a duplicated key. */
  private def sharedKey(pair: Int): String = f"DK$pair%07d"

  def plan(rows: Long, seed: Long): FeedPlan = {
    require(rows >= 200, "feed too small for every injection")
    val order = new scala.util.Random(seed).shuffle((0L until rows).toVector)
    val nInvalid = math.max(injections.size.toLong, rows / 20).toInt
    val nDupRows = math.max(1L, rows / 200).toInt
    val nDupKeys = math.max(1L, rows / 1000).toInt
    val invalidIds = order.take(nInvalid)
    val injected = injections.zipWithIndex.map { case (inj, k) =>
      inj -> invalidIds.indices.collect { case i if i % injections.size == k => invalidIds(i) }
    }
    val rest = order.drop(nInvalid)
    val dupRows = rest.take(nDupRows)
    val keyIds = rest.slice(nDupRows, nDupRows + 2 * nDupKeys)
    val pairs = keyIds.grouped(2).map(p => (p(0), p(1))).toSeq
    val stateIds = injected.collectFirst { case (i, ids) if i.rule == dropFrom => ids }.get
    val dropped = stateIds.take(math.max(1, stateIds.size / 10))
    // extra tokens go on rows with a unique key: not the shared-PayeeID
    // injection, and not the rows the DB copy drops
    val uniqueKeyed = injected.filter(_._1.column != "PayeeID").flatMap(_._2).filterNot(dropped.toSet)
    val extra = uniqueKeyed.take(math.max(1, nInvalid / 100))
    FeedPlan(rows, seed, injected, dupRows, pairs, dropped, extra)
  }

  /** The generated rows before any alteration, with their `id`. */
  private def generatedPath(feedPath: String) = feedPath + ".generated"

  /** Generate, alter and write the feed (the 30 reference columns). The
    * generated rows are written first: altering the file rather than the
    * generator's expressions keeps each plan small. */
  def write(spark: SparkSession, p: FeedPlan, path: String): Unit = {
    import spark.implicits._
    BankDataGen.generate(spark, p.rows, seed = p.seed)
      .write.mode("overwrite").parquet(generatedPath(path))
    val base = spark.read.parquet(generatedPath(path))
    val broken = p.injected.foldLeft(base) { case (df, (inj, ids)) =>
      BankDataGen.withInvalid(df, inj.column, inj.value, ids)
    }
    val shared = p.duplicatedKeys.zipWithIndex
      .flatMap { case ((a, b), k) => Seq(a -> sharedKey(k), b -> sharedKey(k)) }
      .toDF("id", "shared_key")
    val keyed = broken.join(broadcast(shared), Seq("id"), "left")
      .withColumn("PayeeID", coalesce(col("shared_key"), col("PayeeID")))
      .withColumn("OrganizationIdentifier", coalesce(col("shared_key"), col("OrganizationIdentifier")))
      .drop("shared_key")
    BankDataGen.withDuplicatedRows(keyed, p.duplicatedRows)
      .drop("id")
      .write.mode("overwrite").parquet(path)
  }

  /** PayeeIDs of generated rows the plan leaves keyed as generated. */
  private def keysOf(spark: SparkSession, feedPath: String, ids: Seq[Long]): Map[Long, String] =
    spark.read.parquet(generatedPath(feedPath))
      .where(col("id").isInCollection(ids))
      .select("id", "PayeeID").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The answers for the feed [[write]] put at `feedPath`. */
  def expected(spark: SparkSession, p: FeedPlan, feedPath: String): Expected = {
    val keys = keysOf(spark, feedPath, p.dbDropped ++ p.dbExtra)
    val message = BankRules.all.rules.map(r => r.name -> r.message).toMap
    val diff = p.dbDropped.map(id => DiffRow(keys(id), message(dropFrom), inLeft = true, inRight = false)) ++
      p.dbExtra.map(id => DiffRow(keys(id), DbOnlyToken, inLeft = false, inRight = true))
    val sharedPayee = if (p.injected.exists { case (i, ids) => i.column == "PayeeID" && ids.size > 1 }) 1 else 0
    Expected(
      rows = p.feedRows,
      invalid = p.invalid,
      ruleViolations = p.injected.groupBy(_._1.rule).map { case (r, xs) => r -> xs.map(_._2.size.toLong).sum },
      duplicateRowGroups = p.duplicatedRows.size,
      duplicateKeyGroups = p.duplicatedRows.size + p.duplicatedKeys.size + sharedPayee,
      diff = diff.toSet)
  }
}
