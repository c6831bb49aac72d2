package graft.bank

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** The SQL double-entry must stay 1:1 with the Column rule set: same
  * rule names, same declaration order (ERROR_DESC joins messages in
  * declaration order, so a reorder would silently scramble the error
  * file the oracle recomputes). Predicate EQUIVALENCE is checked by
  * the DuckDB oracle itself on generated + broken frames. */
class BankRulesSqlSpec extends AnyFunSuite {

  test("SQL predicate list matches BankRules.all names and order") {
    assert(BankRulesSql.predicates.map(_._1) === BankRules.all.rules.map(_.name))
  }

  test("every rule has a message and every predicate is non-empty") {
    val msgs = BankRules.all.rules.map(r => r.name -> r.message).toMap
    BankRulesSql.predicates.foreach { case (n, p) =>
      assert(msgs(n).nonEmpty, s"$n has no message")
      assert(p.trim.nonEmpty, s"$n has an empty predicate")
    }
  }

  test("oracle inputs live under the target/ of the build whose classes run") {
    assert(BankRulesSql.auxDirOf(Paths.get("/co/target/scala-2.13/classes")) ===
      Paths.get("/co/target/oracle_aux").toString)
    val classes = Paths.get(
      BankRulesSql.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val target = Paths.get(BankRulesSql.auxDir).getParent
    assert(target.getFileName.toString === "target")
    assert(classes.startsWith(target), s"${BankRulesSql.auxDir} is outside $classes's build")
  }

  test("sbt runMain's bg-jobs copy of the classes resolves to the checkout's target/") {
    // sbt runs `runMain` from a copy under target/bg-jobs/ that it deletes
    // when the run ends; the oracle reads the dumps after that
    val copied = Paths.get(
      "/co/target/bg-jobs/sbt_4f1c2a9e/job-1/target/7d3b0e5a/scala-2.13/classes")
    assert(BankRulesSql.auxDirOf(copied) === Paths.get("/co/target/oracle_aux").toString)
  }

  test("generated SQL parenthesizes every predicate (safe to OR-join)") {
    BankRulesSql.predicates.foreach { case (n, p) =>
      assert(p.startsWith("(") && p.endsWith(")"), s"$n: $p")
    }
  }
}
