package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val rows = 10000000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val path = java.nio.file.Files.createTempDirectory("probe").toString + "/bank"
    graft.bank.BankDataGen.generate(spark, rows, seed = 3).write.mode("overwrite").parquet(path)
    val feed = spark.read.parquet(path)
    def t(name: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime(); f
      println(f"PROBE $name%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    import graft.bank.BankRules.all
    import graft.rules.RuleSet
    import graft.validate.Validator
    t("scan") { feed.select(count(lit(1))).head() }
    t("scan_allcol") { feed.select(count(when(length(col("PayeeID")) > 0, 1))).head() }
    // one probe per field: rule names are "<Field>.<check>"
    val byField = all.rules.groupBy(_.name.takeWhile(_ != '.'))
    for ((f, rules) <- byField.toSeq.sortBy(_._1)) {
      t(f) { Validator.validate(feed, RuleSet(rules))
        .select(count(when(!col(Validator.ValidCol), 1))).head() }
    }
    t("ALL") { Validator.validate(feed, all)
      .select(count(when(!col(Validator.ValidCol), 1))).head() }
    spark.stop()
    new scala.reflect.io.Directory(
      new java.io.File(path).getParentFile).deleteRecursively()
  }
}
