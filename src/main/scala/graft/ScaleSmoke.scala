package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt2 => fmt, time}

/** Scale smoke for the core validation path: generate N bank rows
  * distributed, materialize to parquet (the real pipeline validates
  * FILES — and the barrier stops CollapseProject from inlining the
  * generator's expression trees into every rule reference), then run
  * the full ~68-rule set in one codegen'd projection over the scan.
  * Reports scan+validate wall time and rows/s — the per-row cost a
  * 1000-executor cluster multiplies out. One JSON line →
  * BENCH_SCALE.json.
  *
  * Usage: `runMain graft.ScaleSmoke [rows] [path]`. With `path`, the
  * dataset there is reused (generated only if missing) and kept — the
  * second invocation then measures a FRESH JVM validating settled
  * files, which is both the realistic shape (a validation job reads
  * data that already landed) and the only uncontaminated measurement:
  * the r7 diagnosis found a validate timed in the same JVM right
  * after a 100M-row generate+write runs up to 3.8x slower (write-back
  * of several GB of dirty pages competing with the scan, plus
  * generator-JVM state) — 293s vs 77.7s for identical files. sync +
  * System.gc() before timing recovers part of that, full isolation
  * recovers all of it.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 10000000L
    val givenPath = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-scale-smoke")

    val path = givenPath.getOrElse(
      java.nio.file.Files.createTempDirectory("scale-smoke").toString + "/bank")
    val exists = givenPath.exists(p =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))
    val tGen = if (exists) 0.0 else {
      val (_, t) = time {
        graft.bank.BankDataGen.generate(spark, rows, seed = 3)
          .write.mode("overwrite").parquet(path)
      }
      // settle the write-back before timing (see class doc)
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      System.gc()
      t
    }

    // warm-up: codegen compile of the 68-rule projection + scan JIT
    val feed = spark.read.parquet(path)
    graft.validate.Validator.validate(feed.limit(10000), graft.bank.BankRules.all)
      .select(count(when(!col(graft.validate.Validator.ValidCol), 1))).head()

    // when reusing an existing dataset, the CLI rows arg can silently
    // disagree with the file contents and corrupt rows_per_sec — trust
    // the files (a parquet-metadata count, no scan)
    val actualRows = if (exists) feed.count() else rows

    val (bad, tVal) = time {
      graft.validate.Validator.validate(feed, graft.bank.BankRules.all)
        .select(count(when(!col(graft.validate.Validator.ValidCol), 1))).head().getLong(0)
    }
    val json =
      s"""{"metric":"validation_scale","rows":$actualRows,""" +
      s""""gen_write_sec":${fmt(tGen)},"scan_validate_sec":${fmt(tVal)},""" +
      s""""rows_per_sec":${(actualRows / tVal).toLong},"invalid_rows":$bad,""" +
      s""""fresh_jvm":${exists}}"""
    Smoke.artifact("BENCH_SCALE.json", json)
    spark.stop()
    if (givenPath.isEmpty) {
      // the generated feed is gigabytes — don't leave it on /tmp
      import scala.reflect.io.Directory
      new Directory(new java.io.File(path).getParentFile).deleteRecursively()
    }
  }
}
