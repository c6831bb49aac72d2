package graft

import graft.scale._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The scale cases and their one main:
  * `runMain graft.ScaleCases <case> [size]` runs a case on
  * `GraftSession.local(GraftSession.defaultCores)` and writes its
  * `BENCH_SCALE_*.json` into the current directory, only when its
  * check passes. */
object ScaleCases {

  val all: Seq[ScaleCase] = ValidationScale.all ++ AnnScale.all ++ GraphScale.all ++
    SqlScale.all ++ StreamScale.all ++ MediaScale.all

  private def names = all.map(_.name)

  private def named(name: String): ScaleCase = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"no scale case $name; cases: ${names.mkString(", ")}"))

  /** Run `c` at `size` under its conf and check it. The fields end with
    * the run's cores and its effective session conf. */
  def run(spark: SparkSession, c: ScaleCase, size: Long): Fields = {
    val prev = c.conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    c.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = c.build(spark, size)
      c.check(out)
      out ++ Fields("cores" -> spark.sparkContext.defaultParallelism,
        "spark_conf" -> Fields(spark.conf.getAll.toSeq.sortBy(_._1): _*))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[run]], then write the artifact into `dir`; nothing is written
    * when the build or the check throws. */
  def write(spark: SparkSession, c: ScaleCase, size: Long, dir: Path): Path = {
    val json = run(spark, c, size).json
    println(json)
    Files.writeString(dir.resolve(c.artifact), json)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      s"usage: ScaleCases <case> [size]; cases: ${names.mkString(", ")}")
    val c = named(args(0))
    val size = if (args.length > 1) args(1).toLong else c.defaultSize
    val spark = GraftSession.local(GraftSession.defaultCores, s"graft-scale-${c.name}")
    try write(spark, c, size, Paths.get(""))
    finally spark.stop()
  }
}
