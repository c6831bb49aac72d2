package graft

import org.apache.spark.sql.SparkSession

/** The engine's session front door: a SparkSession.Builder pre-tuned
  * for graft workloads, with the settings that matter at cluster
  * scale made explicit rather than left to ambient defaults.
  *
  * What it sets and why:
  *  - `spark.sql.extensions=graft.GraftExtensions` — native functions
  *    (minhash_sig, kmv_distinct, cosine_sim, simhash64, lsh_bucket)
  *    and the as-of join strategy available in every session.
  *  - AQE on with skew-join handling and partition coalescing —
  *    runtime re-planning is the first line of defense against skew
  *    and over-partitioning at 100 TB (explicit salting in
  *    [[graft.ops.Skew]] is the second).
  *  - `spark.sql.session.timeZone=UTC` — date/time rule semantics
  *    must not depend on executor-host zones.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — feeds with INT64
  *    TIMESTAMP(NANOS) (the events table shape) read as raw longs
  *    instead of failing the vectorized reader.
  *
  * Shuffle partitions are NOT hardcoded: callers size them to the
  * cluster (rule of thumb: 2-3× total executor cores; the local test
  * harness uses the core count).
  *
  * [[local]] is the one place a local session's conf is decided. Its
  * users: the test suite (`SparkSpec`, pinned at 4 cores), the
  * `perfbench` benchmark, the tools under `graft.tools` and the scale cases' `ScaleCases` main (sized by
  * [[defaultCores]]). `Bench` and `Verify` are the measurement harness
  * and build their own session, kept unchanged so their timings and
  * outputs stay comparable across rounds.
  */
object GraftSession {

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // both paths: the static conf covers fresh JVMs / spark-submit;
      // withExtensions covers sessions built over an existing
      // SparkContext (static confs are ignored there)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .withExtensions(new GraftExtensions())
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TypedImperativeAggregates (topk_by, the sketch aggs) fall back
      // to SORT-based aggregation past this many distinct keys per
      // task — the 128 default turns a 4M-row top-k-per-query pass
      // into a per-partition sort + per-row buffer serialization
      // (measured 1.5x on the brute kNN graph). 64k heap/sketch
      // buffers of bounded size fit executor memory comfortably.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")

  /** Core count for mains sized to the host: `SPARK_GRAFT_CPUS` when
    * set, else every available processor. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session for tests/benchmarks: `cores` threads, shuffle
    * partitions sized to match, WARN logging. */
  def local(cores: Int, appName: String = "graft-local"): SparkSession = {
    val spark = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // small local parquet files arrive as ONE split; floor the split
      // count so single-file inputs still use every core
      .config("spark.sql.files.minPartitionNum", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
