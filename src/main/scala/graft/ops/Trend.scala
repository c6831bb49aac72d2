package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group OLS trend fitting — "which segments are growing and how
  * fast", the grouped companion of [[graft.text.Zipf]]'s single-series
  * fit and [[Changepoint]]'s break localization: for every key, the
  * least-squares line of the (position, value) series, plus the
  * residual variance that says how well a line explains it.
  *
  * Engine-reproducible: x is the 1-based position in (orderCol) order,
  * y the caller's integral value; all five OLS sums are exact
  * DECIMAL(38,0) integers (order-independent, = DuckDB HUGEINT), and
  * slope/intercept/R² close with pinned double chains over
  * exact-integer inputs (IEEE-identical anywhere). Slope is reported
  * in value-units per step, floored to 10⁻⁶.
  *
  * Scale shape: one rank window per key (series-bounded) and one
  * groupBy aggregate. Keep n·|y| under ~1e18 so n·Σxy stays inside 38
  * digits.
  */
object Trend {

  /** Output per key: `(key, n_points, slope, intercept, r2)` — slope
    * and intercept floored to 10⁻⁶; r2 NULL for degenerate series
    * (constant y or fewer than 2 points excluded: n >= 2 required). */
  def fitGrouped(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ranked = df.select(col(keyCol).as("key"), col(orderCol).as("t"),
        col(valueCol).cast("long").as("y"))
      .withColumn("x", row_number().over(
        Window.partitionBy("key").orderBy("t")).cast("long"))
    val sums = ranked.groupBy("key").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"))
    val dx = (sums("n") * col("sxx") - col("sx") * col("sx"))
    val dy = (sums("n") * col("syy") - col("sy") * col("sy"))
    val num = (sums("n") * col("sxy") - col("sx") * col("sy"))
    sums.where(col("n") >= 2)
      .select(col("key"), col("n").as("n_points"),
        (floor(num.cast("double") / dx.cast("double") * 1000000)
          / 1000000).as("slope"),
        (floor((col("sy").cast("double") -
          num.cast("double") / dx.cast("double") * col("sx").cast("double"))
          / col("n").cast("double") * 1000000) / 1000000).as("intercept"),
        when(dy > lit(0),
          floor(num.cast("double") * num.cast("double") /
            (dx.cast("double") * dy.cast("double")) * 1000000) / 1000000)
          .as("r2"))
  }

  /** Theil-Sen robust slope per key — the median of all pairwise
    * slopes: one wild outlier day moves [[fitGrouped]]'s OLS line,
    * but cannot move a median (29% breakdown point). EXACT by
    * construction: positions and values are integers, each pairwise
    * slope is one IEEE division of exact ints (identical on any
    * engine), and the median is the deterministic lower-middle order
    * statistic with (slope, i, j) tie-breaks.
    *
    * Cost contract: O(n²) pairs PER KEY, computed IN-TASK — exact
    * Theil-Sen's inherent price, paid where it's cheap. A series is
    * time-bounded, not corpus-bounded (10 years of days is 3653
    * points = 6.7M slopes = 53 MB), so each key's points shuffle once
    * (n rows, not n² pairs) and the slope array + selection never
    * leave the executor. Keys parallelize across tasks. Series over
    * 8192 points are rejected (the slope array would cross ~270 MB) —
    * aggregate to a coarser grain upstream. The former shape (an n²
    * pair join + a per-key window sort) shuffled every pair and
    * funneled each key's millions of pairs through ONE window task:
    * 36 s → ~1 s on 5×2400-point series. */
  def theilSen(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string").as("key"), col(orderCol).as("t"),
        col(valueCol).cast("long").as("y"))
      // EXPLICIT key repartition + partition-local runs instead of
      // groupByKey (r21): the per-key slope work is huge relative to
      // its bytes (2400 points = 2.9M slopes from ~60 KB of rows), and
      // AQE sizes post-shuffle partitions by BYTES — it coalesced the
      // key exchange to one partition and serialized every key's O(n²)
      // work onto one core (1.6 s single-task at sf0.1). A
      // user-specified repartition is never AQE-coalesced, and placed
      // BELOW the window it is also the exchange that satisfies the
      // window's clustering (above it, the optimizer dropped it as
      // redundant against the window's own coalescible exchange). The
      // sort clusters each key's rows so the mapper streams one key
      // (≤8192 points by the require) at a time.
      .repartition(spark.sparkContext.defaultParallelism, col("key"))
      .withColumn("x", row_number().over(
        Window.partitionBy("key").orderBy("t")).cast("long"))
      .select(col("key"), col("x"), col("y"))
      .sortWithinPartitions("key", "x")
      .as[(String, Long, Long)]
      .mapPartitions(keyRuns)
      .flatMap { case (key, pts0) =>
        val pts = pts0.sortBy(_._1)
        val n = pts.length
        require(n <= 8192,
          s"theilSen: series for key '$key' has $n points (max 8192); " +
            "aggregate to a coarser time grain")
        if (n < 2) Iterator.empty
        else {
          val nPairs = n.toLong * (n - 1) / 2
          // each slope is ONE IEEE division of exact ints — identical
          // to the SQL replay's CAST(.. AS DOUBLE)/CAST(.. AS DOUBLE)
          val slopes = new Array[Double](nPairs.toInt)
          var idx = 0
          var i = 0
          while (i < n) {
            val (xi, yi) = pts(i)
            var j = i + 1
            while (j < n) {
              slopes(idx) = (pts(j)._2 - yi).toDouble /
                (pts(j)._1 - xi).toDouble
              idx += 1; j += 1
            }
            i += 1
          }
          // lower-middle order statistic: the VALUE at 1-based rank
          // (nPairs+1)/2 is tie-break-independent, so a plain sort
          // reproduces the replay's (slope, xi, xj)-ordered pick
          java.util.Arrays.sort(slopes)
          val med = slopes(((nPairs + 1) / 2).toInt - 1)
          Iterator.single((key, nPairs,
            math.floor(med * 1000000) / 1000000))
        }
      }
      .toDF("key", "n_pairs", "slope")
  }

  /** One `(key, points)` run per key of a partition whose rows arrive
    * clustered by key — [[theilSen]]'s key repartition and
    * sortWithinPartitions guarantee it. A key that reappears after its
    * run closed means that clustering broke; each fragment would then
    * emit a plausible but wrong slope, so it fails instead. Closed keys
    * are tracked in a set, not by comparing strings in order: Spark's
    * UTF8String byte order differs from `String.compareTo` above
    * U+FFFF. */
  private[ops] def keyRuns(it0: Iterator[(String, Long, Long)])
      : Iterator[(String, Array[(Long, Long)])] = {
    val it = it0.buffered
    val closed = scala.collection.mutable.HashSet.empty[String]
    Iterator.continually {
      if (!it.hasNext) None
      else {
        val key = it.head._1
        if (!closed.add(key)) throw new IllegalStateException(
          s"theilSen: key '$key' appears in two runs of one partition — " +
            "its rows are not clustered by key")
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (it.hasNext && it.head._1 == key) {
          val r = it.next(); buf += ((r._2, r._3))
        }
        Some((key, buf.toArray))
      }
    }.takeWhile(_.isDefined).map(_.get)
  }
}
