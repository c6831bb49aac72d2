package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Alternating least squares matrix factorization (Koren/Bell/Volinsky
  * 2009) over an explicit `(user, item, rating)` frame — the
  * collaborative-filtering embedding trainer: after `iters` rounds,
  * every user and item carries a rank-`r` factor vector whose dot
  * product approximates the rating, usable downstream exactly like the
  * text embeddings (ANN top-k, hard negatives, semantic dedup).
  *
  * Asymmetric by design, the [[graft.text.LogReg]]/[[graft.text.BpeTrain]]
  * shape: the ITEM side is vocabulary-bounded (parts, products, URLs —
  * capped at 1M so rank·|items| stays a broadcastable few-hundred MB),
  * lives on the driver between rounds, and is broadcast into each
  * half-step; the USER side is corpus-scale and never leaves the
  * executors — each half-step is ONE job (a groupByKey over the
  * rating frame + a per-key rank×rank Cholesky solve in-task).
  *
  * Deterministic, bit-reproducible: factors initialize from a
  * splitmix-style integer hash of (item, dim) — no RNG state — and
  * every per-key normal-equation fold sorts its group by the partner
  * id first, so float accumulation order is fixed across
  * partitionings and retries.
  *
  * Scale shape per iteration: user step = shuffle ratings by user
  * (rows carry only (user, item, rating)), solve per user in-task;
  * item step = one equi-join of ratings to the just-computed user
  * factors (shuffle carries rank doubles per rating row), groupByKey
  * by item, solve, collect |items|·rank to the driver. No corpus
  * collect, no cartesian, no window. */
object Als {

  /** Driver-resident item side + distributed user side. `userFactors`
    * is a `(user: string, factors: array<double>)` frame. */
  final case class AlsModel(rank: Int, userFactors: DataFrame,
      itemFactors: Map[String, Array[Double]]) {
    def itemFactorsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      itemFactors.toSeq.map { case (i, f) => (i, f.toSeq) }
        .toDF("item", "factors")
    }
  }

  /** Deterministic init, uniform in [-0.5, 0.5)/√rank — sign-diverse
    * (an all-positive init can stall ALS on a symmetric plateau) at
    * the scale a unit-magnitude rating's factors live at: splitmix64
    * of the item id's string hash and the dimension, no RNG state. */
  private[ops] def initVal(id: String, d: Int, rank: Int): Double = {
    var z = (scala.util.hashing.MurmurHash3.stringHash(id).toLong << 32 |
      (d.toLong & 0xffffffffL)) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble / (1L << 53).toDouble - 0.5) / math.sqrt(rank)
  }

  /** Solve (A + reg·I) x = b for a symmetric positive-definite A via
    * Cholesky; A is rank×rank packed row-major, mutated in place. */
  private[ops] def choleskySolve(a: Array[Double], b: Array[Double],
      n: Int, reg: Double): Array[Double] = {
    var i = 0
    while (i < n) { a(i * n + i) += reg; i += 1 }
    // decompose: a = L Lᵀ (lower triangle of a becomes L)
    i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = a(i * n + j)
        var k = 0
        while (k < j) { s -= a(i * n + k) * a(j * n + k); k += 1 }
        if (i == j) a(i * n + i) = math.sqrt(s)
        else a(i * n + j) = s / a(j * n + j)
        j += 1
      }
      i += 1
    }
    // forward then back substitution
    val y = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= a(i * n + k) * y(k); k += 1 }
      y(i) = s / a(i * n + i)
      i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i)
      var k = i + 1
      while (k < n) { s -= a(k * n + i) * x(k); k += 1 }
      x(i) = s / a(i * n + i)
      i -= 1
    }
    x
  }

  /** One half-step: solve the LEFT side's factors given the RIGHT
    * side's (broadcast as a map). Groups sort by partner id before
    * folding, fixing float order. */
  private def solveSide(rows: Dataset[(String, String, Double)],
      partner: Map[String, Array[Double]], rank: Int, reg: Double)
      : Dataset[(String, Array[Double])] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(partner)
    rows.groupByKey(_._1).mapGroups { (key, it) =>
      val obs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
      val a = new Array[Double](rank * rank)
      val b = new Array[Double](rank)
      for ((pid, rating) <- obs) {
        val q = bc.value.getOrElse(pid, null)
        if (q != null) {
          var i = 0
          while (i < rank) {
            val qi = q(i)
            var j = 0
            while (j < rank) { a(i * rank + j) += qi * q(j); j += 1 }
            b(i) += rating * qi
            i += 1
          }
        }
      }
      (key, choleskySolve(a, b, rank, reg))
    }
  }

  /** Driver bytes per rating of the fold (~60 MB of collected triples
    * per million). Within its [[Adaptive.foldRows]] cap the whole
    * alternating loop runs on the driver (r20): every half-step is
    * otherwise a ratings-sized job. BIT-IDENTICAL: same per-group
    * sort-by-partner fold, same Cholesky, same init. */
  private[graft] val FoldBytesPerRating = 64L

  /** Fit `iters` alternating rounds. Items must be bounded (<= 1M
    * distinct — the driver/broadcast side); users are unbounded. */
  def train(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rank: Int = 8, reg: Double = 0.1,
      iters: Int = 5): AlsModel =
    trainCapped(ratings, userCol, itemCol, ratingCol, rank, reg, iters,
      Adaptive.foldRows(FoldBytesPerRating))

  /** [[train]] under a given fold cap (0: never fold). */
  private[graft] def trainCapped(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rank: Int, reg: Double, iters: Int, foldRows: Long): AlsModel = {
    require(rank >= 1 && rank <= 256, s"rank out of range: $rank")
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(reg > 0, s"reg must be positive (keeps the normal " +
      s"equations positive-definite): $reg")
    val spark = ratings.sparkSession
    import spark.implicits._
    val r = ratings.select(col(userCol).cast("string").as("u"),
        col(itemCol).cast("string").as("i"),
        col(ratingCol).cast("double").as("x"))
      .where(col("u").isNotNull && col("i").isNotNull && col("x").isNotNull)
      .as[(String, String, Double)]
      .localCheckpoint(eager = false)
    val items = r.select(col("i")).distinct().as[String].collect().sorted
    require(items.length <= 1000000,
      s"item side must be vocabulary-bounded: ${items.length} > 1M " +
        "(swap the roles or pre-aggregate items)")
    var itemF: Map[String, Array[Double]] = items.iterator.map(i =>
      i -> Array.tabulate(rank)(d => initVal(i, d, rank))).toMap
    // bounded driver fold: the items collect above materialized the
    // checkpointed rating frame, so its exact row count is free to read
    if (Adaptive.admits(foldRows, Adaptive.rows(r))) {
      val triples = r.collect()
      // observation lists sorted ONCE by partner id — the same
      // per-group accumulation order as the distributed
      // sort-by-partner fold, so solves are bit-identical; per-group
      // solves are independent, so the half-steps run on a parallel
      // stream (each slot written exactly once, order-free)
      def grouped(key: ((String, String, Double)) => String,
          partner: ((String, String, Double)) => String)
          : Array[(String, Array[(String, Double)])] = {
        val m = new scala.collection.mutable.AnyRefMap[String,
          scala.collection.mutable.ArrayBuffer[(String, Double)]]()
        triples.foreach { t =>
          m.getOrElseUpdate(key(t),
            new scala.collection.mutable.ArrayBuffer[(String, Double)]()) +=
            ((partner(t), t._3))
        }
        m.iterator.map { case (k, buf) =>
          (k, buf.toArray.sortBy(_._1)) }.toArray
      }
      val byUser = grouped(_._1, _._2)
      val byItemL = grouped(_._2, _._1)
      val itemIdx = new scala.collection.mutable.AnyRefMap[String, Int]()
      byItemL.iterator.zipWithIndex.foreach { case ((i, _), s) => itemIdx(i) = s }
      val userIdx = new scala.collection.mutable.AnyRefMap[String, Int]()
      byUser.iterator.zipWithIndex.foreach { case ((u, _), s) => userIdx(u) = s }
      val itemVecs: Array[Array[Double]] =
        byItemL.map { case (i, _) => itemF(i) }
      val userVecs = new Array[Array[Double]](byUser.length)
      def solveGroup(obs: Array[(String, Double)],
          partnerVec: String => Array[Double]): Array[Double] = {
        val a = new Array[Double](rank * rank)
        val b = new Array[Double](rank)
        obs.foreach { case (pid, rating) =>
          val q = partnerVec(pid)
          if (q != null) {
            var i = 0
            while (i < rank) {
              val qi = q(i)
              var j = 0
              while (j < rank) { a(i * rank + j) += qi * q(j); j += 1 }
              b(i) += rating * qi
              i += 1
            }
          }
        }
        choleskySolve(a, b, rank, reg)
      }
      for (_ <- 1 to iters) {
        java.util.stream.IntStream.range(0, byUser.length).parallel()
          .forEach { ui =>
            userVecs(ui) = solveGroup(byUser(ui)._2,
              pid => itemIdx.get(pid).map(itemVecs).orNull)
          }
        java.util.stream.IntStream.range(0, byItemL.length).parallel()
          .forEach { ii =>
            itemVecs(ii) = solveGroup(byItemL(ii)._2,
              uid => userVecs(userIdx(uid)))
          }
      }
      itemF = byItemL.iterator.zipWithIndex
        .map { case ((i, _), s) => i -> itemVecs(s) }.toMap
      val userDf = spark.createDataset(
        byUser.iterator.zipWithIndex
          .map { case ((u, _), s) => (u, userVecs(s).toSeq) }.toSeq)
        .toDF("user", "factors")
      return AlsModel(rank, userDf, itemF)
    }
    var userF: Dataset[(String, Array[Double])] = null
    val byItem = r.map(t => (t._2, t._1, t._3)).localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      userF = solveSide(r, itemF, rank, reg).localCheckpoint()
      // the item half-step needs user factors per rating row; users
      // are corpus-scale, so resolve them with a distributed equi-join
      // (never a user-side broadcast/collect)
      val joined = byItem.toDF("i", "u", "x")
        .join(userF.toDF("u", "uf"), "u")
        .select(col("i"), col("u"), col("x"), col("uf"))
        .as[(String, String, Double, Array[Double])]
      val itemRows = joined.groupByKey(_._1).mapGroups { (item, it) =>
        val obs = it.map(t => (t._2, t._3, t._4)).toArray.sortBy(_._1)
        val a = new Array[Double](rank * rank)
        val b = new Array[Double](rank)
        for ((_, rating, q) <- obs) {
          var i = 0
          while (i < rank) {
            val qi = q(i)
            var j = 0
            while (j < rank) { a(i * rank + j) += qi * q(j); j += 1 }
            b(i) += rating * qi
            i += 1
          }
        }
        (item, choleskySolve(a, b, rank, reg))
      }.collect()
      itemF = itemRows.iterator.map(t => t._1 -> t._2).toMap
    }
    AlsModel(rank, userF.toDF("user", "factors"), itemF)
  }

  /** Predicted rating for every (user, item) rating row plus squared
    * error — the training-fit read. Returns
    * (user, item, rating, prediction). */
  def predictions(model: AlsModel, ratings: DataFrame, userCol: String,
      itemCol: String, ratingCol: String): DataFrame = {
    val spark = ratings.sparkSession
    val bc = spark.sparkContext.broadcast(model.itemFactors)
    import spark.implicits._
    val r = ratings.select(col(userCol).cast("string").as("u"),
        col(itemCol).cast("string").as("i"),
        col(ratingCol).cast("double").as("x"))
      .as[(String, String, Double)]
    r.toDF("user", "item", "rating")
      .join(model.userFactors, "user")
      .as[(String, String, Double, Array[Double])]
      .map { case (u, i, x, uf) =>
        val q = bc.value.getOrElse(i, null)
        val p = if (q == null || uf == null) Double.NaN
          else {
            var s = 0.0; var k = 0
            while (k < uf.length) { s += uf(k) * q(k); k += 1 }
            s
          }
        (u, i, x, p)
      }
      .toDF("user", "item", "rating", "prediction")
  }

  /** Root-mean-square training error, one row: (n, rmse). */
  def rmse(model: AlsModel, ratings: DataFrame, userCol: String,
      itemCol: String, ratingCol: String): DataFrame =
    predictions(model, ratings, userCol, itemCol, ratingCol)
      .where(!isnan(col("prediction")))
      .agg(count(lit(1)).as("n"),
        sqrt(avg(pow(col("rating") - col("prediction"), 2))).as("rmse"))
}
