package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  /** The Sennrich et al. (2016) worked example: low×5, lower×2,
    * newest×6, widest×3. Expected first merges (with our deterministic
    * count-desc/pair-asc tie-break): (e,s) ties (s,t) at 9 → e<s wins;
    * then (es,t)=9, (est,</w>)=9, (l,o)=7, (lo,w)=7. */
  private def corpus = Seq(
    (1L, Seq.fill(5)("low").mkString(" ")),
    (2L, Seq.fill(2)("lower").mkString(" ")),
    (3L, Seq.fill(6)("newest").mkString(" ")),
    (4L, Seq.fill(3)("widest").mkString(" ")))
    .toDF("doc_id", "text")

  test("train reproduces the canonical Sennrich example merges") {
    val merges = BpeTrain.train(corpus, "text", numMerges = 5)
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("train is deterministic across repartitionings") {
    val a = BpeTrain.train(corpus.repartition(1), "text", 5)
    val b = BpeTrain.train(corpus.repartition(7), "text", 5)
    assert(a == b)
  }

  test("segment applies merges in order: 'lowest' -> [low, est</w>]") {
    val merges = BpeTrain.train(corpus, "text", 5)
    val out = BpeTrain.segment(
        Seq((1L, "lowest"), (2L, "widest low")).toDF("doc_id", "text"),
        "text", merges)
      .select("doc_id", "tokens")
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("low", "est</w>"))
    assert(out(2L) == Seq("w", "i", "d", "est</w>", "low", "</w>"))
    // "low" as a full word = l o w </w>; merges fuse low but </w>
    // stays separate because (low,</w>) was never learned in 5 merges
  }

  test("segment on unseen characters degrades to chars, never throws") {
    val merges = BpeTrain.train(corpus, "text", 3)
    val out = BpeTrain.segment(Seq((1L, "zq")).toDF("doc_id", "text"),
        "text", merges)
      .select("tokens").as[Seq[String]].head()
    assert(out == Seq("z", "q", "</w>"))
  }

  test("batched training stays valid and covers the same greedy prefix") {
    val single = BpeTrain.train(corpus, "text", 6, batchK = 1)
    val batched = BpeTrain.train(corpus, "text", 6, batchK = 3)
    assert(batched.length == 6)
    // batch round 1 must start with the canonical best pair
    assert(batched.head == single.head)
    // all merges reference symbols constructible from prior merges or chars
    val known = scala.collection.mutable.Set[String]("</w>") ++ ('a' to 'z').map(_.toString)
    batched.foreach { case (a, b) =>
      assert(known(a) && known(b), s"merge ($a,$b) uses unknown symbol")
      known += a + b
    }
  }

  test("autoBatch training matches batchK=1 exactly on the early sequential prefix") {
    // K = max(batchK, min(256, 1 + learned/4)): rounds stay K=1 until
    // 4 merges are learned, so the first 5 merges (4 sequential + the
    // head of the first K=2 round) MUST equal canonical BPE; beyond
    // that only validity is guaranteed
    val single = BpeTrain.train(corpus, "text", 12, batchK = 1)
    val auto = BpeTrain.train(corpus, "text", 12, autoBatch = true)
    assert(auto.length == single.length)
    assert(auto.take(5) == single.take(5),
      s"sequential prefix diverged: auto=${auto.take(5)} single=${single.take(5)}")
    // every merge still references constructible symbols
    val known = scala.collection.mutable.Set[String]("</w>") ++ ('a' to 'z').map(_.toString)
    auto.foreach { case (a, b) =>
      assert(known(a) && known(b), s"merge ($a,$b) uses unknown symbol")
      known += a + b
    }
    // determinism: a re-run reproduces the identical merge list
    assert(BpeTrain.train(corpus, "text", 12, autoBatch = true) == auto)
  }

  test("a fully-fused vocabulary ends training early instead of looping") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = BpeTrain.train(tiny, "text", numMerges = 50)
    // "ab" needs exactly 2 merges to fuse completely: (a,b), (ab,</w>)
    assert(merges == Seq(("a", "b"), ("ab", "</w>")))
  }

  test("driver fold and distributed loop learn identical merges (r20)") {
    import spark.implicits._
    // enough vocabulary that batching, ties and the top-(want·4)
    // candidate window all exercise; unicode words exercise the UTF-8
    // rank order the fold must reproduce
    val docs = (0 until 400).map { i =>
      val w = Iterator.tabulate(6)(j =>
        java.lang.Long.toHexString((i * 37 + j * 101) % 4096L))
      (i.toLong, w.mkString(" ") + (if (i % 7 == 0) " héllo wörld ābc" else ""))
    }.toDF("doc_id", "text")
    for ((k, auto) <- Seq((1, false), (3, false), (1, true))) {
      val dist = BpeTrain.trainCapped(docs, "text", numMerges = 40,
        batchK = k, autoBatch = auto, foldRows = 0)
      val fold = BpeTrain.train(docs, "text", numMerges = 40,
        batchK = k, autoBatch = auto)
      assert(fold == dist, s"tiers diverge at batchK=$k autoBatch=$auto")
    }
  }

  test("merge list round-trips through parquet in rank order") {
    import spark.implicits._
    val docs = Seq("low lower lowest", "low low newest widest").toDF("text")
    val merges = BpeTrain.train(docs, "text", numMerges = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-model").toString
    BpeTrain.saveMerges(spark, merges, s"$dir/merges")
    val loaded = BpeTrain.loadMerges(spark, s"$dir/merges")
    assert(loaded == merges) // order preserved exactly
    // segmentation from the loaded artifact is identical
    val a = BpeTrain.segment(docs, "text", merges)
      .select("tokens").as[Seq[String]].collect().toSeq
    val b = BpeTrain.segment(docs, "text", loaded)
      .select("tokens").as[Seq[String]].collect().toSeq
    assert(a == b)
  }
}
