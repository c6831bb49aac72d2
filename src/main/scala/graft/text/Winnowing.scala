package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
  * — the MOSS local fingerprinting algorithm): hash every character
  * k-gram, then from each window of `w` consecutive gram hashes keep
  * the minimum (rightmost on ties), deduplicated by position. The
  * guarantee that makes it the standard for plagiarism/clone
  * detection: any shared substring of length ≥ k + w − 1 produces at
  * least one IDENTICAL selected fingerprint in both documents, while
  * ~1/w of grams are kept — position-robust overlap detection at a
  * w-fold reduction, where the all-grams inverted index ([[graft.ops
  * .Similarity.ngramContainment]]) pays full density.
  *
  * Scale shape: one NARROW projection chain per document — k-gram
  * walk (native [[graft.expr.CharGrams]] kernel), per-gram hash,
  * window-min selection as the native O(n) monotone-deque kernel
  * ([[graft.expr.WinnowSelect]]; the HOF shifted-slice form below is
  * its executable spec) — no explode before the final fingerprint
  * rows, no shuffle at all until a consumer groups by fingerprint.
  *
  * `replayable = true` hashes grams with md5 (the DuckDB oracle
  * replays selection end-to-end from raw text); `false` uses the
  * xxhash64 production path — same selection, cheaper hash. */
object Winnowing {

  /** The HOF formulation of the selection — per-window struct(pos,
    * fp) via shifted slices, deduped by CONSECUTIVE position
    * (selections are monotone non-decreasing; `array_distinct` over
    * array<struct> is the O(n²)-interpreted trap) — kept as the
    * [[graft.expr.WinnowSelect]] kernel is parity-tested against
    * (the [[graft.ops.Ann.cosineHof]] convention). */
  private[text] def winnowSelectHof(w: Int): Column = {
    val sel0 =
      s"""zip_with(
         |  transform(sequence(1, size(h) - ${w - 1}), j -> slice(h, j, $w)),
         |  sequence(1, size(h) - ${w - 1}),
         |  (win, j) -> named_struct(
         |    'pos', CAST(j + $w - array_position(reverse(win), array_min(win)) AS BIGINT),
         |    'fp', array_min(win)))""".stripMargin
    val lagPos =
      s"""concat(array(CAST(-1 AS BIGINT)),
         |  slice(transform($sel0, x -> x.pos), 1, size(h) - $w))""".stripMargin
    expr(
      s"""filter(
         |  zip_with($sel0, $lagPos,
         |    (cur, prev) -> CASE WHEN cur.pos = prev THEN NULL ELSE cur END),
         |  x -> isnotnull(x))""".stripMargin)
  }

  /** (id, pos, fp) — selected fingerprints, pos = 1-based gram
    * position. Documents shorter than k + w − 1 chars yield no rows
    * (no complete window exists). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4,
                   replayable: Boolean = true,
                   caseFold: Boolean = true): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be >= 1")
    val hashOne =
      if (replayable) "x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)"
      else "x -> xxhash64(x)"
    // caseFold = false keeps positions valid on the ORIGINAL text
    // (what span removal needs; Unicode case folding is not always
    // length-preserving)
    df.select(col(idCol).as("id"),
        (if (caseFold) lower(col(textCol)) else col(textCol)).as("s"))
      .where(length(col("s")) >= k + w - 1)
      .select(col("id"),
        graft.expr.CharGrams.charGrams(col("s"), k, distinct = false).as("g"))
      .select(col("id"), expr(s"transform(g, $hashOne)").as("h"))
      // CollapseProject barrier: without it the hash map above inlines
      // into every slice() below and runs once per (gram x window)
      .repartition(col("id"))
      .select(col("id"),
        graft.expr.WinnowSelect.winnowSelect(col("h"), w).as("sel"))
      // explode_OUTER on purpose: a plain explode lets
      // InferFiltersFromGenerate add `size(sel) > 0`, which pushdown
      // then carries below the repartition barrier with the WHOLE sel
      // derivation inlined — the md5 map re-evaluates per window
      // element inside that filter (O(grams²) per row; measured ~1 s
      // per 300-char document). The outer variant infers nothing; the
      // no-op null guard below filters on the ATTRIBUTE instead.
      .select(col("id"), explode_outer(col("sel")).as("x"))
      .where(col("x").isNotNull)
      .select(col("id"), col("x.pos").as("pos"), col("x.fp").as("fp"))
  }

  /** Cross-document duplicated-substring SPANS — the Lee et al. 2022
    * dedup target ("Deduplicating Training Data Makes Language Models
    * Better" removes substrings repeated across the corpus; their
    * suffix array is a single-machine structure, the winnowing index
    * is the distributed stand-in): a selected fingerprint appearing
    * in ≥ `minDf` DISTINCT documents marks a duplicated region;
    * per doc, flagged positions within `max(w, k-1)` of each other
    * merge into one span covering [start, lastPos + k). Inherited
    * guarantee: any substring of length ≥ k+w-1 shared by ≥ minDf
    * docs selects at least one identical fingerprint in each — no
    * such region escapes unflagged (spans are fingerprint-anchored,
    * so one may START up to w-1 chars into the duplicated region; it
    * never extends past it, and the merge gap is what makes spans
    * provably disjoint). Case-SENSITIVE (`caseFold = false`) so char
    * positions map onto the original text for removal.
    *
    * Scale shape: fingerprints are a narrow per-doc projection (~1/w
    * of grams), df is one (fp → distinct-doc count) aggregate, and
    * the merge is a per-doc window over FLAGGED positions only — the
    * corpus never self-joins. Output: (id, span_start, span_len),
    * 1-based char start, spans disjoint and sorted per doc. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, w: Int = 8, minDf: Long = 10,
      replayable: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf must be >= 2")
    import org.apache.spark.sql.expressions.Window
    // widened (r21): the k=20 charGrams + per-gram hash ran on the
    // unsplittable local file's ONE scan task (1.9 s single-task at
    // sf0.1 on the boilerplate entry); the cheap k=5 fingerprint paths
    // measured the extra exchange as a net LOSS (winnow_corpus 0.40 ->
    // 0.80 s), so they keep the narrow shape
    val fps = fingerprints(graft.ops.Adaptive.widenScan(df.select(idCol, textCol)),
      idCol, textCol, k, w, replayable, caseFold = false)
    val dup = fps.select("fp", "id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDf)
      .select("fp")
    val flagged = fps.join(dup, "fp").select(col("id"), col("pos"))
    val gap = math.max(w, k - 1)
    val byPos = Window.partitionBy("id").orderBy("pos")
    flagged
      .withColumn("brk",
        when(col("pos") - coalesce(lag("pos", 1).over(byPos),
          lit(Long.MinValue / 2)) > gap, 1L).otherwise(0L))
      .withColumn("span_id", sum("brk").over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "span_id")
      .agg(min("pos").as("span_start"),
        (max("pos") + k - min("pos")).as("span_len"))
      .select("id", "span_start", "span_len")
  }

  /** The corpus's most-duplicated substrings — boilerplate FORENSICS,
    * the report half of [[duplicateSpans]] (what should this corpus's
    * blocklist / strip stage contain?): every df-qualifying selected
    * fingerprint with its distinct-doc count and ONE deterministic
    * example occurrence (lexicographic-min (id, pos)) rendered as the
    * k-char gram text. Top `topK` by (n_docs DESC, snippet ASC) —
    * fully deterministic: identical gram text ⇒ identical
    * fingerprint, so no two rows tie on both keys. Same scale shape
    * as duplicateSpans plus one fingerprint-bounded join back for the
    * snippet text. */
  def topDuplicateSubstrings(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, w: Int = 8, minDf: Long = 10,
      topK: Int = 20): DataFrame = {
    require(minDf >= 2 && topK >= 1, "need minDf >= 2, topK >= 1")
    // widened as in duplicateSpans
    val fps = fingerprints(graft.ops.Adaptive.widenScan(df.select(idCol, textCol)),
      idCol, textCol, k, w, replayable = true, caseFold = false)
    val dfreq = fps.select("fp", "id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDf)
    val ex = fps.join(dfreq, "fp")
      .groupBy("fp", "n_docs")
      .agg(min(struct(col("id"), col("pos"))).as("at"))
    ex.join(df.select(col(idCol).as("id"), col(textCol).as("t")),
        col("at.id") === col("id"))
      .select(col("n_docs"),
        expr(s"substring(t, CAST(at.pos AS INT), $k)").as("snippet"))
      .orderBy(col("n_docs").desc, col("snippet").asc)
      .limit(topK)
  }

  /** `textCol` with every [[duplicateSpans]] span REMOVED — the
    * surviving segments concatenated in order: (id, cleaned, n_spans,
    * removed_chars), documents without spans passing through
    * verbatim. One extra doc-keyed join + one per-doc aggregate over
    * span rows (spans are disjoint, so removed_chars = Σ span_len
    * exactly). */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, w: Int = 8, minDf: Long = 10,
      replayable: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val spans = duplicateSpans(df, idCol, textCol, k, w, minDf, replayable)
    val byStart = Window.partitionBy("id").orderBy("span_start")
    val segs = spans
      .withColumn("prev_end",
        coalesce(lag(col("span_start") + col("span_len"), 1).over(byStart),
          lit(1L)))
      .join(docs, "id")
      .withColumn("seg", expr(
        "substring(t, CAST(prev_end AS INT), CAST(span_start - prev_end AS INT))"))
    val agg = segs.groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_len").as("removed_chars"),
        array_join(transform(
          array_sort(collect_list(struct(col("span_start"), col("seg")))),
          x => x.getField("seg")), "").as("head"),
        max(col("span_start") + col("span_len")).as("last_end"),
        first("t").as("dt"))
      .select(col("id"), col("n_spans"), col("removed_chars"),
        concat(col("head"),
          expr("substring(dt, CAST(last_end AS INT))")).as("cleaned"))
    docs.join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cleaned"), col("t")).as("cleaned"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"))
  }

  /** Shared-fingerprint pairs: documents sharing ≥ `minShared`
    * distinct selected fingerprints, with the shared count — the
    * winnowing-index analogue of the containment candidate join. One
    * fingerprint-keyed self-join; `maxDf` drops boilerplate
    * fingerprints appearing in more than that many docs (the hot-
    * posting cap every inverted-index path here takes). */
  def sharedPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Int = 2,
                  maxDf: Long = 0L,
                  replayable: Boolean = true): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w, replayable)
      .select("id", "fp").distinct()
    val pruned = if (maxDf > 0) {
      val hot = fps.groupBy("fp").count().where(col("count") > maxDf)
        .select("fp")
      fps.join(broadcast(hot), Seq("fp"), "left_anti")
    } else fps
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
