package graft
package entries

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Entry.t

/** Near-duplicate detection and entity resolution: exact and key
  * dedup, n-gram Jaccard/containment, minhash, simhash, winnowing,
  * edit-distance joins and record linkage. */
private[graft] object DedupEntries {

  /** The containment-query corpus: the first 100 docs plus a planted
    * 120-char prefix snippet (doc_id + 1000) of each long ASCII doc.
    * A prefix's distinct 5-grams are a subset of its parent's, so each
    * snippet is guaranteed a containment-1.0 pair — without them the
    * testdata corpus has zero pairs at threshold 0.8 and the oracle
    * would gate nothing. ASCII-only keeps substring() code-point
    * semantics identical across Spark and DuckDB. */
  private def containmentCorpus(documents: DataFrame): DataFrame = {
    val base = documents.where(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    base.unionAll(base
      .where(col("text").rlike("^[ -~]*$") && length(col("text")) >= 240)
      .select((col("doc_id") + 1000).as("doc_id"),
        substring(col("text"), 1, 120).as("text")))
  }

  val all: Seq[Entry] = Seq(

    // winnowing fingerprints (MOSS): window-min k-gram selection,
    // rightmost-min ties, ~1/w density with the shared-substring
    // guarantee. Full (doc, pos, fp) rows so the oracle pins the
    // SELECTION, not just counts.
    Entry("text_winnowing", (s, dir) => {
      graft.text.Winnowing.fingerprints(
          t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pos")
    }, Some(
      // winnowing replay: gram hashes from md5, per-window min with the
      // rightmost-min tie (max position among window rows at the min),
      // distinct selected positions
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS s FROM documents
        |  WHERE doc_id < 100 AND length(lower(text)) >= 8),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(t.i AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 2)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |sel AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 3 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m)
        |SELECT DISTINCT doc_id, pos, fp FROM sel
        |ORDER BY doc_id, pos""".stripMargin)),

    // winnowing index join over the planted-snippet corpus: every
    // snippet shares a >=120-char substring with its parent, so the
    // k+w-1 guarantee forces shared fingerprints — pair recall is
    // structural, not corpus luck.
    Entry("text_winnow_pairs", (s, dir) => {
      graft.text.Winnowing.sharedPairs(
          containmentCorpus(t(s, dir, "documents")),
          "doc_id", "text", k = 5, w = 4, minShared = 3, maxDf = 10)
        .orderBy("id1", "id2")
    }, Some(
      // shared-fingerprint pairs over the snippet-planted corpus: same
      // winnowing chain, distinct (doc, fp), fp-keyed self-join
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |d AS (
        |  SELECT doc_id, lower(text) AS s
        |  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM snip)
        |  WHERE length(lower(text)) >= 8),
        |g AS (
        |  SELECT doc_id, CAST(t.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(t.i AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 2)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 3
        |  GROUP BY 1, 2),
        |fps0 AS (SELECT DISTINCT doc_id, m AS fp FROM wm),
        |hot AS (SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > 10),
        |fps AS (SELECT * FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id1, id2""".stripMargin)),

    // entity resolution: 25 high-entropy record names (md5 of the
    // nation name — the raw NATION_nn labels differ by one digit and
    // would all merge at any variant-tolerant threshold) + two planted
    // dirty variants each (3rd-char deletion, trailing-char append) —
    // block on the first two hex chars, score by normalized
    // Levenshtein, close transitively into (base, variant, variant)
    // entities.
    Entry("er_nation_entities", (s, dir) => {
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          substring(md5(col("n_name")), 1, 8).as("name"))
      val recs = nat
        .unionAll(nat.select((col("id") + 100).as("id"),
          concat(substring(col("name"), 1, 2),
            substring(col("name"), 4, 1000)).as("name")))
        .unionAll(nat.select((col("id") + 200).as("id"),
          concat(col("name"), lit("X")).as("name")))
      graft.ops.RecordLinkage.linkClusters(recs, "id",
          lower(substring(col("name"), 1, 2)), Seq(("name", 1.0)),
          threshold = 0.7)
        .orderBy("id")
    }, Some(
      // record-linkage replay: same md5-name derivation, blocking key,
      // floor-quantized Levenshtein score and recursive closure
      """WITH RECURSIVE recs AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    substring(md5(n_name), 1, 8) AS name FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100,
        |    substring(substring(md5(n_name), 1, 8), 1, 2)
        |      || substring(substring(md5(n_name), 1, 8), 4)
        |  FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 200, substring(md5(n_name), 1, 8) || 'X'
        |  FROM nation),
        |b AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM recs),
        |jp AS (
        |  SELECT a.id AS id1, b2.id AS id2
        |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
        |  WHERE floor((1.0 - CAST(levenshtein(a.name, b2.name) AS DOUBLE)
        |          / greatest(length(a.name), length(b2.name), 1)) / 1.0
        |          * 10000) / 10000 >= 0.7),
        |e AS (SELECT id1 AS src, id2 AS dst FROM jp
        |      UNION SELECT id2, id1 FROM jp),
        |reach AS (
        |  SELECT id AS a, id AS b FROM recs
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |lab AS (SELECT a AS id, CAST(min(b) AS BIGINT) AS entity
        |        FROM reach GROUP BY a)
        |SELECT id, entity FROM lab ORDER BY id""".stripMargin)),

    // cross-corpus match: each left doc's best counterpart on the
    // right by banded-minhash candidates + signature agreement —
    // planted right-side variants (text + ' x', id + 2000) guarantee
    // every left doc a high-jaccard counterpart
    Entry("text_cross_match", (s, dir) => {
      val docs = t(s, dir, "documents")
      val left = docs.where(col("doc_id") < 50).select("doc_id", "text")
      val right = docs.where(col("doc_id") >= 50 && col("doc_id") < 150)
        .select("doc_id", "text")
        .unionAll(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 2000).as("doc_id"),
            concat(col("text"), lit(" x")).as("text")))
      Similarity.crossMatchTopK(left, right, "doc_id", "text", k = 1,
          kShingle = 5, numHashes = 32, rowsPerBand = 8,
          minJaccard = 0.2, replayable = true)
        .orderBy("left_id")
    }, Some(
      // cross-match replay: pooled md5 sigs/bands (disjoint id spaces),
      // PER-SIDE hot-bucket caps, left×right candidates, agreement
      // scoring, row_number best-per-left
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |pool AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM base
        |  UNION ALL
        |  SELECT doc_id + 2000, lower(text || ' x') FROM base WHERE doc_id < 50),
        |d AS (SELECT * FROM pool WHERE length(s) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |lbands AS (SELECT * FROM bands WHERE id < 50),
        |rbands AS (SELECT * FROM bands WHERE id >= 50),
        |lhot AS (SELECT band, bucket FROM lbands GROUP BY 1, 2 HAVING count(*) > 500),
        |rhot AS (SELECT band, bucket FROM rbands GROUP BY 1, 2 HAVING count(*) > 500),
        |lcap AS (SELECT b.* FROM lbands b WHERE NOT EXISTS (
        |  SELECT 1 FROM lhot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |rcap AS (SELECT b.* FROM rbands b WHERE NOT EXISTS (
        |  SELECT 1 FROM rhot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS lid, b.id AS rid
        |  FROM lcap a JOIN rcap b ON a.band = b.band AND a.bucket = b.bucket),
        |agree AS (
        |  SELECT c.lid, c.rid,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est
        |  FROM cand c JOIN sig s1 ON s1.id = c.lid
        |              JOIN sig s2 ON s2.id = c.rid AND s2.i = s1.i
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT lid, rid, est,
        |    row_number() OVER (PARTITION BY lid ORDER BY est DESC, rid ASC) AS rk
        |  FROM agree WHERE est >= 0.2)
        |SELECT lid AS left_id, rid AS right_id, est AS est_jaccard,
        |  CAST(rk AS INT) AS rnk
        |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin)),

    // cross-TABLE linkage: clean nations vs a dirty feed of variants,
    // best match per left record via the bounded-heap top-1 (never a
    // window) — the two-source master-data match
    Entry("er_table_link", (s, dir) => {
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          substring(md5(col("n_name")), 1, 8).as("name"))
      val dirty = nat.select((col("id") + 100).as("id"),
          concat(substring(col("name"), 1, 2),
            substring(col("name"), 4, 1000)).as("name"))
        .unionAll(nat.select((col("id") + 200).as("id"),
          concat(col("name"), lit("X")).as("name")))
      graft.ops.RecordLinkage.linkTables(nat, dirty, "id",
          lower(substring(col("name"), 1, 2)), Seq(("name", 1.0)),
          threshold = 0.6, bestPerLeft = true)
        .orderBy("left_id")
    }, Some(
      // cross-table linkage replay: same derivation/blocking/score,
      // best-per-left via row_number (score desc, right id asc)
      """WITH nat AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    substring(md5(n_name), 1, 8) AS name FROM nation),
        |dirty AS (
        |  SELECT id + 100 AS id, substring(name, 1, 2) || substring(name, 4) AS name FROM nat
        |  UNION ALL
        |  SELECT id + 200, name || 'X' FROM nat),
        |lb AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM nat),
        |rb AS (SELECT id, name, lower(substring(name, 1, 2)) AS blk FROM dirty),
        |sc AS (
        |  SELECT l.id AS left_id, r.id AS right_id,
        |    floor((1.0 - CAST(levenshtein(l.name, r.name) AS DOUBLE)
        |      / greatest(length(l.name), length(r.name), 1)) / 1.0
        |      * 10000) / 10000 AS score
        |  FROM lb l JOIN rb r ON l.blk = r.blk),
        |th AS (SELECT * FROM sc WHERE score >= 0.6),
        |best AS (
        |  SELECT left_id, right_id, score,
        |    row_number() OVER (PARTITION BY left_id
        |      ORDER BY score DESC, right_id ASC) AS rk
        |  FROM th)
        |SELECT left_id, right_id, score FROM best WHERE rk = 1
        |ORDER BY left_id""".stripMargin)),

    Entry("dedup_exact_docs", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash")
    }, Some(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin)),

    Entry("dup_key_docs", (s, dir) => {
      Dedup.duplicateKeys(t(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }, Some(
      """SELECT lang, source, count(*) AS dup_count
        |FROM documents
        |GROUP BY lang, source
        |HAVING count(*) > 1
        |ORDER BY lang, source""".stripMargin)),

    Entry("dup_events_keys", (s, dir) => {
      Dedup.duplicateKeys(Tables.events(s, dir).drop("ts_us"), Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type")
    }, Some(
      """SELECT user_id, event_type, count(*) AS dup_count
        |FROM events
        |GROUP BY user_id, event_type
        |HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin)),

    Entry("ngram_jaccard_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      Similarity.ngramJaccard(docs, "doc_id", "text", k = 5, threshold = 0.2)
        .orderBy("id1", "id2")
    }, Some(
      """WITH docs AS (
        |  SELECT doc_id, lower(text) AS s FROM documents
        |  WHERE doc_id < 100 AND length(text) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM docs, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / (sa.n + sb.n - p.inter), 4) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.id1
        |JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE round(p.inter / (sa.n + sb.n - p.inter), 4) >= 0.2
        |ORDER BY id1, id2""".stripMargin)),

    // connected components over the near-dup pair graph (transitive
    // closure: A~B, B~C ⇒ one cluster even if A,C never matched).
    // Self-loops make every doc a node so singletons stay visible; the
    // oracle replays the closure with a recursive CTE.
    Entry("q_dup_components", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      val pairs = Similarity.ngramJaccard(docs, "doc_id", "text", k = 5, threshold = 0.2)
        .select(col("id1").as("src"), col("id2").as("dst"))
      val edges = pairs.union(docs.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      graft.ops.ConnectedComponents.components(edges)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
        .orderBy("component")
    }, Some(
      """WITH RECURSIVE alldocs AS (
        |  SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 100),
        |docs5 AS (SELECT * FROM alldocs WHERE length(s) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM docs5, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (
        |  SELECT p.id1, p.id2
        |  FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |            JOIN sizes sb ON sb.doc_id = p.id2
        |  WHERE round(p.inter / (sa.n + sb.n - p.inter), 4) >= 0.2),
        |e AS (SELECT id1 AS src, id2 AS dst FROM jp
        |      UNION SELECT id2, id1 FROM jp),
        |reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM alldocs
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT component, count(*) AS n_members
        |FROM lab GROUP BY component ORDER BY component""".stripMargin)),

    Entry("dedup_minhash", (s, dir) => {
      val docs = t(s, dir, "documents")
      // persist the signature table — banding and both re-attach joins
      // read it; recomputing the minhash three times costs more than
      // the ~300B/doc of memory (at cluster scale: write it to parquet
      // once and share it across dedup runs). md5-derived signatures +
      // md5 band buckets so the DuckDB oracle replays the ENTIRE
      // pipeline (shingle → sig → band → pair → score) from raw text;
      // the native xxhash kernel path is parity-pinned in SimilaritySpec.
      val sigs = Similarity.minhashSignaturesMd5(docs, "doc_id", "text",
        k = 5, numHashes = 32).cache()
      Similarity.minhashPairsFromSigs(sigs, numHashes = 32, rowsPerBand = 8,
          threshold = 0.5, replayableBuckets = true)
        .orderBy("id1", "id2")
    }, Some(
      // md5 K-M double-hash minhash → banded buckets → capped candidate
      // pairs → signature-agreement estimate. Mirrors
      // Similarity.minhashSignaturesMd5 + minhashPairsFromSigs
      // (replayableBuckets) step by step.
      """WITH d AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 500),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |agree AS (
        |  SELECT c.id1, c.id2,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
        |  FROM cand c JOIN sig s1 ON s1.id = c.id1
        |              JOIN sig s2 ON s2.id = c.id2 AND s2.i = s1.i
        |  GROUP BY c.id1, c.id2)
        |SELECT id1, id2, est_jaccard FROM agree WHERE est_jaccard >= 0.5 ORDER BY id1, id2""".stripMargin)),

    // native xxhash64 MinHash kernel (graft.expr.MinHashSig, codegen)
    // through the same banding/pair path as dedup_minhash
    Entry("dedup_minhash_native", (s, dir) => {
      val sigs = Similarity.minhashSignatures(t(s, dir, "documents"),
          "doc_id", "text", k = 5, numHashes = 32)
        .repartition(col("id")).cache()
      Similarity.minhashPairsFromSigs(sigs, numHashes = 32, rowsPerBand = 8,
          threshold = 0.5)
        .orderBy("id1", "id2")
    }, None),

    // corpus-level near-dedup (minhash LSH + mega-cluster
    // representative linking): surviving doc count per lang
    Entry("dedup_survivors", (s, dir) => {
      val docs = t(s, dir, "documents")
      // md5-signature variant of the full survivor pipeline (banding,
      // hot-bucket representative linking, pair victims, anti join) —
      // DuckDB replays every stage from raw text.
      val sigs = Similarity.minhashSignaturesMd5(docs, "doc_id", "text",
        k = 5, numHashes = 32).cache()
      Similarity.dropNearDuplicatesFromSigs(docs, "doc_id", sigs,
          numHashes = 32, rowsPerBand = 8, threshold = 0.8, maxBucket = 500,
          replayableBuckets = true)
        .groupBy("lang").agg(count(lit(1)).as("survivors"))
        .orderBy("lang")
    }, Some(
      // full survivor pipeline: same sigs/bands as dedup_minhash, plus
      // hot-bucket representative linking and the pair-victim anti join
      // (Similarity.dropNearDuplicatesFromSigs).
      """WITH d AS (
        |  SELECT doc_id AS id, lower(text) AS s FROM documents WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT id, substr(s, CAST(t.i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |gh AS (
        |  SELECT id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(g), 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |sig AS (
        |  SELECT id, CAST(t.i AS INTEGER) AS i,
        |         min((h1 + t.i * h2) % 1152921504606846976) AS v
        |  FROM gh, unnest(range(0, 32)) AS t(i)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT id, i // 8 AS band,
        |         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bucket
        |  FROM sig GROUP BY id, i // 8),
        |hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) > 500),
        |hotvic AS (
        |  SELECT b.id AS victim
        |  FROM bands b JOIN hot h ON h.band = b.band AND h.bucket = b.bucket
        |  QUALIFY b.id > min(b.id) OVER (PARTITION BY b.band, b.bucket)),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |agree AS (
        |  SELECT c.id1, c.id2,
        |         round(sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) / 32.0, 4) AS est_jaccard
        |  FROM cand c JOIN sig s1 ON s1.id = c.id1
        |              JOIN sig s2 ON s2.id = c.id2 AND s2.i = s1.i
        |  GROUP BY c.id1, c.id2),
        |vic AS (
        |  SELECT victim FROM hotvic
        |  UNION SELECT id2 AS victim FROM agree WHERE est_jaccard >= 0.8)
        |SELECT lang, count(*) AS survivors
        |FROM documents WHERE doc_id NOT IN (SELECT victim FROM vic)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // native survivor pipeline (xxhash sigs + murmur band buckets) —
    // the production analogue of dedup_survivors
    Entry("dedup_survivors_native", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.transform(d => Similarity.dropNearDuplicates(d, "doc_id", "text",
          k = 5, numHashes = 32, rowsPerBand = 8, threshold = 0.8,
          maxBucket = 500))
        .groupBy("lang").agg(count(lit(1)).as("survivors"))
        .orderBy("lang")
    }, None),

    Entry("dedup_simhash", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
      // 60-bit md5-token SimHash through the SAME banding/verify path
      // as the native 64-bit kernel — DuckDB recomputes hash, bands
      // and hamming from raw text.
      // cache: the banding derivation is referenced three times (hot
      // list + both sides of the candidate self-join) and each
      // reference would otherwise recompute the md5 token fold
      Similarity.simhashPairsFromHashes(
          Similarity.simhashMd5(docs, "doc_id", "text").cache(),
          maxHamming = 3, maxBucket = 500, bits = 60)
        .orderBy("id1", "id2")
    }, Some(
      // 60-bit md5-token simhash → pigeonhole bands → exact hamming
      // verify (Similarity.simhashMd5 + simhashPairsFromHashes).
      """WITH d AS (
        |  SELECT doc_id AS id, trim(lower(text)) AS s FROM documents
        |  WHERE doc_id < 1000 AND trim(lower(text)) <> ''),
        |toks AS (
        |  SELECT id, t.tok FROM d, unnest(regexp_split_to_array(s, '\s+')) AS t(tok)
        |  WHERE t.tok <> ''),
        |th AS (SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
        |bits AS (
        |  SELECT id, CAST(b.b AS INTEGER) AS b,
        |         CASE WHEN sum(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |              THEN 1 ELSE 0 END AS bit
        |  FROM th, unnest(range(0, 60)) AS b(b) GROUP BY 1, 2),
        |sh AS (
        |  SELECT id, CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash
        |  FROM bits GROUP BY id),
        |bands AS (
        |  SELECT id, simhash, CAST(t.b AS INTEGER) AS band,
        |         (simhash >> CAST(t.b * 15 AS INTEGER)) & 32767 AS bandval
        |  FROM sh, unnest(range(0, 4)) AS t(b)),
        |hot AS (SELECT band, bandval FROM bands GROUP BY band, bandval HAVING count(*) > 500),
        |capped AS (
        |  SELECT b.* FROM bands b WHERE NOT EXISTS (
        |    SELECT 1 FROM hot h WHERE h.band = b.band AND h.bandval = b.bandval)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2, a.simhash AS s1, b.simhash AS s2
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bandval = b.bandval AND a.id < b.id)
        |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY id1, id2""".stripMargin)),

    // native 64-bit fused SimHash kernel (graft.expr.SimHash64)
    Entry("dedup_simhash_native", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
      Similarity.simhashPairsFromHashes(
          Similarity.simhash(docs, "doc_id", "text").repartition(col("id")).cache(),
          maxHamming = 3, maxBucket = 500, bits = 64)
        .orderBy("id1", "id2")
    }, None),

    // cross-document duplicated-substring removal (Lee et al. 2022's
    // dedup target through the winnowing index): a license-style
    // boilerplate planted mid-text on every third doc must come out,
    // the doc's own text must survive — spans are df-gated selected
    // fingerprints merged per doc, strip reconstructs the survivors
    Entry("text_substr_dedup", (s, dir) => {
      val boiler = " This Software Is Provided As Is Without Warranty " +
        "Of Any Kind Express Or Implied "
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(substring(col("text"), 1, 40), lit(boiler),
              expr("substring(text, 41)")))
            .otherwise(col("text")).as("text"))
      graft.text.Winnowing.stripDuplicateSpans(docs, "doc_id", "text",
          k = 20, w = 8, minDf = 10)
        .select(col("id").as("doc_id"), col("cleaned"),
          col("n_spans"), col("removed_chars"))
        .orderBy("doc_id")
    }, Some(
      // substring-dedup replay: the full winnowing selection (k=20,
      // w=8, case-sensitive), df>=10 fingerprint gate, gap-19 span
      // merge via lag/sum windows, and segment-reconstruction strip
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN substring(text, 1, 40) ||
        |        ' This Software Is Provided As Is Without Warranty Of Any Kind Express Or Implied ' ||
        |        substring(text, 41)
        |      ELSE text END AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t AS s FROM d0 WHERE length(t) >= 27),
        |g AS (
        |  SELECT doc_id, CAST(ti.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(ti.i AS INTEGER), 20)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 18)) AS ti(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 6)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 7
        |  GROUP BY 1, 2),
        |sel0 AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 7 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM sel0),
        |dup AS (
        |  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sel)
        |  GROUP BY fp HAVING count(*) >= 10),
        |fl AS (SELECT DISTINCT s.doc_id, s.pos FROM sel s JOIN dup USING (fp)),
        |mk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |      -1000000) > 19 THEN 1 ELSE 0 END AS brk
        |  FROM fl),
        |sp0 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM mk),
        |sp AS (
        |  SELECT doc_id, span_id, min(pos) AS st,
        |    max(pos) + 20 - min(pos) AS len
        |  FROM sp0 GROUP BY 1, 2),
        |seg AS (
        |  SELECT doc_id, st, len,
        |    coalesce(lag(st + len) OVER (PARTITION BY doc_id ORDER BY st), 1) AS prev_end
        |  FROM sp),
        |agg AS (
        |  SELECT seg.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(len) AS BIGINT) AS removed_chars,
        |    string_agg(substring(d0.t, CAST(prev_end AS INTEGER),
        |      CAST(st - prev_end AS INTEGER)), '' ORDER BY st) AS head,
        |    max(st + len) AS last_end
        |  FROM seg JOIN d0 ON d0.doc_id = seg.doc_id GROUP BY 1)
        |SELECT d0.doc_id,
        |  CASE WHEN agg.doc_id IS NULL THEN d0.t
        |       ELSE agg.head || substring(d0.t, CAST(agg.last_end AS INTEGER)) END AS cleaned,
        |  coalesce(agg.n_spans, 0) AS n_spans,
        |  coalesce(agg.removed_chars, 0) AS removed_chars
        |FROM d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id
        |ORDER BY d0.doc_id""".stripMargin)),

    // boilerplate forensics: the most-duplicated substrings of the
    // corpus, two planted boilers (every 3rd / every 5th doc) must
    // dominate the report with their exact doc counts
    Entry("text_top_boilerplate", (s, dir) => {
      val boiler1 = " This Software Is Provided As Is Without Warranty " +
        "Of Any Kind Express Or Implied "
      val boiler2 = " Subscribe To Our Newsletter For Updates And Offers "
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0,
              concat(substring(col("text"), 1, 40), lit(boiler1),
                expr("substring(text, 41)")))
              .otherwise(col("text")),
            when(col("doc_id") % 5 === 0, lit(boiler2)).otherwise(lit("")))
            .as("text"))
      graft.text.Winnowing.topDuplicateSubstrings(docs, "doc_id", "text",
        k = 20, w = 8, minDf = 10, topK = 15)
    }, Some(
      // boilerplate-forensics replay: winnow selection + df gate +
      // lexicographic-min (doc, pos) example + gram render, top-15
      """WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN substring(text, 1, 40) ||
        |        ' This Software Is Provided As Is Without Warranty Of Any Kind Express Or Implied ' ||
        |        substring(text, 41)
        |      ELSE text END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' Subscribe To Our Newsletter For Updates And Offers ' ELSE '' END AS t
        |  FROM documents),
        |d AS (SELECT doc_id, t AS s FROM d0 WHERE length(t) >= 27),
        |g AS (
        |  SELECT doc_id, CAST(ti.i AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(substring(s, CAST(ti.i AS INTEGER), 20)), 1, 15)) AS BIGINT) AS h
        |  FROM d, unnest(range(1, length(s) - 18)) AS ti(i)),
        |np AS (SELECT doc_id, max(p) AS n FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT doc_id, CAST(j.j AS BIGINT) AS j
        |  FROM np, unnest(range(1, n - 6)) AS j(j)),
        |wm AS (
        |  SELECT w.doc_id, w.j, min(g.h) AS m
        |  FROM win w JOIN g ON g.doc_id = w.doc_id
        |    AND g.p BETWEEN w.j AND w.j + 7
        |  GROUP BY 1, 2),
        |sel0 AS (
        |  SELECT wm.doc_id, max(g.p) AS pos, wm.m AS fp
        |  FROM wm JOIN g ON g.doc_id = wm.doc_id
        |    AND g.p BETWEEN wm.j AND wm.j + 7 AND g.h = wm.m
        |  GROUP BY wm.doc_id, wm.j, wm.m),
        |sel AS (SELECT DISTINCT doc_id, pos, fp FROM sel0),
        |dup AS (
        |  SELECT fp, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, fp FROM sel)
        |  GROUP BY fp HAVING count(*) >= 10),
        |ex AS (
        |  SELECT s.fp, dup.n_docs,
        |    min(struct_pack(id := s.doc_id, pos := s.pos)) AS at
        |  FROM sel s JOIN dup USING (fp)
        |  GROUP BY s.fp, dup.n_docs)
        |SELECT ex.n_docs,
        |  substring(d0.t, CAST((ex.at).pos AS INTEGER), 20) AS snippet
        |FROM ex JOIN d0 ON d0.doc_id = (ex.at).id
        |ORDER BY n_docs DESC, snippet ASC
        |LIMIT 15""".stripMargin)),

    // cross-document line dedup (CCNet-style boilerplate removal):
    // docs re-lined deterministically (10-word content lines) with a
    // planted cookie banner on even ids and a per-source footer —
    // corpus-frequent lines (df >= 5) vanish, content survives in
    // order. Output fingerprints the rewritten text.
    Entry("text_line_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val content = expr("array_join(transform(" +
        "sequence(1, cast(ceil(size(split(text, ' ')) / 10.0) as int)), " +
        "i -> array_join(slice(split(text, ' '), (i-1)*10+1, 10), ' ')), '\n')")
      val full = concat(
        when(col("doc_id") % 2 === 0, lit("PLEASE ACCEPT COOKIES\n"))
          .otherwise(lit("")),
        content, lit("\nfooter of "), col("source"))
      graft.text.LineDedup.dedupLines(
          docs.select(col("doc_id"), full.as("text")),
          "doc_id", "text", minDf = 5)
        .select(col("doc_id"), md5(col("text")).as("fp"), col("n_lines_kept"))
        .orderBy("doc_id")
    }, Some(
      // line-dedup replay: identical re-lining (banner/content/footer),
      // per-line df across the corpus, df<5 survivors re-joined in order
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'PLEASE ACCEPT COOKIES' || chr(10) ELSE '' END ||
        |    array_to_string(list_transform(
        |      range(1, CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INTEGER) + 1),
        |      i -> array_to_string(string_split(text, ' ')[((i-1)*10+1):(i*10)], ' ')),
        |      chr(10)) ||
        |    chr(10) || 'footer of ' || source AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
        |         string_split(t, chr(10))[CAST(u.i AS INTEGER)] AS line
        |  FROM base, unnest(range(1, len(string_split(t, chr(10))) + 1)) AS u(i)),
        |stats AS (
        |  SELECT md5(trim(line)) AS key, count(DISTINCT doc_id) AS df
        |  FROM lines GROUP BY 1),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.line FROM lines l
        |  JOIN stats s ON s.key = md5(trim(l.line)) WHERE s.df < 5),
        |reass AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |         count(*) AS n FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, md5(coalesce(r.text, '')) AS fp,
        |       CAST(coalesce(r.n, 0) AS BIGINT) AS n_lines_kept
        |FROM base b LEFT JOIN reass r ON r.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)),

    // asymmetric n-gram containment: |A∩B|/|A| — the doc-inside-doc
    // signature (quotes, concatenated crawls) symmetric Jaccard
    // misses. Subset to 100 docs like ngram_jaccard_pairs: the
    // synthetic word-soup corpus has a TINY char-5-gram alphabet, so
    // at 50k docs the gram×doc matrix is dense and ANY exact
    // inverted-index pair join tends to n² (measured: a wedged 10-min
    // single task at sf0.1). Corpus-scale containment goes through
    // maxDf capping + MinHash/LSH prefiltering (dedup_survivors), not
    // the exact index; this entry verifies the containment math.
    // planted snippets (prefix of each long ASCII doc, id+1000) make
    // the oracle non-vacuous: a prefix's distinct 5-grams are a subset
    // of its parent's, so every snippet yields a containment-1.0 pair —
    // the corpus alone has no pairs at 0.8 and a 0-row artifact gates
    // nothing. ASCII-only keeps substring semantics engine-identical.
    Entry("ngram_containment_pairs", (s, dir) => {
      val docs = containmentCorpus(t(s, dir, "documents"))
      Similarity.ngramContainment(docs, "doc_id", "text",
          k = 5, threshold = 0.8)
        .orderBy("id1", "id2")
    }, Some(
      // containment replay: same distinct char-5-gram inverted index as
      // q_dup_components' oracle, normalized per side instead of by the
      // union.
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |du AS (SELECT * FROM d0 UNION ALL SELECT * FROM snip),
        |d AS (
        |  SELECT doc_id, lower(text) AS s FROM du
        |  WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / sa.n, 4) AS c1_in_2,
        |  round(p.inter / sb.n, 4) AS c2_in_1
        |FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |          JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE greatest(round(p.inter / sa.n, 4), round(p.inter / sb.n, 4)) >= 0.8
        |ORDER BY id1, id2""".stripMargin)),

    // prefix-filtered containment (guaranteed recall incl. tiny-in-
    // huge subset pairs): same exact semantics as ngram_containment —
    // identical oracle — reached through df-ordered prefix candidates
    // instead of the full inverted index.
    Entry("ngram_containment_prefix", (s, dir) => {
      val docs = containmentCorpus(t(s, dir, "documents"))
      Similarity.ngramContainmentPrefix(docs, "doc_id", "text",
          k = 5, threshold = 0.8)
        .orderBy("id1", "id2")
    }, Some(
      // prefix-filtered containment is exact (guaranteed recall), so it
      // replays against the SAME brute inverted-index oracle as
      // ngram_containment_pairs — equality of the two paths' artifacts
      // is itself the recall proof
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |snip AS (
        |  SELECT doc_id + 1000 AS doc_id, substring(text, 1, 120) AS text
        |  FROM d0 WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= 240),
        |du AS (SELECT * FROM d0 UNION ALL SELECT * FROM snip),
        |d AS (
        |  SELECT doc_id, lower(text) AS s FROM du
        |  WHERE length(lower(text)) >= 5),
        |grams AS (
        |  SELECT DISTINCT doc_id, substring(s, CAST(i AS INTEGER), 5) AS g
        |  FROM d, unnest(range(1, length(s) - 3)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2,
        |  round(p.inter / sa.n, 4) AS c1_in_2,
        |  round(p.inter / sb.n, 4) AS c2_in_1
        |FROM pr p JOIN sizes sa ON sa.doc_id = p.id1
        |          JOIN sizes sb ON sb.doc_id = p.id2
        |WHERE greatest(round(p.inter / sa.n, 4), round(p.inter / sb.n, 4)) >= 0.8
        |ORDER BY id1, id2""".stripMargin)),

    // cross-corpus repeated-span removal (C4/RefinedWeb boilerplate
    // rule over 20-word windows): spans seen in >= 2 distinct docs are
    // removed from every doc, survivors reassembled in order. The hot
    // set is Zipf-small → AQE-broadcast anti join, never corpus².
    Entry("text_span_dedup", (s, dir) => {
      graft.text.SpanDedup.removeRepeatedSpans(t(s, dir, "documents"),
          "doc_id", "text", w = 20, minDocs = 2)
        .orderBy("doc_id")
    }, Some(
      // span-dedup replay: same length>0-filtered whitespace tokens,
      // same ceil(n/20) non-overlapping 20-word windows (1-based slice,
      // single-space rejoin), distinct-doc counts >= 2 → removed
      // everywhere, survivors re-joined in span order.
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(CAST(ceil(len(tk) / 20.0) AS INT), 1)),
        |    i -> {'idx': i, 'span': array_to_string(list_slice(tk, i*20 + 1, i*20 + 20), ' ')})) AS sp
        |  FROM tk),
        |spans AS (
        |  SELECT doc_id, sp.idx AS span_idx, sp.span AS span
        |  FROM sp0 WHERE length(sp.span) > 0),
        |hot AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  string_agg(span, ' ' ORDER BY span_idx) AS cleaned
        |FROM spans WHERE span NOT IN (SELECT span FROM hot)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // best-copy dedup: synthetic 100-way duplicate groups, survivor =
    // max quality then min doc_id — the keep-the-cleanest-copy knob
    Entry("dedup_best_docs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 100).cast("string").as("grp"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.Dedup.dropExactPreferring(docs, "grp", "doc_id", "score")
        .orderBy("doc_id")
    }, Some(
      """WITH scored AS (
        |  SELECT doc_id, CAST(doc_id % 100 AS VARCHAR) AS grp,
        |    floor(least(1.0,
        |      (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
        |      + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
        |      + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
        |      + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS score
        |  FROM (
        |    SELECT doc_id, nchars, nalpha, nsym,
        |      CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
        |    FROM (
        |      SELECT doc_id,
        |        CAST(length(trim(text)) AS DOUBLE) AS nchars,
        |        CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                      t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
        |        CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
        |      FROM documents))),
        |r AS (
        |  SELECT doc_id, grp, score,
        |    row_number() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT doc_id, grp, score FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // PassJoin edit-distance self-join over ASCII 24-char document
    // prefixes: segment-filter candidates + levenshtein verify; equals
    // the brute-force answer by the completeness of the filter (the
    // oracle IS the brute force). doc_id < 600 bounds the oracle scan.
    Entry("q_edit_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 600)
        .select(col("doc_id"), lower(substring(col("text"), 1, 24)).as("s"))
        .where(col("s").rlike("^[ -~]*$") && length(col("s")) >= 3)
      graft.ops.EditJoin.selfJoin(docs, "doc_id", "s", k = 2)
        .orderBy("id1", "id2")
    }, Some(
      // edit-join replay: brute-force levenshtein over the same ASCII
      // prefix frame (the segment filter is complete, so brute force IS
      // the answer). ASCII-only keeps DuckDB's byte-based levenshtein
      // aligned with Spark's char-based one.
      """WITH d AS (
        |  SELECT doc_id, lower(substr(text, 1, 24)) AS s FROM documents
        |  WHERE doc_id < 600),
        |f AS (SELECT * FROM d
        |      WHERE regexp_matches(s, '^[ -~]*$') AND length(s) >= 3)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id1, id2""".stripMargin)),

    // full-corpus winnowing on the xxhash production path (the
    // replayable md5 oracle query caps at 100 docs; this is the
    // scan-shape number): fingerprint density + distinct count
    Entry("winnow_corpus", (s, dir) => {
      graft.text.Winnowing.fingerprints(t(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 8, replayable = false)
        .agg(count(lit(1)).as("n_fps"), countDistinct("fp").as("n_distinct"))
    }, None),

    // corpus-scale containment: LSH candidate prefilter + exact
    // per-direction verify on candidates only — the production path
    // the subset-oracled ngram_containment_pairs verifies the math
    // for. Full documents table (the exact inverted index is n²-dense
    // here; this path is bounded by bucket caps + candidate count).
    // 8-row bands on THIS corpus: the synthetic word-soup's pairwise
    // Jaccard is so uniformly high that 4-row bands (the default,
    // right for Zipf-real corpora) admit a near-quadratic candidate
    // set — measured 19.6 s vs 1-2 s here; the banding-curve recall
    // trade is the operator's documented dial
    Entry("ngram_containment_native", (s, dir) => {
      Similarity.ngramContainmentLsh(t(s, dir, "documents"),
          "doc_id", "text", k = 5, threshold = 0.8,
          numHashes = 32, rowsPerBand = 8, estThreshold = 0.5)
        .orderBy("id1", "id2")
    }, None)
  )
}
