package graft
package entries

import graft.text.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Entry.t

/** Text analysis over the documents corpus: tokenization,
  * normalization, scrubbing, language ID, URLs and HTML, language
  * models, tokenizer training and decontamination. */
private[graft] object TextEntries {

  /** Planted language-ID corpus (ids 9000000+): one stopword-dense
    * sentence per language, unioned with the natural documents so
    * text_lang_id gates all ~46 languages — including the pairs the
    * stopword lists were curated to separate (es/pt, de/nl, da/no,
    * cs/sk, hr/sl, ru/uk/bg/sr/mk) and the script-routed ones
    * (ja-vs-zh via kana, ko/th/hi/he/el). ASCII-free of quotes so the
    * same literals embed in the oracle's VALUES. */
  private[graft] val langPlanted: Seq[(Long, String)] = Seq(
    9000001L -> "the cat was on the mat and it is that simple for everyone",
    9000002L -> "der hund ist nicht ein problem und die katze sitzt auf dem sofa zu hause",
    9000003L -> "het huis is niet een probleem want je kunt van alles op aan de muur zien ook maar",
    9000004L -> "el perro y la casa que es un lugar con los amigos en una tarde no muy lejana",
    9000005L -> "o cachorro e as casas que é um lugar com os amigos em uma tarde não muito longe para se ver",
    9000006L -> "le chien et la maison est que pour les amis dans une soirée du quartier il fait beau des fois",
    9000007L -> "il cane e la casa che di non per una sera sono con gli amici si va bene",
    9000008L -> "și câinele de la casă cu nu este pentru din care mai sunt o seară",
    9000009L -> "els gossos i les cases amb què per una nit és dels amics com més hi ha aquest",
    9000010L -> "och hunden att det som en kväll är av för med på inte han ser",
    9000011L -> "og hunden det er til ikke af hvad efter noget hende skal være",
    9000012L -> "og hunden det er til ikke av hva etter noe henne skal være",
    9000013L -> "ja koira on ei että se hän mutta oli kun myös niin ovat",
    9000014L -> "i pies w nie na się jest że do z to co jak",
    9000015L -> "a pes je se na že to nebo ale jako pro jsem byl",
    9000016L -> "a pes je sa na že to alebo ale ako pre som bol",
    9000017L -> "a kutya az és nem hogy is egy van volt csak már meg",
    9000018L -> "bir köpek ve bu için ne ben çok ama gibi var daha olarak",
    9000019L -> "yang anjing dan di itu dengan untuk tidak ini dari akan pada adalah",
    9000020L -> "và con chó của là có không được trong cho người này với các",
    9000021L -> "je pas i u na se da su za ali kao što nije",
    9000022L -> "je pes in na se da so za ali kot kaj tudi ni",
    9000023L -> "ja koer on ei et see ta aga oli kui ka nii oma",
    9000024L -> "ir šuo yra kad tai su bet kaip jis buvo iš apie jau",
    9000025L -> "un suns ir ka tas ar bet kā viņš bija no par jau",
    9000026L -> "и собака в не на что он как это но его по она",
    9000027L -> "і собака в не на що він як це але його по вона",
    9000028L -> "и кучето в не на че той как това но го по тя",
    9000029L -> "и пас у не на што он као то али га по она",
    9000030L -> "и кучето во не на што тој како тоа но го по таа",
    9000031L -> "في من على أن إلى عن هذا كان مع لا هو ما",
    9000032L -> "در از که با را این است برای آن خود تا هم",
    9000033L -> "η γάτα και ο σκύλος στο σπίτι σήμερα",
    9000034L -> "החתול והכלב בבית שלנו היום",
    9000035L -> "แมวและสุนัขอยู่ในบ้านวันนี้",
    9000036L -> "बिल्ली और कुत्ता घर में हैं आज",
    9000037L -> "猫と犬は家にいます今日はいい天気です",
    9000038L -> "猫和狗在家里今天天气很好",
    9000039L -> "고양이와 개가 집에 있다 오늘",
    9000040L -> "12345 67890 --- === +++",
    // the seven Indic single-language scripts (r15): bn ta te gu kn ml pa
    9000041L -> "বিড়াল এবং কুকুর আজ বাড়িতে আছে",
    9000042L -> "பூனை மற்றும் நாய் இன்று வீட்டில் உள்ளன",
    9000043L -> "పిల్లి మరియు కుక్క ఈరోజు ఇంట్లో ఉన్నాయి",
    9000044L -> "બિલાડી અને કૂતરો આજે ઘરમાં છે",
    9000045L -> "ಬೆಕ್ಕು ಮತ್ತು ನಾಯಿ ಇಂದು ಮನೆಯಲ್ಲಿವೆ",
    9000046L -> "പൂച്ചയും നായയും ഇന്ന് വീട്ടിലുണ്ട്",
    9000047L -> "ਬਿੱਲੀ ਅਤੇ ਕੁੱਤਾ ਅੱਜ ਘਰ ਵਿੱਚ ਹਨ",
    // mixed-script adversaries: majority script must win the argmax
    // (Tamil-dominant with a Devanagari minority → ta, not hi; a
    // Bengali-dominant doc with kana → bn, the kana flag must not
    // hijack non-han routing)
    9000048L -> "பூனை மற்றும் நாய் வீட்டில் உள்ளன இன்று மழை பெய்கிறது घर",
    9000049L -> "বিড়াল এবং কুকুর আজ বাড়িতে আছে たち",
    // r16: Odia — the ninth Indic block, the routing gap until r16 —
    // plus an Odia-majority doc with a Tamil minority (the 0B7F|0B80
    // block boundary: adjacent blocks must not bleed counts)
    9000050L -> "ବିଲେଇ ଏବଂ କୁକୁର ଆଜି ଘରେ ଅଛନ୍ତି",
    9000051L -> "ବିଲେଇ ଏବଂ କୁକୁର ଆଜି ଘରେ ଅଛନ୍ତି ஃஇ")

  /** The language-ID oracle, generated from the SAME stopword lists
    * and script ranges the engine uses (graft.text.TextAnalysis) —
    * single source of truth, the RuleConfig discipline. DuckDB
    * replays the struct-max votes with list_max over (hits, lang)
    * structs (field-order comparison matches Spark's struct
    * ordering) and the script counts as deleted-length differences. */
  private def langIdOracleSql: String = {
    import graft.text.TextAnalysis.{latinStops, cyrillicStops, arabicStops,
      langScriptRanges, singleLangScripts}
    def listLit(words: Seq[String]) =
      words.map(w => s"'$w'").mkString("[", ",", "]")
    def voteList(stops: Seq[(String, Seq[String])]) = stops.map { case (l, ws) =>
      s"{'h': len(list_filter(${listLit(ws)}, w -> list_contains(toks, w))), 'l': '$l'}"
    }.mkString("[", ", ", "]")
    val scriptCols = langScriptRanges.map { case (n, cls) =>
      s"length(text) - length(regexp_replace(text, '[$cls]', '', 'g')) AS c_$n"
    }.mkString(",\n    ")
    val bestList = langScriptRanges.map { case (n, _) =>
      s"{'h': c_$n, 's': '$n'}" }.mkString("[", ", ", "]")
    val planted = langPlanted.map { case (id, txt) =>
      s"(CAST($id AS BIGINT), '$txt')" }.mkString(",\n    ")
    // the twelve single-language scripts resolve without a vote —
    // generated from the SAME map langId's when-chain routes through
    val singleArms = singleLangScripts.map { case (s, l) =>
      s"WHEN best.s = '$s' THEN '$l'" }.mkString("\n       |       ")
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    $planted) AS p(doc_id, text)),
       |sc AS (
       |  SELECT doc_id, text,
       |    $scriptCols
       |  FROM base),
       |b AS (
       |  SELECT doc_id, c_kana, list_max($bestList) AS best,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM sc),
       |v AS (
       |  SELECT doc_id, c_kana, best,
       |    list_max(${voteList(latinStops)}) AS lat,
       |    list_max(${voteList(cyrillicStops)}) AS cyr,
       |    list_max(${voteList(arabicStops)}) AS arab
       |  FROM b)
       |SELECT doc_id,
       |  CASE WHEN best.h <= 0 THEN 'und'
       |       WHEN best.s = 'kana' THEN 'ja'
       |       WHEN best.s = 'han' THEN (CASE WHEN c_kana > 0 THEN 'ja' ELSE 'zh' END)
       |       $singleArms
       |       WHEN best.s = 'cyrillic' THEN (CASE WHEN cyr.h > 0 THEN cyr.l ELSE 'und' END)
       |       WHEN best.s = 'arabic' THEN (CASE WHEN arab.h > 0 THEN arab.l ELSE 'und' END)
       |       ELSE (CASE WHEN lat.h > 0 THEN lat.l ELSE 'und' END) END AS lang_guess
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** eTLD+1 CASE expression generated from the SAME bundled
    * public-suffix snapshot UrlOps.registeredDomainPsl matches
    * against — the oracle and the engine cannot drift because both
    * read one resource. Longest suffix first; `hostExpr` must be a
    * plain column reference (it is repeated per label). */
  private def pslDomainCaseSql(hostExpr: String): String = {
    val psl = graft.text.UrlOps.bundledSuffixes
    def lastK(k: Int): String =
      (k to 1 by -1).map(i => s"string_split($hostExpr, '.')[-$i]")
        .mkString(" || '.' || ")
    val len = s"len(string_split($hostExpr, '.'))"
    val whens = psl.labelCounts.map { k =>
      val inList = psl.byLabels(k).sorted.map(s => s"'$s'").mkString("(", ",", ")")
      s"WHEN $len >= ${k + 1} AND (${lastK(k)}) IN $inList THEN (${lastK(k + 1)})"
    }.mkString(" ")
    s"CASE $whens WHEN $len >= 2 THEN (${lastK(2)}) ELSE $hostExpr END"
  }

  val all: Seq[Entry] = Seq(

    // word2vec negative sampling: quantized unigram^(3/4) table (the
    // original implementation's design), integer bucket draws from
    // md5 — the embedding-training companion to text_skipgram
    Entry("text_negative_samples", (s, dir) => {
      val wf = graft.text.Bpe.wordFreq(
        t(s, dir, "documents").where(col("doc_id") < 200), "text")
      val table = graft.text.NegativeSampling.sampleTable(wf,
        tableSize = 4096, topV = 65536)
      val top = wf.orderBy(col("freq").desc, col("word").asc).limit(20)
        .select(col("word").as("center"))
      graft.text.NegativeSampling.drawNegatives(top, Seq("center"),
          k = 5, table, seed = "w2v")
        .orderBy("center", "neg_rank")
    }, Some(
      // negative-sampling replay: sqrt(f·sqrt(f)) quantized weights,
      // integer ceil-div bucket ranges, md5-mod bucket draws
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE doc_id < 200),
        |wf AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks
        |  WHERE length(word) > 0 GROUP BY word),
        |w AS (
        |  SELECT word,
        |    CAST(floor(sqrt(CAST(freq AS DOUBLE) * sqrt(CAST(freq AS DOUBLE))) * 1000000) AS BIGINT) AS w
        |  FROM wf),
        |c AS (
        |  SELECT word, w,
        |    CAST(sum(w) OVER (ORDER BY word ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER () AS BIGINT) AS total
        |  FROM w),
        |buckets AS (
        |  SELECT unnest(generate_series(
        |      ((cum - w) * 4096 + total - 1) // total,
        |      ((cum * 4096 + total - 1) // total) - 1)) AS bucket,
        |    word AS neg_word
        |  FROM c
        |  WHERE ((cum - w) * 4096 + total - 1) // total
        |     <= ((cum * 4096 + total - 1) // total) - 1),
        |top20 AS (
        |  SELECT word AS center FROM wf
        |  ORDER BY freq DESC, word ASC LIMIT 20),
        |draws AS (
        |  SELECT center, CAST(r.r AS INTEGER) AS neg_rank,
        |    CAST(('0x' || substr(md5('w2v' || '|' || center || '|'
        |      || CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS bucket
        |  FROM top20, unnest(range(1, 6)) AS r(r))
        |SELECT d.center, d.neg_rank, b.neg_word
        |FROM draws d JOIN buckets b ON b.bucket = d.bucket
        |ORDER BY center, neg_rank""".stripMargin)),

    // vocabulary concentration: types, tokens, hapax ratio per lang —
    // the Heaps/Zipf health check of a text corpus
    Entry("text_hapax", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(filter(
          split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).as("tok"))
      toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_types"),
          sum("n").as("n_tokens"),
          (floor(sum(when(col("n") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) * 1e4) / 1e4).as("hapax_ratio"))
        .orderBy("lang")
    }, Some(
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM toks
        |  WHERE length(tok) > 0 GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000) / 10000 AS hapax_ratio
        |FROM tf GROUP BY lang ORDER BY lang""".stripMargin)),

    // document chunking (TextAnalysis.chunks): context-window splits
    // with overlap; emitted as (doc, chunk_idx, len, fingerprint) so
    // the oracle stays compact. posexplode keeps the index.
    Entry("doc_chunks", (s, dir) => {
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), size = 500, overlap = 100)))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          length(col("col")).as("chunk_len"), md5(col("col")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, (length(text) - 1) // 400)) AS i
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i * 400 + 1 AS INTEGER), 500)) AS INTEGER) AS chunk_len,
        |  md5(substr(text, CAST(i * 400 + 1 AS INTEGER), 500)) AS chunk_fp
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin)),

    Entry("text_token_counts", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                t -> length(t) > 0)), 0) AS INTEGER) AS ws_tokens,
        |  CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')), 0) AS INTEGER) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Entry("text_quality", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  floor(least(1.0,
        |    (CASE WHEN nchars > 0 THEN nalpha / nchars ELSE 0.0 END) * 0.4
        |    + (1.0 - least((CASE WHEN nchars > 0 THEN nsym / nchars ELSE 0.0 END) * 5, 1.0)) * 0.2
        |    + (CASE WHEN nchars >= 50 AND nchars <= 100000 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + (CASE WHEN meanword >= 3 AND meanword <= 12 THEN 1.0 ELSE 0.5 END) * 0.2) * 10000) / 10000 AS quality
        |FROM (
        |  SELECT doc_id, nchars, ntokens, nalpha, nsym,
        |    CASE WHEN ntokens > 0 THEN nchars / ntokens ELSE 0.0 END AS meanword
        |  FROM (
        |    SELECT doc_id,
        |      CAST(length(trim(text)) AS DOUBLE) AS nchars,
        |      CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                    t -> length(t) > 0)), 0) AS DOUBLE) AS ntokens,
        |      CAST(coalesce(len(regexp_extract_all(trim(text), '[A-Za-z]')), 0) AS DOUBLE) AS nalpha,
        |      CAST(coalesce(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')), 0) AS DOUBLE) AS nsym
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin)),

    Entry("text_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // accent folding over the natural corpus plus planted diacritic
    // rows (the corpus is ASCII-heavy; the plants make the oracle
    // exercise real folds, stroke-letter survivors, and kana dakuten)
    Entry("text_fold_accents", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (9200001L, "café naïve señor Müller Zürich Ångström"),
        (9200002L, "ølsen Łódź stays partly"),
        (9200003L, "クラブ dakuten folds too"),
        (9200004L, "plain ascii unchanged")
      ).toDF("doc_id", "text")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(planted)
        .select(col("doc_id"),
          TextAnalysis.foldAccents(col("text")).as("folded"))
        .orderBy("doc_id")
    }, Some(
      // hits = |stopword-list ∩ token-set| per language; argmax with the
      // lexicographically-largest language winning ties (mirrors the
      // struct array_max tie-break in TextAnalysis.langId): sequential
      // CASE checked fr → es → en → de with >= comparisons.
      // accent-fold replay: DuckDB's strip_accents IS NFD+strip-marks
      // (utf8proc), verified equivalent on diacritics, stroke letters,
      // and kana dakuten
      """WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    (CAST(9200001 AS BIGINT), 'café naïve señor Müller Zürich Ångström'),
       |    (CAST(9200002 AS BIGINT), 'ølsen Łódź stays partly'),
       |    (CAST(9200003 AS BIGINT), 'クラブ dakuten folds too'),
       |    (CAST(9200004 AS BIGINT), 'plain ascii unchanged')) AS p(doc_id, text))
       |SELECT doc_id, strip_accents(text) AS folded
       |FROM base ORDER BY doc_id""".stripMargin)),

    // line unwrap / dehyphenation — the post-processing every
    // PDF/fixed-width extraction needs; planted wrapped docs make the
    // oracle exercise hyphen joins, CRLF normalization, and paragraph
    // preservation deterministically.
    Entry("text_unwrap", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (9100001L, "This is an exam-\nple of hyphen-\nated line wraps.\n\nNew para-\ngraph here."),
        (9100002L, "CRLF line one\r\nline two\r\n\r\nsecond para"),
        (9100003L, "already one line"),
        (9100004L, "trailing spaces  \n   \nnext para")
      ).toDF("doc_id", "text")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(planted)
        .select(col("doc_id"),
          TextAnalysis.unwrapLines(col("text")).as("unwrapped"))
        .orderBy("doc_id")
    }, Some(
      // unwrap replay: identical five-pass regexp chain (RE2 replays
      // \p{L}, \s and the non-overlapping replaceAll semantics); the
      // sentinel chr(1) matches the engine's U+0001
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9100001 AS BIGINT), e'This is an exam-\nple of hyphen-\nated line wraps.\n\nNew para-\ngraph here.'),
        |    (CAST(9100002 AS BIGINT), e'CRLF line one\r\nline two\r\n\r\nsecond para'),
        |    (CAST(9100003 AS BIGINT), 'already one line'),
        |    (CAST(9100004 AS BIGINT), e'trailing spaces  \n   \nnext para')) AS p(doc_id, text))
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text, '\r\n?', e'\n', 'g'),
        |          '(\p{L})-\n(\p{L})', '\1\2', 'g'),
        |        '\n\s*\n', chr(1), 'g'),
        |      '\n', ' ', 'g'),
        |    chr(1), e'\n\n', 'g') AS unwrapped
        |FROM base ORDER BY doc_id""".stripMargin)),

    Entry("text_lang_id", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionAll(langPlanted.toDF("doc_id", "text"))
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }, Some(langIdOracleSql)),

    // vocabulary building: global token frequencies, top-50. The
    // groupBy partial-aggregates map-side (token counts combine before
    // the shuffle) and the top-k is TakeOrderedAndProject — at corpus
    // scale only (token, count) pairs ever move.
    Entry("q_vocab_top", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(50)
    }, Some(
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS freq FROM toks
        |WHERE length(token) > 0
        |GROUP BY token
        |ORDER BY freq DESC, token ASC
        |LIMIT 50""".stripMargin)),

    Entry("text_scrubbed", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.scrubPii(col("text"))).as("scrubbed_fp"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS scrubbed_fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Luhn-gated card-number scrubbing: plant valid (Visa/MC/Amex
    // test numbers, separator-formatted) and invalid digit runs on
    // deterministic doc subsets; only checksum-valid runs become
    // <CC>, order-id-like runs survive
    Entry("text_cc_scrub", (s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" pay 4532-0151-1283-0366 now")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" ref 1234 5678 1234 5678 x")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" amex 374245455400126 end")).otherwise(lit("")))
      docs.select(col("doc_id"),
          size(TextAnalysis.ccCandidates(planted)).cast("long").as("n_cand"),
          size(TextAnalysis.ccValid(planted)).cast("long").as("n_valid"),
          TextAnalysis.scrubCc(planted).as("scrubbed"))
        .orderBy("doc_id")
    }, Some(
      // Luhn replay: same candidate regex, same struct-based
      // strip/validate/replace chain via list lambdas; checksum
      // arithmetic is pure integers, so parity is exact
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' pay 4532-0151-1283-0366 now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ref 1234 5678 1234 5678 x' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' amex 374245455400126 end' ELSE '' END AS t
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, t,
        |    regexp_extract_all(t, '[0-9](?:[ -]?[0-9]){12,18}') AS cands
        |  FROM d),
        |w AS (
        |  SELECT doc_id, t, cands,
        |    list_transform(
        |      list_filter(
        |        list_transform(cands, x ->
        |          struct_pack(orig := x, ds := regexp_replace(x, '[ -]', '', 'g'))),
        |        s -> length(s.ds) BETWEEN 13 AND 19 AND
        |          list_sum(list_transform(range(1, length(s.ds) + 1), i ->
        |            CASE WHEN (length(s.ds) - i) % 2 = 1
        |              THEN CASE WHEN CAST(s.ds[i] AS INTEGER) * 2 > 9
        |                   THEN CAST(s.ds[i] AS INTEGER) * 2 - 9
        |                   ELSE CAST(s.ds[i] AS INTEGER) * 2 END
        |              ELSE CAST(s.ds[i] AS INTEGER) END)) % 10 = 0),
        |      s -> s.orig) AS valid
        |  FROM cc)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_cand,
        |  CAST(len(valid) AS BIGINT) AS n_valid,
        |  list_reduce(list_prepend(t, valid),
        |    (acc, x) -> replace(acc, x, '<CC>')) AS scrubbed
        |FROM w ORDER BY doc_id""".stripMargin)),

    // IBAN scrubbing (the CC-scrub discipline for bank accounts):
    // plant checksum-valid printed/compact/letter-bearing IBANs and a
    // one-digit near-miss on deterministic doc subsets; only ISO
    // 13616 mod-97-valid candidates become <IBAN>
    Entry("text_iban_scrub", (s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" wire DE89 3704 0044 0532 0130 00 today")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" acct GB29NWBK60161331926819 ref")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" bad DE89 3704 0044 0532 0130 01 nope")).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit(" fr FR14 2004 1010 0505 0001 3M02 606 fin")).otherwise(lit("")))
      docs.select(col("doc_id"),
          size(TextAnalysis.ibanCandidates(planted)).cast("long").as("n_cand"),
          size(TextAnalysis.ibanValidIn(planted)).cast("long").as("n_valid"),
          TextAnalysis.scrubIban(planted).as("scrubbed"))
        .orderBy("doc_id")
    }, Some(
      // IBAN replay: same candidate regex; the mod-97 fold encodes each
      // rotated char as m*100+v (digit -> 1000+d, letter -> 10000+val)
      // so list_reduce folds a uniform BIGINT list with the 0
      // accumulator prepended — integer arithmetic, engine-exact
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' wire DE89 3704 0044 0532 0130 00 today' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' acct GB29NWBK60161331926819 ref' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' bad DE89 3704 0044 0532 0130 01 nope' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' fr FR14 2004 1010 0505 0001 3M02 606 fin' ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    regexp_extract_all(t, '[A-Z]{2}[0-9]{2}(?: ?[A-Z0-9]){10,30}') AS cands
        |  FROM d),
        |w AS (
        |  SELECT doc_id, t, cands,
        |    list_transform(
        |      list_filter(
        |        list_transform(cands, x ->
        |          struct_pack(orig := x,
        |            rot := substr(replace(x, ' ', ''), 5) || substr(replace(x, ' ', ''), 1, 4),
        |            n := length(replace(x, ' ', '')))),
        |        s -> s.n BETWEEN 15 AND 34 AND 1 =
        |          list_reduce(
        |            list_prepend(CAST(0 AS BIGINT),
        |              list_transform(range(1, s.n + 1), i ->
        |                CAST(CASE WHEN s.rot[i] BETWEEN '0' AND '9'
        |                  THEN 1000 + CAST(s.rot[i] AS INTEGER)
        |                  ELSE 10000 + ascii(s.rot[i]) - 55 END AS BIGINT))),
        |            (acc, e) -> (acc * (CASE WHEN e >= 10000 THEN 100 ELSE 10 END) + e % 100) % 97)),
        |      s -> s.orig) AS valid
        |  FROM c)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_cand,
        |  CAST(len(valid) AS BIGINT) AS n_valid,
        |  list_reduce(list_prepend(t, valid),
        |    (acc, x) -> replace(acc, x, '<IBAN>')) AS scrubbed
        |FROM w ORDER BY doc_id""".stripMargin)),

    // URL normalization + host + registered domain (UrlOps): the
    // web-crawl front door. URLs synthesized deterministically from
    // (doc_id, source) with the messy bits pipelines actually see —
    // uppercase authority, explicit :443, trailing slash, utm params,
    // fragments — identically in both engines.
    Entry("url_normalize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("HTTPS://www."), col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit(":443/Page/"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=x&n="), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      docs.select(col("doc_id"), url.as("u"))
        .select(col("doc_id"),
          graft.text.UrlOps.normalizeUrl(col("u")).as("url_norm"),
          graft.text.UrlOps.host(col("u")).as("host"))
        .withColumn("domain", graft.text.UrlOps.registeredDomainPsl(col("host")))
        .orderBy("doc_id")
    }, Some(
      // URL normalization replay: same rule chain as UrlOps.normalizeUrl
      // (fragment → tracking params → dangling ? → lowercase authority →
      // default ports → trailing slash); synthesized URLs always carry
      // an authority so the no-authority branch never fires
      """WITH u AS (
       |  SELECT doc_id,
       |    'HTTPS://www.' || source ||
       |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
       |    ':443/Page/' || doc_id ||
       |    CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
       |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&n=' || doc_id ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
       |  FROM documents),
       |nd AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(trim(url), '#.*', ''),
       |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
       |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
       |      '\?$', '') AS n,
       |    lower(regexp_extract(trim(url), '^[^/]*//([^/:?#]+)', 1)) AS host
       |  FROM u),
       |parts AS (
       |  SELECT doc_id, host,
       |    regexp_extract(n, '^([^/]*//[^/?#]*)', 1) AS auth,
       |    regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1) AS rest
       |  FROM nd)
       |SELECT doc_id,
       |  regexp_replace(
       |    regexp_replace(lower(auth), ':(80|443)$', '') || rest,
       |    '/$', '') AS url_norm,
       |  host,
       |  """.stripMargin + pslDomainCaseSql("host") + """ AS domain
       |FROM parts ORDER BY doc_id""".stripMargin)),

    // exact URL dedup: groups of 10 docs share a landing page behind
    // authority-case / tracking-param / fragment variants; min-id
    // survivor per normalized URL
    Entry("url_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = (col("doc_id") - col("doc_id") % 10).cast("string")
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://www.")),
        lit("site"), ((col("doc_id") - col("doc_id") % 10) % 7).cast("string"),
        lit(".com/page/"), base,
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=s"), col("doc_id").cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#f")).otherwise(lit("")))
      graft.text.UrlOps.dedupByUrl(
          docs.select(col("doc_id"), url.as("url")), "doc_id", "url")
        .select("doc_id", "url").orderBy("doc_id")
    }, Some(
      // URL dedup replay: normalize (only the rules the variants
      // exercise matter, but the FULL chain runs for parity), then
      // min-id per normalized URL; the kept row's original url rides
      // along via the min-id self-join
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END ||
        |    'site' || ((doc_id - doc_id % 10) % 7) || '.com/page/' || (doc_id - doc_id % 10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=s' || doc_id ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#f' ELSE '' END AS url
        |  FROM documents),
        |nd AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(trim(url), '#.*', ''),
        |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
        |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
        |      '\?$', '') AS n
        |  FROM u),
        |norm AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(lower(regexp_extract(n, '^([^/]*//[^/?#]*)', 1)), ':(80|443)$', '')
        |        || regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1),
        |      '/$', '') AS nurl
        |  FROM nd),
        |keep AS (SELECT nurl, min(doc_id) AS doc_id FROM norm GROUP BY nurl)
        |SELECT n.doc_id, n.url FROM norm n
        |JOIN keep k ON k.nurl = n.nurl AND k.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin)),

    // per-registered-domain cap: at most 3 docs per eTLD+1, chosen by
    // the content-keyed md5 order (replayable)
    Entry("url_domain_cap", (s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://www."), col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/page/"), col("doc_id").cast("string"))
      graft.text.UrlOps.perDomainCap(
          docs.select(col("doc_id"), url.as("url")), "doc_id", "url", cap = 3)
        .select(col("doc_id"), col("domain"))
        .orderBy("domain", "doc_id")
    }, Some(
      // per-domain cap replay: registered domain, kPerGroup's md5-fold
      // rank (first 15 hex of md5("id:salt") mod 2^40 — exact in the
      // heap's double score), row_number <= 3. The oracle may use a
      // window: it is DuckDB at sf0.01, not Spark at 100 TB.
      """WITH u AS (
       |  SELECT doc_id,
       |    lower('www.' || source ||
       |      CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END) AS host
       |  FROM documents),
       |d AS (
       |  SELECT doc_id,
       |    """.stripMargin + pslDomainCaseSql("host") + """ AS domain
       |  FROM u),
       |r AS (
       |  SELECT doc_id, domain,
       |    row_number() OVER (PARTITION BY domain
       |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
       |               % 1099511627776, doc_id) AS rk
       |  FROM d)
       |SELECT doc_id, domain FROM r WHERE rk <= 3
       |ORDER BY domain, doc_id""".stripMargin)),

    // END-TO-END CRAWL PIPELINE (the composed front door, verified as
    // one query): crawl records (url, html) → URL dedup (normalize,
    // min-id survivor) → HTML→text strip → token-count gate → exact
    // content dedup (fingerprint min-id) → per-domain cap. Groups of
    // 4 docs share a landing page behind case/tracking/fragment
    // variants; every 10th doc carries a boilerplate body that
    // collapses in content dedup; the cap rides the payload-carrying
    // heap. Each stage reuses its individually-proven oracle fragment.
    Entry("q_crawl_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = (col("doc_id") - col("doc_id") % 4).cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://www."))
          .otherwise(lit("https://www.")),
        col("source"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/p/"), base,
        when(col("doc_id") % 2 === 0, lit("?utm_source=x")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#f")).otherwise(lit("")))
      val body = when(col("doc_id") % 10 === 9,
        lit("standard cookie banner page")).otherwise(col("text"))
      val html = concat(lit("<html><body><h1>"), col("source"),
        lit("</h1><p>"), body, lit("</p><script>x()</script></body></html>"))
      val crawl = docs.select(col("doc_id"), url.as("url"), html.as("html"))
      val urlDeduped = graft.text.UrlOps.dedupByUrl(crawl, "doc_id", "url")
      val stripped = urlDeduped.withColumn("clean",
        graft.text.Html.stripHtml(col("html")))
      val gated = stripped.where(TextAnalysis.wsTokenCount(col("clean")) >= 25)
      // one-pass min-id survivor per fingerprint: the earlier
      // groupBy+semi-join re-executed the whole upstream subtree
      // (urldedup+stripHtml+gate) on BOTH sides of the join
      val unique = graft.ops.Dedup.keepFirstPerKey(gated,
        TextAnalysis.fingerprint(col("clean")), "doc_id")
      graft.text.UrlOps.perDomainCap(unique, "doc_id", "url", cap = 3)
        .select(col("doc_id"), col("domain"),
          TextAnalysis.wsTokenCount(col("clean")).cast("long").as("n_tokens"))
        .orderBy("domain", "doc_id")
    }, Some(
      // crawl-pipeline replay: each stage's proven fragment chained —
      // the url_dedup normalize chain, the html_text strip chain, the
      // length>0-filtered token count, the text_fingerprint md5, and
      // the url_domain_cap PSL + md5-rank window
      """WITH crawl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'https://www.' END ||
       |    source ||
       |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
       |    '/p/' || (doc_id - doc_id % 4) ||
       |    CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN '#f' ELSE '' END AS url,
       |    '<html><body><h1>' || source || '</h1><p>' ||
       |    CASE WHEN doc_id % 10 = 9 THEN 'standard cookie banner page'
       |         ELSE text END ||
       |    '</p><script>x()</script></body></html>' AS html
       |  FROM documents),
       |nd AS (
       |  SELECT doc_id, url, html,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(trim(url), '#.*', ''),
       |          '([?&])((utm_[a-z]+|fbclid|gclid)=[^&]*&)+', '\1', 'g'),
       |        '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*$', ''),
       |      '\?$', '') AS n
       |  FROM crawl),
       |norm AS (
       |  SELECT doc_id, url, html,
       |    regexp_replace(
       |      regexp_replace(lower(regexp_extract(n, '^([^/]*//[^/?#]*)', 1)), ':(80|443)$', '')
       |        || regexp_extract(n, '^[^/]*//[^/?#]*(.*)$', 1),
       |      '/$', '') AS nurl
       |  FROM nd),
       |keep1 AS (SELECT nurl, min(doc_id) AS doc_id FROM norm GROUP BY nurl),
       |s1 AS (SELECT norm.* FROM norm JOIN keep1 USING (nurl, doc_id)),
       |strip AS (
       |  SELECT doc_id, url, trim(regexp_replace(
       |   regexp_replace(
       |    regexp_replace(
       |     regexp_replace(
       |      regexp_replace(
       |       regexp_replace(
       |        regexp_replace(
       |         regexp_replace(
       |          regexp_replace(
       |           regexp_replace(
       |            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |           '(?s)<!--.*?-->', ' ', 'g'),
       |          '<[^>]*>', ' ', 'g'),
       |         '&nbsp;', ' ', 'g'),
       |        '&lt;', '<', 'g'),
       |       '&gt;', '>', 'g'),
       |      '&quot;', '"', 'g'),
       |     '&#39;', '''', 'g'),
       |    '&amp;', '&', 'g'),
       |   '\s+', ' ', 'g')) AS clean
       |  FROM s1),
       |gated AS (
       |  SELECT * FROM strip
       |  WHERE len(list_filter(regexp_split_to_array(clean, '\s+'),
       |          x -> length(x) > 0)) >= 25),
       |f AS (
       |  SELECT *, md5(regexp_replace(trim(lower(clean)), '\s+', ' ', 'g')) AS fp
       |  FROM gated),
       |keep2 AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
       |s2 AS (SELECT f.* FROM f JOIN keep2 USING (fp, doc_id)),
       |dom AS (
       |  SELECT doc_id, clean,
       |    lower(regexp_extract(trim(url), '^[^/]*//([^/:?#]+)', 1)) AS host
       |  FROM s2),
       |domd AS (
       |  SELECT doc_id, clean,
       |    """.stripMargin + pslDomainCaseSql("host") + """ AS domain
       |  FROM dom),
       |r AS (
       |  SELECT doc_id, clean, domain,
       |    row_number() OVER (PARTITION BY domain
       |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT)
       |               % 1099511627776, doc_id) AS rk
       |  FROM domd)
       |SELECT doc_id, domain,
       |  CAST(len(list_filter(regexp_split_to_array(clean, '\s+'),
       |       x -> length(x) > 0)) AS BIGINT) AS n_tokens
       |FROM r WHERE rk <= 3
       |ORDER BY domain, doc_id""".stripMargin)),

    // Gopher-style repetition filter: duplicate-token fraction per doc
    // encoding-damage detection: plant latin-1 mojibake pairs and
    // replacement chars on a deterministic doc subset; clean docs must
    // score exactly 0
    Entry("text_mojibake", (s, dir) => {
      val docs = t(s, dir, "documents")
      val damaged = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" caf\u00C3\u00A9 don\u00C2\u00A0t")).otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          lit(" bad\uFFFDchar")).otherwise(lit("")))
      docs.select(col("doc_id"),
          TextAnalysis.mojibakeScore(damaged).as("moji_score"))
        .orderBy("doc_id")
    }, Some(
      // mojibake replay: same planted damage, same two deleted-length
      // regex counts (pair class counts 2 chars per artifact so the
      // length difference IS pairHits*2), same floor quantization.
      // Scala resolves the \-u escapes at compile time, so the SQL text
      // carries the literal characters both engines match on.
      ("""WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' caf\u00C3\u00A9 don\u00C2\u00A0t' ELSE '' END ||
        |    CASE WHEN doc_id % 10 = 0 THEN ' bad\uFFFDchar' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
        |    floor(((length(t) - length(regexp_replace(t, '[\u00C2\u00C3][\u0080-\u00BF]', '', 'g')))
        |      + (length(t) - length(regexp_replace(t, '[\uFFFD\u0080-\u009F]', '', 'g'))))
        |      / length(t) * 10000) / 10000 END AS moji_score
        |FROM d ORDER BY doc_id""").stripMargin)),

    // domain-blocklist gate: registered-domain (PSL) membership drop,
    // subdomains of listed domains included
    Entry("url_blocklist", (s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://"),
        when(col("doc_id") % 5 === 0, lit("sub.spam-domain.com"))
          .when(col("doc_id") % 7 === 0, lit("www.bad-site.co.uk"))
          .otherwise(concat(lit("www."), col("source"), lit(".com"))),
        lit("/p/"), col("doc_id").cast("string"))
      graft.text.UrlOps.filterBlockedDomains(
          docs.select(col("doc_id"), url.as("url")),
          "url", Seq("spam-domain.com", "bad-site.co.uk"))
        .orderBy("doc_id")
    }, Some(
      // blocklist replay: same synthesized hosts, same generated PSL
      // domain CASE, NOT IN the blocked set
      """WITH u AS (
       |  SELECT doc_id,
       |    'https://' ||
       |    CASE WHEN doc_id % 5 = 0 THEN 'sub.spam-domain.com'
       |         WHEN doc_id % 7 = 0 THEN 'www.bad-site.co.uk'
       |         ELSE 'www.' || source || '.com' END ||
       |    '/p/' || doc_id AS url
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)) AS host
       |  FROM u)
       |SELECT doc_id, url FROM (
       |  SELECT doc_id, url,
       |    """.stripMargin + pslDomainCaseSql("host") + """ AS dom
       |  FROM h)
       |WHERE dom NOT IN ('spam-domain.com', 'bad-site.co.uk')
       |ORDER BY doc_id""".stripMargin)),

    Entry("text_repetition", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id")
    }, Some(
      // duplicate-token fraction: 1 - distinct/total over ws tokens
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(tk) = 0 THEN 0.0
        |       ELSE floor((CAST(1.0 AS DOUBLE) -
        |         CAST(length(list_distinct(tk)) AS DOUBLE) / length(tk)) * 10000) / 10000
        |  END AS rep_ratio
        |FROM toks ORDER BY doc_id""".stripMargin)),

    // sentence segmentation: planted terminal punctuation, RE2-safe
    // marker split (no lookbehind), per-doc count/first/mean-length
    Entry("text_sentences", (s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = concat(lit("First about "), col("source"),
        lit(". Second has id "), col("doc_id").cast("string"),
        lit("! Does it work? Tail of "), col("lang"))
      val sents = TextAnalysis.sentences(planted)
      val total = aggregate(sents, lit(0L), (a, x) => a + length(x))
      docs.select(col("doc_id"),
          size(sents).cast("long").as("n_sents"),
          element_at(sents, 1).as("first_sent"),
          (floor(total.cast("double") / size(sents) * 10000) / 10000)
            .as("mean_sent_chars"))
        .orderBy("doc_id")
    }, Some(
      // sentence replay: same planted punctuation, same marker
      // replace-then-split (chr(30) = U+001E, the same literal the
      // Scala side uses), same trim/filter and mean arithmetic
      """WITH d AS (
        |  SELECT doc_id,
        |    'First about ' || source || '. Second has id ' || doc_id ||
        |    '! Does it work? Tail of ' || lang AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      string_split(regexp_replace(t, '([.!?])\s+', '\1' || chr(30), 'g'),
        |        chr(30)),
        |      x -> trim(x)), x -> length(x) > 0) AS sents
        |  FROM d)
        |SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sents,
        |  sents[1] AS first_sent,
        |  floor(CAST(list_sum(list_transform(sents, x -> length(x))) AS DOUBLE)
        |    / len(sents) * 10000) / 10000 AS mean_sent_chars
        |FROM s ORDER BY doc_id""".stripMargin)),

    // HTML → text: wrap each doc in deterministic markup (title,
    // style block, comment, entities, trailing script) and strip it
    // back to prose with the RE2-safe regexp chain
    Entry("html_text", (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">body { color: red; }" +
          "</style></head><body><!-- boilerplate comment --><h1>"),
        col("source"),
        lit("</h1><p>"), col("text"),
        lit(" A &amp; B &lt;tag&gt;</p>" +
          "<script>var x = 1 < 2;</script></body></html>"))
      docs.select(col("doc_id"), graft.text.Html.stripHtml(html).as("clean"))
        .orderBy("doc_id")
    }, Some(
      // HTML strip replay: same synthesized markup, same 11-step
      // regexp chain (script/style/comment/tag removal, fixed entity
      // set with &amp; decoded last, whitespace collapse) — inline
      // (?is) flags + 'g' so RE2 matches Java regex exactly
      """WITH d AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><style type="text/css">body { color: red; }' ||
        |    '</style></head><body><!-- boilerplate comment --><h1>' ||
        |    source || '</h1><p>' || text ||
        |    ' A &amp; B &lt;tag&gt;</p>' ||
        |    '<script>var x = 1 < 2;</script></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |         '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |       '&nbsp;', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |     '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'),
        |   '&#39;', '''', 'g'),
        |  '&amp;', '&', 'g'),
        | '\s+', ' ', 'g')) AS clean
        |FROM d ORDER BY doc_id""".stripMargin)),

    // domain-level link graph from embedded hrefs: absolute http(s)
    // targets only, src/dst collapsed to eTLD+1, edge weights — the
    // PageRank input shape for a crawl
    Entry("html_links", (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<p>x</p><a href=\"https://news.example"),
        when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/a/"), col("doc_id").cast("string"), lit("\">n</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href='http://blog.partner"),
            (col("doc_id") % 5).cast("string"), lit(".com/x'>b</a>")))
          .otherwise(lit("")),
        lit("<a href=\"/local/page\">rel</a><a href=\"mailto:a@b.c\">m</a>"))
      val d = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      graft.text.Html.domainLinkGraph(d, "doc_id", "html", "url")
        .orderBy("src_domain", "dst_domain")
    }, Some(
      // link-graph replay: same markup, same href extraction, absolute
      // http(s) filter, generated PSL domain CASE on both endpoints,
      // edge-weight count
      """WITH d AS (
       |  SELECT doc_id,
       |    'https://www.' || source || '.com/p/' || doc_id AS url,
       |    '<p>x</p><a href="https://news.example' ||
       |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END ||
       |    '/a/' || doc_id || '">n</a>' ||
       |    CASE WHEN doc_id % 2 = 0
       |      THEN '<a href=''http://blog.partner' || (doc_id % 5) || '.com/x''>b</a>'
       |      ELSE '' END ||
       |    '<a href="/local/page">rel</a><a href="mailto:a@b.c">m</a>' AS html
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, url,
       |    unnest(regexp_extract_all(html,
       |      '(?i)href\s*=\s*["'']([^"'']+)["'']', 1)) AS link
       |  FROM d),
       |f AS (
       |  SELECT lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)) AS src_host,
       |         lower(regexp_extract(link, '^[^/]*//([^/:?#]+)', 1)) AS dst_host
       |  FROM l WHERE regexp_matches(link, '(?i)^https?://')),
       |g AS (
       |  SELECT """.stripMargin + pslDomainCaseSql("src_host") +
       """ AS src_domain,
       |    """.stripMargin + pslDomainCaseSql("dst_host") + """ AS dst_domain
       |  FROM f)
       |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n
       |FROM g GROUP BY src_domain, dst_domain
       |ORDER BY src_domain, dst_domain""".stripMargin)),

    // Unicode-canonical fingerprinting: both a composed (U+00E9) and a
    // decomposed (e + U+0301) "café" are appended to every doc, so the
    // fingerprints only match the oracle if BOTH engines NFC-normalize
    // identically (UAX#15) — the ASCII corpus alone would not exercise
    // the normalizer.
    Entry("text_fingerprint_nfc", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.canonicalFingerprint(
          concat(col("text"), lit(" cafe\u0301 caf\u00e9"))).as("nfc_fp"))
        .orderBy("doc_id")
    }, Some(
      // chr(769) = U+0301 combining acute, chr(233) = U+00E9 composed é
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(nfc_normalize(
        |    text || ' cafe' || chr(769) || ' caf' || chr(233)))), '\s+', ' ', 'g')) AS nfc_fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // BM25 relevance scoring against a seed-term bag — per-(doc, term)
    // partial scores (floor-quantized; the oracle replays tokenize →
    // df → idf → tf-norm from raw text with the identical left-to-
    // right association).
    Entry("text_bm25", (s, dir) => {
      graft.text.Bm25.scoreTerms(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "stream", "vector"))
        .orderBy("doc_id", "token")
    }, Some(
      // full BM25 replay from raw text: tokenize -> doc length ->
      // corpus stats (exact-sum avgdl) -> tf -> df -> idf * tf-norm.
      // Every fractional constant is CAST to DOUBLE (DuckDB literals are
      // DECIMAL; decimal arithmetic would diverge from Spark's doubles),
      // and the arithmetic shape mirrors the Column expression exactly.
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |dl AS (
        |  SELECT d.doc_id, CAST(coalesce(x.dl, 0) AS BIGINT) AS dl
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, count(*) AS dl FROM toks WHERE length(token) > 0
        |    GROUP BY doc_id) x USING (doc_id)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE token IN ('spark', 'stream', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
        |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |  floor(ln(CAST(1.0 AS DOUBLE) +
        |           ((stats.n_docs - dfreq.df) + CAST(0.5 AS DOUBLE)) /
        |           (dfreq.df + CAST(0.5 AS DOUBLE))) *
        |        (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |        (tf.tf + CAST(1.2 AS DOUBLE) *
        |          (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
        |        * 10000) / 10000 AS score
        |FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
        |ORDER BY doc_id, token""".stripMargin)),

    // summed BM25 ranking — the form users call. Replayable since r7:
    // the per-term partials are floor-quantized to 1e-4 as INTEGERS
    // and summed as integers (order-independent), divided once.
    Entry("text_bm25_ranked", (s, dir) => {
      graft.text.Bm25.rank(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "stream", "vector"))
    }, Some(
      // summed ranking replay: identical per-term floor-quantized
      // INTEGER partials, integer SUM (associative — no float-order
      // caveat), one final division
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |dl AS (
        |  SELECT d.doc_id, CAST(coalesce(x.dl, 0) AS BIGINT) AS dl
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, count(*) AS dl FROM toks WHERE length(token) > 0
        |    GROUP BY doc_id) x USING (doc_id)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE token IN ('spark', 'stream', 'vector') GROUP BY doc_id, token),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |terms AS (
        |  SELECT tf.doc_id,
        |    CAST(floor(ln(CAST(1.0 AS DOUBLE) +
        |             ((stats.n_docs - dfreq.df) + CAST(0.5 AS DOUBLE)) /
        |             (dfreq.df + CAST(0.5 AS DOUBLE))) *
        |          (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |          (tf.tf + CAST(1.2 AS DOUBLE) *
        |            (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / stats.avgdl))
        |          * 10000) AS BIGINT) AS score_q
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(sum(score_q) AS DOUBLE) / 10000 AS bm25
        |FROM terms GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id""".stripMargin)),

    // SEMANTIC decontamination: corpus embeddings within cosine 0.35
    // of any probe embedding (vec_id < 20 stands in for an embedded
    // benchmark) — the paraphrase-robust complement to the n-gram
    // check. Probes broadcast; the corpus scans once, narrow.
    Entry("decontam_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Decontaminate.semanticOverlaps(
          emb.where(col("vec_id") >= 20), emb.where(col("vec_id") < 20),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy("vec_id")
    }, Some(
      // semantic-decontamination replay: brute cosine of every corpus
      // vector against the probe set, 6-decimal rounding BEFORE the
      // threshold/max, BIGINT hit counts
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT b.vec_id AS cid, a.vec_id AS pid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i
        |  WHERE a.vec_id < 20 AND b.vec_id >= 20
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT cid, round(dot / (na.nrm * nb.nrm), 6) AS c
        |  FROM d JOIN n na ON na.vec_id = d.pid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT cid AS vec_id, max(c) AS max_cosine,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM sc WHERE c >= 0.35
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // benchmark decontamination: corpus docs sharing >=1 distinct
    // 4-word-gram with the probe set (doc_id < 20 stands in for a
    // benchmark). Probe grams broadcast; the corpus never shuffles —
    // only actual hits aggregate.
    Entry("decontam_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlaps(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", n = 4, minHits = 1L)
        .orderBy("doc_id")
    }, Some(
      // decontamination replay: distinct word 4-grams per doc, probe set
      // = doc_id < 20, string-equality gram join, distinct-hit counts
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 3), ' ')))) AS gram
        |  FROM tk WHERE len(tk) >= 4),
        |pg AS (SELECT DISTINCT doc_id AS probe_id, gram FROM grams WHERE doc_id < 20)
        |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits,
        |       CAST(count(DISTINCT pg.probe_id) AS BIGINT) AS n_probes
        |FROM grams g JOIN pg USING (gram) WHERE g.doc_id >= 20
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination: same answer as
    // decontam_overlap by construction (false positives die in the
    // exact verify join), same oracle — the artifact equality IS the
    // correctness proof of the Bloom path.
    Entry("decontam_overlap_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.overlapsBloom(
          docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20),
          "doc_id", "text", n = 4, minHits = 1L,
          expectedItems = 100000L, fpp = 0.01)
        .orderBy("doc_id")
    }, Some(
      // identical oracle: the Bloom path must reproduce the exact answer
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                t -> length(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 2),
        |    i -> array_to_string(list_slice(tk, i, i + 3), ' ')))) AS gram
        |  FROM tk WHERE len(tk) >= 4),
        |pg AS (SELECT DISTINCT doc_id AS probe_id, gram FROM grams WHERE doc_id < 20)
        |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hits,
        |       CAST(count(DISTINCT pg.probe_id) AS BIGINT) AS n_probes
        |FROM grams g JOIN pg USING (gram) WHERE g.doc_id >= 20
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // unigram-LM mean log-prob per doc (perplexity-filter family):
    // Laplace-smoothed self-scoring; per-token log-probs quantized to
    // integer 1e-4 partials so the per-doc sum is order-independent
    // and the oracle replays it exactly.
    Entry("text_unigram_lp", (s, dir) => {
      graft.text.UnigramLm.scoreSelf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      // unigram-LM replay: token counts -> (N, V) -> Laplace-smoothed
      // ln p per token quantized to BIGINT 1e-4 -> integer sum per doc.
      // Casts pin every operand to the same types Spark divides.
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY token),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size FROM freq),
        |scored AS (
        |  SELECT tk.doc_id,
        |    CAST(floor(ln((coalesce(freq.cnt, 0) + 1) /
        |      CAST(stats.n_total + stats.v_size AS DOUBLE)) * 10000) AS BIGINT) AS lp_q
        |  FROM tk LEFT JOIN freq USING (token) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lp_q) AS BIGINT) / count(*) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // bigram LM with interpolated unigram backoff (the CCNet-style
    // perplexity gate one rung up from text_unigram_lp): per-pair
    // p = λ·ml + (1−λ)·laplace, floor-1e-4 integer quantization
    // before the per-doc mean
    Entry("text_bigram_lp", (s, dir) => {
      graft.text.BigramLm.scoreSelf(t(s, dir, "documents"), "doc_id", "text", 0.8)
        .orderBy("doc_id")
    }, Some(
      // bigram-LM replay: same pair generation (1-based adjacent
      // windows), same interpolation with identical float association
      // (0.8·ml + (1.0−0.8)·lap — the subtraction is evaluated in BOTH
      // engines so the imprecise 0.2 matches bit-for-bit), same
      // floor-1e-4 integer quantization
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(toks) AS token FROM tk) GROUP BY token),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |         CAST(count(*) AS BIGINT) AS v_size FROM uni),
        |p AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |bi AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt12
        |  FROM p GROUP BY w1, w2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CAST(floor(ln(
        |      0.8 * (CASE WHEN bi.cnt12 IS NULL THEN 0.0
        |                  ELSE CAST(bi.cnt12 AS DOUBLE) / u1.cnt END)
        |      + (1.0 - 0.8) * ((coalesce(u2.cnt, 0) + 1) /
        |          CAST(stats.n_total + stats.v_size AS DOUBLE))
        |    ) * 10000) AS BIGINT) AS lp_q
        |  FROM p
        |  LEFT JOIN bi USING (w1, w2)
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(lp_q) AS BIGINT) / count(*) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // trainable Naive-Bayes filter (the fastText-quality-classifier
    // move): fit token class counts against the lang='en' seed label,
    // score every doc's class log-likelihood ratio. Per-token
    // log-probs quantized to integer 1e-4 per class BEFORE the
    // subtraction and per-doc sum, so the logit and the keep decision
    // replay exactly.
    Entry("text_nb_filter", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("is_en", col("lang") === "en")
      graft.text.NbClassifier.scoreSelf(d, "doc_id", "text", "is_en")
        .orderBy("doc_id")
    }, Some(
      // NB-filter replay: same tokenization, same Laplace smoothing,
      // same per-class integer-1e-4 floor quantization before the
      // subtraction and the per-doc sum; prior log-odds added once.
      """WITH d AS (SELECT doc_id, text, (lang = 'en') AS y FROM documents),
        |toks AS (
        |  SELECT doc_id, y,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM d),
        |tk AS (SELECT doc_id, y, token FROM toks WHERE length(token) > 0),
        |model AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cnt_neg
        |  FROM tk GROUP BY token),
        |priors AS (
        |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_docs,
        |         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_docs
        |  FROM d),
        |stats AS (
        |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS n_pos,
        |         CAST(sum(cnt_neg) AS BIGINT) AS n_neg,
        |         CAST(count(*) AS BIGINT) AS v_size,
        |         CAST(floor(ln(CAST(p.n_pos_docs AS DOUBLE) / p.n_neg_docs)
        |           * 10000) AS BIGINT) AS prior_q
        |  FROM model CROSS JOIN priors p
        |  GROUP BY p.n_pos_docs, p.n_neg_docs),
        |scored AS (
        |  SELECT tk.doc_id, stats.prior_q,
        |    CAST(floor(ln((coalesce(model.cnt_pos, 0) + 1) /
        |        CAST(stats.n_pos + stats.v_size AS DOUBLE)) * 10000) AS BIGINT)
        |    - CAST(floor(ln((coalesce(model.cnt_neg, 0) + 1) /
        |        CAST(stats.n_neg + stats.v_size AS DOUBLE)) * 10000) AS BIGINT)
        |      AS llr_q
        |  FROM tk LEFT JOIN model USING (token) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  (CAST(sum(llr_q) AS BIGINT) + any_value(prior_q)) / 10000.0 AS logit,
        |  ((CAST(sum(llr_q) AS BIGINT) + any_value(prior_q)) / 10000.0) > 0.0
        |    AS pred
        |FROM scored GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // Gopher-style quality-rule bundle: word-count band, mean word
    // length band, alphabetic-word fraction, duplicate-bigram
    // fraction, and the combined keep decision. All metrics are
    // floor-quantized scan-speed column expressions (no shuffle), so
    // the keep decision replays bit-identically in any engine.
    Entry("text_gopher_flags", (s, dir) => {
      import graft.text.TextAnalysis._
      // keep derives from the four already-computed quantized columns
      // (same shape as the oracle) — re-invoking gopherKeep(text) here
      // would re-evaluate every tokenization lambda a second time
      t(s, dir, "documents").select(col("doc_id"),
          wsTokenCount(col("text")).cast("long").as("n_words"),
          meanWordLen(col("text")).as("mean_word_q"),
          alphaWordFrac(col("text")).as("alpha_frac_q"),
          dupNgramFrac(col("text"), 2).as("dup_bigram_q"))
        .withColumn("keep",
          col("n_words").between(30, 100000) &&
            col("mean_word_q").between(4.0, 10.0) &&
            col("alpha_frac_q") >= 0.8 && col("dup_bigram_q") <= 0.05)
        .orderBy("doc_id")
    }, Some(
      // Gopher bundle replay: same tokenization (length>0-filtered
      // whitespace split of the case-folded text), same metric shapes
      // and left-to-right association, same floor-1e-4 quantization.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> length(x) > 0) AS toks,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(chars / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS mean_word_q,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE floor(CAST(len(list_filter(toks,
        |             x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |           / CAST(len(toks) AS DOUBLE) * 10000) / 10000
        |    END AS alpha_frac_q,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |      ELSE floor((CAST(1.0 AS DOUBLE)
        |             - CAST(len(list_distinct(list_transform(
        |                 generate_series(1, len(toks) - 1),
        |                 i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
        |               / CAST(len(toks) - 1 AS DOUBLE)) * 10000) / 10000
        |    END AS dup_bigram_q
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_q, alpha_frac_q, dup_bigram_q,
        |  (n_words BETWEEN 30 AND 100000)
        |    AND (mean_word_q BETWEEN 4.0 AND 10.0)
        |    AND alpha_frac_q >= 0.8 AND dup_bigram_q <= 0.05 AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),

    // hashing-trick TF-IDF featurization: fixed-dim sparse vectors,
    // no vocabulary table (collisions add). Integer 1e-4 weight
    // partials summed per bucket — order-independent, replayable.
    Entry("text_tfidf_hashed", (s, dir) => {
      graft.text.TfIdf.hashedTfIdf(t(s, dir, "documents"), "doc_id", "text",
          dim = 64, replayable = true)
        .orderBy("doc_id", "bucket")
    }, Some(
      // TF-IDF replay: same tokenization, smooth idf ln((1+N)/(1+df))+1
      // with identical association, md5-fold bucket, integer partials
      // summed per (doc, bucket).
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |w AS (
        |  SELECT tf.doc_id,
        |    CAST(('0x' || substr(md5(tf.token), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(floor(CAST(tf.tf AS DOUBLE)
        |      * (ln((CAST(1.0 AS DOUBLE) + n_docs) / (CAST(1.0 AS DOUBLE) + df))
        |         + CAST(1.0 AS DOUBLE))
        |      * CAST(10000 AS DOUBLE)) AS BIGINT) AS wq
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats)
        |SELECT doc_id, bucket, CAST(sum(wq) AS BIGINT) AS w_q
        |FROM w GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin)),

    // ROUGE-2 clipped bigram overlap on adjacent-id doc pairs — the
    // Lin 2004 metric as integer counts (recall = n_match/n_ref);
    // clipped min() counts, left join keeps zero-overlap pairs.
    Entry("q_rouge_adjacent", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id"), col("text").as("ref"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("cand")), "doc_id")
      graft.text.Rouge.rougeN(pairs, "doc_id", "ref", "cand", n = 2)
        .orderBy("doc_id")
    }, Some(
      // ROUGE-2 replay: same pair construction, tokenization, 1-based
      // adjacent bigram windows, clipped least() match, left-join zeros.
      """WITH pairs AS (
        |  SELECT d1.doc_id, d1.text AS ref, d2.text AS cand
        |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(ref)), '\s+'),
        |                x -> length(x) > 0) AS rt,
        |    list_filter(regexp_split_to_array(trim(lower(cand)), '\s+'),
        |                x -> length(x) > 0) AS ct
        |  FROM pairs),
        |rg AS (
        |  SELECT doc_id, rt[i] || ' ' || rt[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(rt))) AS t(i)),
        |cg AS (
        |  SELECT doc_id, ct[i] || ' ' || ct[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(ct))) AS t(i)),
        |rc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c_ref
        |       FROM rg GROUP BY 1, 2),
        |cc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c_cand
        |       FROM cg GROUP BY 1, 2),
        |m AS (SELECT rc.doc_id, CAST(sum(least(c_ref, c_cand)) AS BIGINT) AS n_match
        |      FROM rc JOIN cc USING (doc_id, gram) GROUP BY 1),
        |sz AS (SELECT doc_id,
        |         CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS n_ref,
        |         CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS n_cand
        |       FROM tk)
        |SELECT sz.doc_id, n_ref, n_cand,
        |  CAST(coalesce(n_match, 0) AS BIGINT) AS n_match
        |FROM sz LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bag; target = the English slice, raw = whole corpus. Per-bucket
    // log-ratios floor-quantized to 1e-6 integers BEFORE the per-doc
    // sum, so the sum is order-independent and replayable.
    Entry("text_dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.importanceWeights(docs,
          docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, replayable = true)
        .orderBy("doc_id")
    }, Some(
      // DSIR replay: same tokenization, same unigram+bigram features
      // (1-based adjacent windows), same md5-fold bucket, Laplace
      // ln((cnt+1)/(N+dim)) on each side with identical association,
      // per-bucket floor-1e-6 log-ratio, integer per-doc sum.
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(toks) AS feat FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS feat
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM feats GROUP BY 1, 2, 3),
        |tgt AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_t
        |  FROM fb WHERE lang = 'en' GROUP BY bucket),
        |rawb AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_r FROM fb GROUP BY bucket),
        |tot AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb WHERE lang = 'en') AS n_t,
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb) AS n_r),
        |ratio AS (
        |  SELECT rawb.bucket, CAST(floor(
        |    (ln((coalesce(cnt_t, 0) + 1.0) / (n_t + 256.0))
        |     - ln((cnt_r + 1.0) / (n_r + 256.0))) * 1000000.0) AS BIGINT) AS lr_q
        |  FROM rawb LEFT JOIN tgt USING (bucket) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  CAST(sum(cnt * lr_q) AS BIGINT) AS lw_q
        |FROM fb JOIN ratio USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // DSIR resampling: derandomized Gumbel top-k over the importance
    // weights — k docs sampled without replacement from softmax(lw),
    // selection integer-ranked so every engine picks the same set.
    Entry("q_dsir_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Dsir.resample(docs,
          docs.where(col("lang") === "en"),
          "doc_id", "text", dim = 256, k = 50, replayable = true)
        .select("doc_id", "lw_q", "score_q")
        .orderBy("doc_id")
    }, Some(
      // DSIR resample replay: the weights chain above + the md5-derived
      // Gumbel perturbation floor-quantized into the same 1e-6 units;
      // top-k by integer (score_q, doc_id).
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(toks) AS feat FROM tk
        |  UNION ALL
        |  SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS feat
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(feat), 1, 15)) AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM feats GROUP BY 1, 2, 3),
        |tgt AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_t
        |  FROM fb WHERE lang = 'en' GROUP BY bucket),
        |rawb AS (
        |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_r FROM fb GROUP BY bucket),
        |tot AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb WHERE lang = 'en') AS n_t,
        |    (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM fb) AS n_r),
        |ratio AS (
        |  SELECT rawb.bucket, CAST(floor(
        |    (ln((coalesce(cnt_t, 0) + 1.0) / (n_t + 256.0))
        |     - ln((cnt_r + 1.0) / (n_r + 256.0))) * 1000000.0) AS BIGINT) AS lr_q
        |  FROM rawb LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, CAST(sum(cnt * lr_q) AS BIGINT) AS lw_q
        |  FROM fb JOIN ratio USING (bucket) GROUP BY doc_id),
        |scored AS (
        |  SELECT doc_id, lw_q, lw_q + CAST(floor(-ln(-ln(
        |      (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
        |         1, 15)) AS BIGINT) % 1099511627776 AS DOUBLE) + 0.5)
        |      / 1099511627776.0)) * 1000000.0) AS BIGINT) AS score_q
        |  FROM w),
        |sel AS (
        |  SELECT doc_id, lw_q, score_q FROM scored
        |  ORDER BY score_q DESC, doc_id LIMIT 50)
        |SELECT doc_id, lw_q, score_q FROM sel ORDER BY doc_id""".stripMargin)),

    // dominant-writing-system detection (charset routing for
    // multilingual corpora). The corpus is ASCII word soup, so the
    // query rotates injected samples across docs (doc_id % 7) to
    // exercise every script branch plus the no-script 'other' case.
    Entry("text_script_id", (s, dir) => {
      val input = element_at(array(
          col("text"),            // 0: the doc's own latin text
          lit("123 456 !!!"),     // 1: no script chars → other
          lit("мир и труд май"),  // 2: cyrillic
          lit("你好世界 こんにちは"), // 3: cjk
          lit("مرحبا بالعالم"),    // 4: arabic
          lit("αβγ δεζ ηθι"),     // 5: greek
          lit("안녕하세요 세계")),  // 6: hangul
        (col("doc_id") % 7 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.scriptId(input).as("script"))
        .orderBy("doc_id")
    }, Some(
      // script replay: same injected rotation, per-script single-char
      // class counts, and the same (hits desc, script desc) tie-break
      // the struct array_max applies.
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 7 AS INTEGER)
        |      WHEN 0 THEN text
        |      WHEN 1 THEN '123 456 !!!'
        |      WHEN 2 THEN 'мир и труд май'
        |      WHEN 3 THEN '你好世界 こんにちは'
        |      WHEN 4 THEN 'مرحبا بالعالم'
        |      WHEN 5 THEN 'αβγ δεζ ηθι'
        |      ELSE '안녕하세요 세계' END AS s
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, 'latin' AS script,
        |         len(regexp_extract_all(s, '[A-Za-zÀ-ɏ]')) AS hits FROM t
        |  UNION ALL SELECT doc_id, 'cyrillic',
        |         len(regexp_extract_all(s, '[Ѐ-ӿ]')) FROM t
        |  UNION ALL SELECT doc_id, 'greek',
        |         len(regexp_extract_all(s, '[Ͱ-Ͽ]')) FROM t
        |  UNION ALL SELECT doc_id, 'cjk',
        |         len(regexp_extract_all(s, '[぀-ヿ一-鿿]')) FROM t
        |  UNION ALL SELECT doc_id, 'arabic',
        |         len(regexp_extract_all(s, '[؀-ۿ]')) FROM t
        |  UNION ALL SELECT doc_id, 'hangul',
        |         len(regexp_extract_all(s, '[가-힯]')) FROM t),
        |best AS (
        |  SELECT doc_id, script, hits,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hits DESC, script DESC) AS rn
        |  FROM cnt)
        |SELECT doc_id,
        |  CASE WHEN hits > 0 THEN script ELSE 'other' END AS script
        |FROM best WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer induction, merge-step 0: corpus collapses to its
    // distinct word-frequency table (Zipf: |vocab| << |tokens|), the
    // char-pair explosion runs over the vocabulary only, counts
    // weight by word frequency, top-k = TakeOrdered.
    Entry("text_bpe_pairs", (s, dir) => {
      graft.text.Bpe.topPairs(t(s, dir, "documents"), "text", topK = 20)
    }, Some(
      // BPE pair replay: distinct word frequencies of the case-folded
      // corpus, adjacent char pairs over the vocabulary weighted by
      // word frequency, top 20 by (count desc, pair asc).
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> length(t) > 0)) AS word
        |  FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word),
        |p AS (
        |  SELECT freq, unnest(list_transform(range(1, length(word)),
        |    i -> substr(word, i, 2))) AS pair
        |  FROM wf WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_pairs
        |FROM p GROUP BY pair
        |ORDER BY n_pairs DESC, pair ASC LIMIT 20""".stripMargin)),

    // robots.txt admission end-to-end: parse a fixed two-group robots
    // body (wildcard group + agent-specific group) per domain, admit
    // synthesized URLs for both the '*' agent and the named agent.
    // The oracle is a double-entry expectation derived independently
    // from the rule semantics (the bank_gen_validate convention):
    // longest-match, allow-tie-win, and exact-group shadowing each
    // decide a residue class. Grammar edges live in RobotsSpec.
    Entry("q_robots_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val robotsTxt =
        "# corpus policy\nUser-agent: *\nDisallow: /private/\n" +
        "Allow: /private/open\nDisallow: /archive\n\n" +
        "User-agent: graftbot\nDisallow: /graft-only/\n"
      val robots = docs
        .select(concat(lit("www."), col("source"), lit(".com")).as("domain"))
        .distinct()
        .withColumn("txt", lit(robotsTxt))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".com"),
          when(col("doc_id") % 5 === 0, concat(lit("/private/secret/"), col("doc_id")))
            .when(col("doc_id") % 5 === 1, concat(lit("/private/open/"), col("doc_id")))
            .when(col("doc_id") % 5 === 2, concat(lit("/archive/"), col("doc_id")))
            .when(col("doc_id") % 5 === 3, concat(lit("/graft-only/"), col("doc_id")))
            .otherwise(concat(lit("/page/"), col("doc_id")))).as("url"))
      val star = graft.text.Robots.annotateAllowed(urls, "url",
          graft.text.Robots.parseRules(robots, "domain", "txt", "*"))
        .withColumn("agent", lit("*"))
      val bot = graft.text.Robots.annotateAllowed(urls, "url",
          graft.text.Robots.parseRules(robots, "domain", "txt", "graftbot"))
        .withColumn("agent", lit("graftbot"))
      star.unionByName(bot)
        .select("agent", "doc_id", "allowed")
        .orderBy("agent", "doc_id")
    }, Some(
      """SELECT agent, doc_id, allowed FROM (
        |  SELECT '*' AS agent, doc_id,
        |    (doc_id % 5 NOT IN (0, 2)) AS allowed FROM documents
        |  UNION ALL
        |  SELECT 'graftbot', doc_id, (doc_id % 5 <> 3) FROM documents)
        |ORDER BY agent, doc_id""".stripMargin)),

    // word2vec skip-gram pairs after stream subsampling (t=0.05
    // thins only the most frequent words at this corpus size);
    // aggregated to pair counts >= 3 to bound the output
    Entry("text_skipgram", (s, dir) => {
      graft.text.SkipGram.trainingPairs(t(s, dir, "documents"),
          "doc_id", "text", window = 2, t = 0.05)
        .groupBy("center", "context").agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
        .orderBy("center", "context")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS w
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)),
        |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq),
        |kept AS (
        |  SELECT doc_id, pos, w
        |  FROM tok JOIN freq USING (w) CROSS JOIN tot
        |  WHERE CAST(('0x' || substr(md5(doc_id || ':' || pos || ':0'), 1, 15)) AS BIGINT)
        |          / CAST(1152921504606846976 AS DOUBLE)
        |        < sqrt(0.05 * n_total / cnt)),
        |reb AS (SELECT doc_id, list(w ORDER BY pos) AS toks FROM kept GROUP BY doc_id),
        |pr AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + d] AS w2
        |  FROM reb, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context FROM pr
        |  UNION ALL
        |  SELECT w2, w1 FROM pr)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n
        |FROM dirs GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY center, context""".stripMargin)),

    // code/prose separation + code-quality signals over synthesized
    // markdown: every doc gets a python fence (comment line on %3),
    // %4 docs a second raw fence; prose fingerprint proves the strip,
    // flags run on the FIRST block
    Entry("text_code_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val code = concat(lit("def f_"), col("doc_id").cast("string"),
        lit("(x):\n    return x * "), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, lit("\n# comment line"))
          .otherwise(lit("")))
      val md = concat(col("text"), lit("\n```python\n"), code,
        lit("\n```\nmore prose"),
        when(col("doc_id") % 4 === 0,
          concat(lit("\n```\nraw block with a very long line "),
            repeat(lit("x"), 130), lit("\n```")))
          .otherwise(lit("")))
      docs.select(col("doc_id"),
          size(graft.text.CodeText.codeFences(md)).as("n_blocks"),
          md5(graft.text.CodeText.stripCodeFences(md)).as("prose_fp"),
          graft.text.CodeText.codeFlags(
            element_at(graft.text.CodeText.codeFences(md), 1)).as("f"))
        .select(col("doc_id"), col("n_blocks"), col("prose_fp"), col("f.*"))
        .orderBy("doc_id")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    'def f_' || doc_id || '(x):' || chr(10) ||
        |    '    return x * ' || doc_id ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '# comment line'
        |         ELSE '' END AS code,
        |    text FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    text || chr(10) || '```python' || chr(10) || code ||
        |    chr(10) || '```' || chr(10) || 'more prose' ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(10) || '```' || chr(10) ||
        |           'raw block with a very long line ' || repeat('x', 130) ||
        |           chr(10) || '```'
        |      ELSE '' END AS md
        |  FROM d),
        |f AS (
        |  SELECT doc_id,
        |    regexp_extract_all(md, '(?s)```[A-Za-z0-9_+#-]*\r?\n(.*?)```', 1) AS blocks,
        |    md5(regexp_replace(md, '(?s)```[A-Za-z0-9_+#-]*\r?\n(.*?)```', ' ', 'g')) AS prose_fp
        |  FROM m),
        |c AS (
        |  SELECT doc_id, CAST(len(blocks) AS INT) AS n_blocks, prose_fp,
        |    blocks[1] AS code,
        |    string_split_regex(blocks[1], '\r?\n') AS ls
        |  FROM f)
        |SELECT doc_id, n_blocks, prose_fp,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(coalesce(list_max(list_transform(ls, l -> length(l))), 0) AS BIGINT) AS max_line_len,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> length(l) > 120)) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS long_line_frac,
        |  CAST((length(code) - length(regexp_replace(code, '\{', '', 'g')))
        |     - (length(code) - length(regexp_replace(code, '\}', '', 'g'))) AS BIGINT) AS brace_delta,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^(//|#|--|/\*)'))) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS comment_frac,
        |  CASE WHEN len(ls) > 0 THEN
        |    floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]'))) AS DOUBLE)
        |      / len(ls) * 1000000) / 1000000 END AS indent_frac
        |FROM c ORDER BY doc_id""".stripMargin)),

    // GloVe distance-weighted co-occurrence (window 3, weights 6/3/2
    // over scale 6 — exact integers, BIGINT sums)
    Entry("text_glove_cooc", (s, dir) => {
      graft.text.SkipGram.weightedCooc(t(s, dir, "documents"),
          "doc_id", "text", window = 3)
        .where(col("n") >= 5)
        .orderBy("center", "context")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT toks[i] AS w1, toks[i + d] AS w2, CAST(6 / d AS BIGINT) AS wq
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2, 3]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context, wq FROM pr
        |  UNION ALL
        |  SELECT w2, w1, wq FROM pr)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(wq) AS BIGINT) AS w_q, CAST(6 AS BIGINT) AS scale
        |FROM dirs GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY center, context""".stripMargin)),

    // PMI collocations over unsubsampled window-2 pairs: n >= 5
    // bounds the output to real co-occurrences
    Entry("text_pmi", (s, dir) => {
      graft.text.SkipGram.pmi(
          graft.text.SkipGram.pairs(t(s, dir, "documents"), "doc_id", "text",
            window = 2))
        .where(col("n") >= 5)
        .orderBy("center", "context")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT toks[i] AS w1, toks[i + d] AS w2
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i), unnest([1, 2]) AS o(d)
        |  WHERE i + d <= len(toks)),
        |dirs AS (
        |  SELECT w1 AS center, w2 AS context FROM pr
        |  UNION ALL
        |  SELECT w2, w1 FROM pr),
        |counts AS (
        |  SELECT center, context, CAST(count(*) AS BIGINT) AS n
        |  FROM dirs GROUP BY 1, 2),
        |ct AS (SELECT center, CAST(sum(n) AS BIGINT) AS n_c FROM counts GROUP BY 1),
        |xt AS (SELECT context, CAST(sum(n) AS BIGINT) AS n_x FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts)
        |SELECT center, context, n,
        |  CAST(floor(ln(CAST(n AS DOUBLE) * n_total /
        |    (CAST(n_c AS DOUBLE) * n_x)) * 10000) AS BIGINT) AS pmi_q
        |FROM counts JOIN ct USING (center) JOIN xt USING (context) CROSS JOIN tot
        |WHERE n >= 5 ORDER BY center, context""".stripMargin)),

    // C4 line-level cleanup over synthesized crawl-shaped docs: a
    // short button label, a JavaScript banner, content lines with
    // terminal punctuation, and per-residue lorem-ipsum / code-brace
    // page poisons — each rule decides specific lines/pages
    Entry("text_c4_clean", (s, dir) => {
      val docs = t(s, dir, "documents")
      val words = split(col("text"), " ")
      val s1 = concat(array_join(slice(words, 1, 8), " "), lit("."))
      val s2 = concat(array_join(slice(words, 9, 8), " "), lit("?"))
      val lines = concat_ws("\n",
        lit("Click here"),
        s1,
        lit("Please enable JavaScript to continue."),
        s2,
        when(col("doc_id") % 7 === 0,
          lit("this page is lorem ipsum filler text."))
          .otherwise(lit("real closing sentence with enough words here.")),
        when(col("doc_id") % 11 === 0,
          lit("inline code sample { braces }.")).otherwise(lit("")))
      graft.text.C4Filter.clean(
          docs.select(col("doc_id"), lines.as("text")), "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("fp"), col("kept"))
        .orderBy("doc_id")
    }, Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    'Click here' || chr(10) ||
        |    array_to_string(string_split(text, ' ')[1:8], ' ') || '.' || chr(10) ||
        |    'Please enable JavaScript to continue.' || chr(10) ||
        |    array_to_string(string_split(text, ' ')[9:16], ' ') || '?' || chr(10) ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'this page is lorem ipsum filler text.'
        |         ELSE 'real closing sentence with enough words here.' END || chr(10) ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'inline code sample { braces }.'
        |         ELSE '' END AS text
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(string_split(text, chr(10)),
        |      l -> regexp_matches(trim(l), '[.!?"'']$')
        |        AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |                            w -> length(w) > 0)) >= 5
        |        AND NOT contains(lower(trim(l)), 'javascript')),
        |      chr(10)) AS clean_text
        |  FROM base)
        |SELECT doc_id, md5(clean_text) AS fp,
        |  (NOT contains(lower(clean_text), 'lorem ipsum')
        |   AND NOT contains(clean_text, '{')
        |   AND coalesce(len(regexp_extract_all(clean_text, '[.!?]')), 0) >= 3) AS kept
        |FROM cleaned ORDER BY doc_id""".stripMargin)),

    // anchor-text mining: (href, stripped anchor text) pairs from
    // synthesized markup — nested tags and entities inside anchors,
    // and a whitespace-only anchor that must be filtered
    Entry("html_anchors", (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<p>intro</p><a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".com/t/"), col("doc_id").cast("string"),
        lit("\"><b>Doc "), col("doc_id").cast("string"),
        lit("</b> &amp; more</a>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<a href='/rel/"), col("doc_id").cast("string"),
            lit("' class=\"x\">  </a>")))
          .otherwise(lit("<a href=\"https://t.example.org\">plain</a>")))
      graft.text.Html.anchorTexts(
          docs.select(col("doc_id"), html.as("h")), "doc_id", "h")
        .orderBy("doc_id", "pos")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    '<p>intro</p><a href="https://site' || (doc_id % 7) ||
        |    '.com/t/' || doc_id || '"><b>Doc ' || doc_id ||
        |    '</b> &amp; more</a>' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN '<a href=''/rel/' || doc_id || ''' class="x">  </a>'
        |      ELSE '<a href="https://t.example.org">plain</a>' END AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    regexp_extract_all(h, '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 1) AS hrefs,
        |    regexp_extract_all(h, '(?is)<a\s[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*>(.*?)</a>', 2) AS inners
        |  FROM d),
        |e AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, hrefs[i] AS href, inners[i] AS am
        |  FROM m, unnest(range(1, len(hrefs) + 1)) AS t(i)),
        |s AS (
        |  SELECT doc_id, pos, href, trim(regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           regexp_replace(
        |            regexp_replace(
        |             regexp_replace(am, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |         '&nbsp;', ' ', 'g'),
        |        '&lt;', '<', 'g'),
        |       '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |     '&#39;', '''', 'g'),
        |    '&amp;', '&', 'g'),
        |   '\s+', ' ', 'g')) AS anchor
        |  FROM e)
        |SELECT doc_id, pos, href, anchor FROM s
        |WHERE anchor <> '' ORDER BY doc_id, pos""".stripMargin)),

    // interpolated Kneser-Ney trigram scoring (train-on-self form);
    // the oracle rebuilds all four model frames and replays the
    // probability tree term-for-term in the same association order
    Entry("text_kn_lp", (s, dir) => {
      graft.text.KneserNey.scoreSelf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                x -> length(x) > 0) AS toks
        |  FROM documents),
        |tr AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        |  FROM tk, unnest(range(1, len(toks) - 1)) AS t(i)),
        |tric AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
        |  FROM tr GROUP BY 1, 2, 3),
        |n12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n1p_12dot
        |  FROM tric GROUP BY 1, 2),
        |n23 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1p_dot23
        |  FROM tric GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS t(i)),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM p GROUP BY 1, 2),
        |mid AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_dot2dot
        |  FROM tric GROUP BY w2),
        |mid2 AS (SELECT w1 AS w2, CAST(count(*) AS BIGINT) AS n1p_2dot
        |  FROM bi GROUP BY w1),
        |cont AS (SELECT w2 AS w3, CAST(count(*) AS BIGINT) AS n1p_dot3
        |  FROM bi GROUP BY w2),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n1pp FROM bi),
        |occ AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS m
        |  FROM tr GROUP BY 1, 2, 3, 4),
        |scored AS (
        |  SELECT occ.doc_id, occ.m,
        |    occ.m * CAST(floor(ln(
        |      greatest(c123 - 0.75, 0.0) / c12 +
        |      (0.75 * n1p_12dot / c12) * (
        |        greatest(n1p_dot23 - 0.75, 0.0) / n1p_dot2dot +
        |        (0.75 * n1p_2dot / n1p_dot2dot) * (
        |          (n1p_dot3 + 1) / CAST(n1pp + 1 AS DOUBLE)))
        |    ) * 10000) AS BIGINT) AS lp_m
        |  FROM occ
        |  JOIN tric USING (w1, w2, w3) JOIN n12 USING (w1, w2)
        |  JOIN n23 USING (w2, w3) JOIN bi USING (w1, w2)
        |  JOIN mid USING (w2) JOIN mid2 USING (w2)
        |  JOIN cont USING (w3) CROSS JOIN stats)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tris,
        |  CAST(sum(lp_m) AS BIGINT) / sum(m) / 10000 AS lp_avg
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Zipf power-law fit over the top-1000 tokens: OLS slope of
    // log-freq on log-rank with integer-quantized logs (millinats) so
    // the sums are exact and only the closing division is floating.
    Entry("text_zipf_alpha", (s, dir) =>
      graft.text.Zipf.fit(t(s, dir, "documents"), "text", k = 1000), Some(
      // Zipf replay: same tokenization as q_vocab_top, same millinat
      // quantization, same OLS expression tree (division order pinned)
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |top AS (
        |  SELECT token, count(*) AS freq FROM toks
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 1000),
        |ranked AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC)
        |    AS rank
        |  FROM top),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000) AS BIGINT) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pts)
        |SELECT n AS top_k,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
        |    AS slope,
        |  floor((CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1000.0 * 1000000) / 1000000
        |    AS intercept
        |FROM sums""".stripMargin)),

    // per-document keyword extraction: top-3 tokens by tf·idf with
    // integer-quantized idf (round(ln((N+1)/(df+1))·1e9)) so scores
    // are exact BIGINTs; per-doc window bounded by doc vocabulary.
    Entry("text_keywords", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      val all = t(s, dir, "documents")
      val nDocs = all.count()
      val toks = all
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
      val dfreq = toks.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .withColumn("idf9",
          round(log(lit(nDocs + 1.0) / (col("df") + 1).cast("double"))
            * 1000000000L).cast("long"))
      val tf = toks.join(docs.select("doc_id"), "doc_id")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val scored = tf.join(dfreq, "token")
        .select(col("doc_id"), col("token"),
          (col("tf") * col("idf9")).as("score9"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score9").desc, col("token").asc)
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("score9"))
        .orderBy("doc_id", "rnk")
    }, Some(
      // keyword replay: same tokenization, same quantized idf, same
      // (score desc, token asc) rank
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfc AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token),
        |dfreq AS (
        |  SELECT token,
        |    CAST(round(ln(((SELECT n FROM nd) + 1.0)
        |      / CAST(df + 1 AS DOUBLE)) * 1000000000) AS BIGINT) AS idf9
        |  FROM dfc),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk WHERE doc_id < 100 GROUP BY doc_id, token),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf * d.idf9 AS score9
        |  FROM tf t JOIN dfreq d ON t.token = d.token),
        |r AS (
        |  SELECT doc_id, token, score9,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score9 DESC, token ASC) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, token,
        |  CAST(score9 AS BIGINT) AS score9
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),

    // Flesch/Flesch-Kincaid readability over documents: vowel-group
    // syllable proxy, terminator-group sentences, pinned formula
    // chains — the audience-difficulty rung of the quality ladder
    Entry("text_readability", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").cast("long").as("n_words"),
          col("r.n_sentences").cast("long").as("n_sentences"),
          col("r.n_syllables").cast("long").as("n_syllables"),
          col("r.flesch"), col("r.fk_grade"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> length(t) > 0)), 0) AS BIGINT) AS n_words,
        |  CAST(greatest(coalesce(len(regexp_extract_all(text, '[.!?]+')), 0),
        |    1) AS BIGINT) AS n_sentences,
        |  CAST(coalesce(len(regexp_extract_all(lower(text), '[aeiouy]+')),
        |    0) AS BIGINT) AS n_syllables,
        |  CASE WHEN coalesce(len(list_filter(regexp_split_to_array(text,
        |      '\s+'), t -> length(t) > 0)), 0) > 0 THEN
        |    floor((206.835
        |      - 1.015 * (CAST(coalesce(len(list_filter(
        |          regexp_split_to_array(text, '\s+'),
        |          t -> length(t) > 0)), 0) AS DOUBLE)
        |        / CAST(greatest(coalesce(len(regexp_extract_all(text,
        |            '[.!?]+')), 0), 1) AS DOUBLE))
        |      - 84.6 * (CAST(coalesce(len(regexp_extract_all(lower(text),
        |          '[aeiouy]+')), 0) AS DOUBLE)
        |        / CAST(coalesce(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), t -> length(t) > 0)), 0) AS DOUBLE)))
        |      * 10000) / 10000 END AS flesch,
        |  CASE WHEN coalesce(len(list_filter(regexp_split_to_array(text,
        |      '\s+'), t -> length(t) > 0)), 0) > 0 THEN
        |    floor((0.39 * (CAST(coalesce(len(list_filter(
        |          regexp_split_to_array(text, '\s+'),
        |          t -> length(t) > 0)), 0) AS DOUBLE)
        |        / CAST(greatest(coalesce(len(regexp_extract_all(text,
        |            '[.!?]+')), 0), 1) AS DOUBLE))
        |      + 11.8 * (CAST(coalesce(len(regexp_extract_all(lower(text),
        |          '[aeiouy]+')), 0) AS DOUBLE)
        |        / CAST(coalesce(len(list_filter(regexp_split_to_array(text,
        |            '\s+'), t -> length(t) > 0)), 0) AS DOUBLE))
        |      - 15.59) * 10000) / 10000 END AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // SGNS word2vec over the documents corpus — the walks → pairs →
    // embeddings capstone: subsampled skip-gram pairs, seeded
    // negatives, driver-resident quantized matrices, one job per
    // epoch (corpus collapses to the distinct weighted pair table
    // once). Bench-only (iterative trainer, no SQL replay; SgnsSpec
    // pins planted-cluster recovery + bit-reproducibility + the
    // DeepWalk closure).
    Entry("sgns_train_docs", (s, dir) => {
      val pairs = graft.text.SkipGram.trainingPairs(
        t(s, dir, "documents"), "doc_id", "text", window = 2)
      graft.text.Sgns.train(pairs, dim = 32, epochs = 5,
        lr = 1.0, negatives = 5, topV = 4096).embeddingsDf(s)
    }, None),

    // the corpus-embedding closure: train SGNS, then turn every doc
    // into an idf-weighted mean vector (the semantic-dedup corpus) —
    // measures the full text → embeddings path end to end
    Entry("sgns_doc_embed", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.SkipGram.trainingPairs(
        docs, "doc_id", "text", window = 2)
      val m = graft.text.Sgns.train(pairs, dim = 32, epochs = 3,
        lr = 1.0, negatives = 5, topV = 4096)
      graft.text.Sgns.docEmbeddings(docs, "doc_id", "text",
        m.embeddingsDf(s))
    }, None),

    // intrinsic quality readout riding the trained model: SGNS → doc
    // embeddings → neighbor purity by language — the measured dial
    // for dim/epoch/negative choices (EmbedEval applied to 54bd; the
    // gated oracle form runs on the embeddings table, this measures
    // the trainer's own output end to end)
    Entry("sgns_embed_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.SkipGram.trainingPairs(
        docs, "doc_id", "text", window = 2)
      val m = graft.text.Sgns.train(pairs, dim = 32, epochs = 3,
        lr = 1.0, negatives = 5, topV = 4096)
      val vecs = graft.text.Sgns.docEmbeddings(docs, "doc_id", "text",
        m.embeddingsDf(s))
      // the IVF cells/nprobe path, not brute — grading a 50k-doc (or
      // 50M-doc) corpus is exactly the case the shuffled-cell kNN
      // shape exists for; brute purity at sf0.1 measured 15 s of the
      // 18.5 s entry
      graft.ops.EmbedEval.neighborPurity(
        vecs.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "doc_id", "embedding", "lang", k = 5, cells = 64, nprobe = 8)
    }, None),

    // deflate compression-ratio quality signal: native zlib kernel,
    // no SQL-expressible oracle (DeflateRatioSpec pins the kernel
    // against a direct Deflater reference) — benched because it is a
    // per-row native-library call, the one scan-cost shape the
    // regexp-based signals don't cover
    Entry("text_deflate_ratio", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          graft.expr.DeflateRatio.deflateRatio(col("text")).as("zratio"))
        .agg(count(lit(1)).as("n"),
          (floor(avg(col("zratio")) * 10000) / 10000).as("mean_ratio"))
    }, None),

    // tokenizer evaluation: fertility (tokens per word) and
    // compression (chars per token) for the two trained tokenizer
    // families on the same corpus — the metric a tokenizer choice is
    // actually made on. One row; driver-resident models like training.
    Entry("tokenizer_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.BpeTrain.train(docs, "text",
        numMerges = 64, autoBatch = true)
      val uni = graft.text.UnigramTokenizer.train(docs, "text",
        vocabSize = 256, maxPieceLen = 6)
      val base = docs.select(
        size(filter(split(trim(lower(col("text"))), "\\s+"),
          t => length(t) > 0)).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
        .agg(sum("n_words").as("words"), sum("n_chars").as("chars"))
      val bpe = graft.text.BpeTrain.segment(docs, "text", merges)
        .agg(sum("n_bpe_tokens").as("bpe_tokens"))
      val ut = graft.text.UnigramTokenizer.segment(docs, "text", uni)
        .agg(sum("n_unigram_tokens").as("uni_tokens"))
      base.crossJoin(bpe).crossJoin(ut)
        .select(col("words"), col("bpe_tokens"), col("uni_tokens"),
          (floor(col("bpe_tokens") / col("words") * 1e4) / 1e4).as("bpe_fertility"),
          (floor(col("uni_tokens") / col("words") * 1e4) / 1e4).as("uni_fertility"),
          (floor(col("chars") / col("uni_tokens") * 1e4) / 1e4).as("uni_chars_per_token"))
    }, None),

    // unigram-LM (SentencePiece) tokenizer induction + corpus
    // re-tokenization: seed→EM→prune to a 256-piece model, then
    // Viterbi-segment the corpus. No SQL oracle for the EM loop
    // (UnigramTokenizerSpec pins determinism, pruning, Viterbi
    // semantics); benched because rounds are vocab-sized jobs and the
    // production question is the per-round + segmentation scan cost.
    Entry("unigram_train_segment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.UnigramTokenizer.train(docs, "text",
        vocabSize = 256, maxPieceLen = 6)
      graft.text.UnigramTokenizer.segment(docs, "text", model)
        .agg(sum(col("n_unigram_tokens")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
    }, None),

    // full BPE tokenizer induction + corpus re-tokenization: 8 merge
    // rounds over the distinct-word vocab (driver-resident loop, like
    // pagerank), then segment the whole corpus with the learned
    // merges. No SQL-expressible oracle for the iterative loop —
    // BpeTrainSpec pins the canonical Sennrich example instead.
    // logistic-regression quality classifier: full-batch GD with the
    // dim-sized model driver-resident (PageRank/BPE loop shape), then
    // score the corpus. No SQL-expressible oracle for the iterative
    // fit — LogRegSpec pins separable-fit accuracy, bit-determinism,
    // margin growth, L2 shrinkage. Benched: per-epoch cost is the
    // production question (one cached-feature scan + dim-bounded
    // shuffle per epoch).
    Entry("lr_train_score", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("y", col("lang") === "en")
      val model = graft.text.LogReg.train(docs, "doc_id", "text", "y",
        dim = 1 << 16, epochs = 10, lr = 1.0)
      graft.text.LogReg.score(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("y")), "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
    }, None),

    Entry("bpe_train_segment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.BpeTrain.train(docs, "text", numMerges = 8)
      graft.text.BpeTrain.segment(docs, "text", merges)
        .agg(sum(col("n_bpe_tokens")).as("total_bpe_tokens"),
          count(lit(1)).as("n_docs"))
    }, None),

    // BPE training at a REALISTIC merge count: the testdata documents
    // hold only ~31 distinct words (BPE saturates after a few dozen
    // merges), so this entry synthesizes a ~20k-word hash vocabulary
    // and trains 1000 merges with the auto-growing batch — measuring
    // what a real tokenizer induction pays: round count logarithmic in
    // the merge budget, each round a vocab-sized job.
    Entry("bpe_train_1k", (s, _) => {
      import s.implicits._
      val docs = s.range(20000).select(
        concat_ws(" ", (0 until 12).map(i =>
          lower(hex(pmod(xxhash64(col("id"), lit(i)), lit(100000))))): _*)
          .as("text"))
      val merges = graft.text.BpeTrain.train(docs, "text",
        numMerges = 1000, autoBatch = true)
      Seq(merges.length.toLong).toDF("n_merges")
    }, None)
  )
}
