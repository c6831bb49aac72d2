package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("wsTokenCount handles blanks, nulls, and runs of whitespace") {
    val df = Seq(("a b  c"), (" "), ("one"), ("tab\tsep words")).toDF("text")
      .union(Seq.empty[String].toDF("text"))
    val counts = df.select(TextAnalysis.wsTokenCount(col("text"))).as[Int].collect()
    assert(counts.toSeq == Seq(3, 0, 1, 3))
  }

  test("bpeishTokenCount splits letters runs, digits, and marks") {
    val df = Seq("hello world42!").toDF("text")
    val n = df.select(TextAnalysis.bpeishTokenCount(col("text"))).as[Int].head()
    // hello | world | 4 | 2 | !
    assert(n == 5)
  }

  test("qualityScore rewards clean prose, penalizes symbol soup") {
    val clean = "The quick brown fox jumps over the lazy dog near the riverbank today."
    val soup = "@#$% ^&* !!! ### $$$ %%% ^^^ &&& *** ((( )))"
    val df = Seq(clean, soup).toDF("text")
    val q = df.select(TextAnalysis.qualityScore(col("text"))).as[Double].collect()
    assert(q(0) > 0.8 && q(1) < 0.4)
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat sat on the mat and it is happy",
      "der hund ist nicht auf das sofa und die katze",
      "el perro y la casa de mi amigo en un lugar",
      "zzz qqq xxx yyy").toDF("text")
    val langs = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "es", "und"))
  }

  test("langId separates all 47 planted languages via script routing + stopword votes") {
    // the curated pairs: es/pt, de/nl, da/no, cs/sk, hr/sl,
    // ru/uk/bg/sr/mk; script-routed: ar/fa, el, he, th, hi, ja/zh
    // (kana presence), ko; digits-only doc → und; the eight Indic
    // single-language scripts (bn/ta/te/gu/kn/ml/pa r15, or r16);
    // mixed adversaries: Tamil+Devanagari-minority → ta, Bengali+kana
    // → bn, Odia+Tamil-minority → or (majority script wins; kana flag
    // only discriminates within han)
    val expected = Seq("en", "de", "nl", "es", "pt", "fr", "it", "ro",
      "ca", "sv", "da", "no", "fi", "pl", "cs", "sk", "hu", "tr", "id",
      "vi", "hr", "sl", "et", "lt", "lv", "ru", "uk", "bg", "sr", "mk",
      "ar", "fa", "el", "he", "th", "hi", "ja", "zh", "ko", "und",
      "bn", "ta", "te", "gu", "kn", "ml", "pa", "ta", "bn", "or", "or")
    val got = graft.entries.TextEntries.langPlanted.toDF("doc_id", "text")
      .orderBy("doc_id")
      .select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got == expected,
      got.zip(expected).zipWithIndex.filter(p => p._1._1 != p._1._2).toString)
  }

  test("native script-route langId equals the composed regexp spec") {
    val hostile = Seq(
      "", "   ", "12345 --- ===",
      "ééé",
      "abc да 中文 mixed scripts",
      "😀 emoji only",
      "カタカナ to 漢字",
      "Αθήνα και",
      "שלום abc",
      "สวัสดี 123",
      // Indic mixed-script adversaries — exactly the divergence class
      // the r14 half-landed extension could not see: an Indic-majority
      // doc with a Devanagari or kana minority must route to the
      // majority script on BOTH forms
      "தமிழ் பெரும்பான்மை உரை இங்கே घर और",
      "বাংলা লেখা এখানে আছে たち",
      "తెలుగు మాట ఇక్కడ ಕನ್ನಡ",
      "ગુજરાતી લખાણ અહીં છે ਪੰਜਾਬੀ",
      "മലയാളം വാചകം ഇവിടെ",
      // block-boundary code points: first/last char of each Indic
      // block, plus Oriya (routed r16 — a lone Odia fragment must
      // resolve 'or' on both forms, and an Odia minority under a
      // Latin majority must lose the argmax)
      "ঀ৿਀੿઀૿஀௿",
      "ఀ౿ಀ೿ഀൿ",
      "଀୿",
      "ଅଆ oriya minority with the latin majority here",
      "ଅଆ")
    val texts = graft.entries.TextEntries.langPlanted.map(_._2) ++ hostile
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
    val both = df.select(col("i"),
        TextAnalysis.langId(col("text")).as("native"),
        TextAnalysis.langIdComposed(col("text")).as("spec"))
      .collect()
    both.foreach(r => assert(r.getString(1) == r.getString(2), r.toString))
    // null text resolves to und on both forms
    val nulls = Seq((1, Option.empty[String])).toDF("i", "text")
      .select(TextAnalysis.langId(col("text")).as("n"),
        TextAnalysis.langIdComposed(col("text")).as("s"))
      .collect()(0)
    assert(nulls.getString(0) == "und" && nulls.getString(1) == "und")
  }

  test("scrubIban masks only mod-97-valid IBANs; near-misses and codes survive") {
    val df = Seq(
      (1L, "wire DE89 3704 0044 0532 0130 00 today"),   // valid, printed
      (2L, "acct GB29NWBK60161331926819 ref"),           // valid, compact+letters
      (3L, "fr FR14 2004 1010 0505 0001 3M02 606 fin"),  // valid, letter mid-BBAN
      (4L, "bad DE89 3704 0044 0532 0130 01 nope"),      // one-digit near-miss
      (5L, "code AB12 CDEF GHIJ KLMN OPQR reference"),   // IBAN-shaped, bad sum
      (6L, "no candidates at all"),
      (7L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = df.select(col("id"),
        TextAnalysis.scrubIban(col("text")).as("s"),
        size(TextAnalysis.ibanValidIn(col("text"))).as("nv"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == "wire <IBAN> today" && got(1L)._2 == 1)
    assert(got(2L)._1 == "acct <IBAN> ref" && got(2L)._2 == 1)
    assert(got(3L)._1 == "fr <IBAN> fin" && got(3L)._2 == 1)
    assert(got(4L)._1.contains("0130 01") && got(4L)._2 == 0, got(4L).toString)
    assert(got(5L)._1.contains("CDEF") && got(5L)._2 == 0)
    assert(got(6L)._1 == "no candidates at all")
    assert(got(7L)._1 == "")
  }

  test("unwrapLines: dehyphenation, CRLF, paragraph preservation") {
    val cases = Seq(
      ("This is an exam-\nple of hyphen-\nated line wraps.\n\nNew para-\ngraph here.",
        "This is an example of hyphenated line wraps.\n\nNew paragraph here."),
      ("CRLF one\r\ntwo\r\n\r\npara", "CRLF one two\n\npara"),
      ("already one line", "already one line"),
      // hyphen before a DIGIT is not a word wrap — stays
      ("range 1-\n2 stays", "range 1- 2 stays"),
      // unicode letters dehyphenate too (\p{L})
      ("café-\néclair joins", "cafééclair joins"),
      ("trailing  \n   \npara", "trailing  \n\npara"))
    val got = cases.map(_._1).zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .orderBy("i")
      .select(TextAnalysis.unwrapLines(col("text"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) =>
      assert(g == e, s"got '$g' expected '$e'")
    }
  }

  test("fingerprint is whitespace- and case-insensitive") {
    val df = Seq("Hello   World", "hello world", "different").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("mojibakeScore: 0 for clean text, exact fractions for planted damage") {
    import spark.implicits._
    val df = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "voilà café naïve"),      // real accents: NOT mojibake
      (3L, "caf\u00C3\u00A9"),                      // one latin-1 pair in 5 chars
      (4L, "bad\uFFFDchar"),                        // one replacement in 8 chars
      (5L, "x\u0085y"),                             // bare C1 control in 3 chars
      (6L, ""),                                     // empty -> 0
      (7L, null.asInstanceOf[String])               // null -> 0
    ).toDF("id", "text")
    val m = df.select(col("id"), TextAnalysis.mojibakeScore(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) === 0.0)
    assert(m(2L) === 0.0)
    assert(m(3L) === math.floor(2.0 / 5 * 10000) / 10000)
    assert(m(4L) === math.floor(1.0 / 8 * 10000) / 10000)
    assert(m(5L) === math.floor(1.0 / 3 * 10000) / 10000)
    assert(m(6L) === 0.0)
    assert(m(7L) === 0.0)
  }

  test("repetitionRatio: 0 for all-distinct and blank, high for boilerplate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "every token here is fully distinct"),
      (2L, "spam spam spam spam spam"),   // 1 distinct of 5 → 0.8
      (3L, "a b a b"),                    // 2 distinct of 4 → 0.5
      (4L, "  "),                         // blank → 0
      (5L, "Spam SPAM spam")              // case-folded → 0.6667
    ).toDF("id", "text")
    val m = df.select(col("id"), TextAnalysis.repetitionRatio(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) === 0.0)
    assert(m(2L) === 0.8)
    assert(m(3L) === 0.5)
    assert(m(4L) === 0.0)
    assert(m(5L) === 0.6666)
  }

  test("scrubPii masks emails and long digit runs, leaves prose alone") {
    val df = Seq(
      "contact jane.doe+x@corp.example.com or call 18005551234 now",
      "short 123456 stays, 1234567 goes",
      "no pii here").toDF("text")
    val out = df.select(TextAnalysis.scrubPii(col("text"))).as[String].collect()
    assert(out(0) == "contact <EMAIL> or call <NUM> now")
    assert(out(1) == "short 123456 stays, <NUM> goes")
    assert(out(2) == "no pii here")
  }

  test("chunks: overlapping windows cover the text and reconstruct it") {
    val text = ('a' to 'z').mkString * 20 // 520 chars
    val df = Seq(text).toDF("text")
    val cs = df.select(TextAnalysis.chunks(col("text"), size = 100, overlap = 20))
      .as[Seq[String]].head()
    assert(cs.length == 7) // starts at 0,80,...,480 (step 80)
    assert(cs.init.forall(_.length == 100) && cs.last.length == 40)
    cs.sliding(2).foreach { case Seq(a, b) => assert(a.takeRight(20) == b.take(20)) }
    // dropping each chunk's leading overlap reconstructs the original
    assert((cs.head +: cs.tail.map(_.drop(20))).mkString == text)
    // short text → single chunk
    val one = Seq("tiny").toDF("text")
      .select(TextAnalysis.chunks(col("text"), 100, 20)).as[Seq[String]].head()
    assert(one == Seq("tiny"))
  }

  test("windowFingerprints produces one hash per token window") {
    val df = Seq("a b c d e f g h i j").toDF("text")
    val fps = df.select(TextAnalysis.windowFingerprints(col("text"), 8)).as[Seq[Long]].head()
    assert(fps.length == 3) // 10 tokens, window 8 → positions 1..3
  }

  test("windowFingerprints: doc shorter than the window yields NO hashes") {
    // sequence(1, 0) is descending in Spark — unguarded it yields two
    // bogus windows for short docs
    val fps = Seq("only three tokens").toDF("text")
      .select(TextAnalysis.windowFingerprints(col("text"), 8)).as[Seq[Long]].head()
    assert(fps.isEmpty)
  }

  test("meanWordLen: total token chars / token count, 0 for blank") {
    val m = Seq((1L, "ab cdef"), (2L, "  "), (3L, "abc\tde\nf"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.meanWordLen(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) === 3.0)   // 6 chars / 2 tokens
    assert(m(2L) === 0.0)
    assert(m(3L) === 2.0)   // 6 chars / 3 tokens
  }

  test("alphaWordFrac: fraction of tokens with a letter") {
    val m = Seq((1L, "abc 123 x9 42"), (2L, "1 2 3"), (3L, ""))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.alphaWordFrac(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) === 0.5)   // abc, x9 of 4
    assert(m(2L) === 0.0)
    assert(m(3L) === 0.0)
  }

  test("dupNgramFrac: duplicate-bigram fraction, 0 below n tokens") {
    val m = Seq(
      (1L, "a b a b a"),         // bigrams: ab ba ab ba → 2 distinct of 4 → 0.5
      (2L, "all words differ here"), // 3 distinct of 3 → 0.0
      (3L, "single"),            // < 2 tokens → 0
      (4L, "x x x x"))           // bigrams: xx xx xx → 1 of 3 → 0.6666
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.dupNgramFrac(col("text"), 2))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) === 0.5)
    assert(m(2L) === 0.0)
    assert(m(3L) === 0.0)
    assert(m(4L) === 0.6666)
  }

  test("scriptId: dominant writing system per doc, 'other' when none") {
    val m = Seq(
      (1L, "plain english words"),
      (2L, "мир и труд май"),
      (3L, "你好世界 こんにちは"),
      (4L, "مرحبا بالعالم"),
      (5L, "αβγ δεζ"),
      (6L, "안녕하세요"),
      (7L, "123 456 !!!"),
      (8L, "mixed текст with more latin here"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.scriptId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "latin")
    assert(m(2L) == "cyrillic")
    assert(m(3L) == "cjk")
    assert(m(4L) == "arabic")
    assert(m(5L) == "greek")
    assert(m(6L) == "hangul")
    assert(m(7L) == "other")
    assert(m(8L) == "latin") // more latin chars than cyrillic
  }

  test("gopherKeep: clean prose passes, short/repetitive docs fail") {
    // 31 distinct words (no duplicate bigrams), mean word length ~4.9
    val prose = "the quick brown fox jumps over a lazy dog while seven " +
      "wizards quietly brew strong coffee under bright autumn skies and " +
      "children watch distant ships sail past rocky harbor cliffs today"
    val m = Seq(
      (1L, prose),                          // 30 words, mean len ~4.9
      (2L, "too short to keep"),            // word count below band
      (3L, Seq.fill(30)("spam spam").mkString(" "))) // dup bigrams
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.gopherKeep(col("text")))
      .as[(Long, Boolean)].collect().toMap
    assert(m(1L))
    assert(!m(2L))
    assert(!m(3L))
  }

  test("luhnValid accepts checksum-correct card numbers and rejects others") {
    val cases = Seq(
      ("4532015112830366", true),   // Visa test number
      ("5425233430109903", true),   // Mastercard test number
      ("374245455400126", true),    // Amex test number (15 digits)
      ("4532015112830367", false),  // last digit off by one
      ("1234567812345678", false),
      ("123456789012", false),      // 12 digits: below band
      ("", false))
    val got = cases.map(_._1).toDF("d")
      .select(col("d"), TextAnalysis.luhnValid(col("d")).as("v"))
      .as[(String, Boolean)].collect().toMap
    cases.foreach { case (d, exp) => assert(got(d) == exp, s"luhn($d)") }
  }

  test("ccValid finds separator-formatted valid numbers, keeps originals") {
    val text = "pay 4532-0151-1283-0366 now ref 1234 5678 1234 5678 x " +
      "code 374245455400126 end"
    val got = Seq(text).toDF("t")
      .select(TextAnalysis.ccValid(col("t")).as("v")).as[Seq[String]].head()
    assert(got == Seq("4532-0151-1283-0366", "374245455400126"))
  }

  test("scrubCc masks only Luhn-valid runs; order ids survive") {
    val text = "pay 4532-0151-1283-0366 for order 99887766554433 twice " +
      "4532-0151-1283-0366 done"
    val got = Seq(text).toDF("t")
      .select(TextAnalysis.scrubCc(col("t")).as("s")).as[String].head()
    assert(got == "pay <CC> for order 99887766554433 twice <CC> done")
    // no candidates -> text unchanged; null-safe
    val plain = Seq("no digits here").toDF("t")
      .select(TextAnalysis.scrubCc(col("t"))).as[String].head()
    assert(plain == "no digits here")
  }

  test("cc scrubbing is a narrow scan (no shuffle)") {
    val plan = Seq(("x")).toDF("t")
      .select(TextAnalysis.scrubCc(col("t")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must not shuffle:\n$plan")
  }

  test("sentences: splits on terminal punctuation + space, keeps tails") {
    def sents(s: String): Seq[String] =
      Seq(s).toDF("t").select(TextAnalysis.sentences(col("t")).as("s"))
        .as[Seq[String]].head()
    assert(sents("One fine day. Another one! Is it? tail without end")
      == Seq("One fine day.", "Another one!", "Is it?", "tail without end"))
    assert(sents("No terminator at all") == Seq("No terminator at all"))
    assert(sents("") == Seq.empty)
    // a period NOT followed by whitespace does not split (v1.2, 3.14)
    assert(sents("Version v1.2 ships pi as 3.14 today.") ==
      Seq("Version v1.2 ships pi as 3.14 today."))
  }

  test("chunkBySentences packs whole sentences up to the budget") {
    def chunks(s: String, max: Int): Seq[String] =
      Seq(s).toDF("t")
        .select(TextAnalysis.chunkBySentences(col("t"), max).as("c"))
        .as[Seq[String]].head()
    val text = "Alpha beta. Gamma delta epsilon. Zeta! Eta theta iota kappa?"
    // budget 38 fits exactly two sentences in the first chunk
    assert(chunks(text, 38) == Seq("Alpha beta. Gamma delta epsilon. Zeta!",
      "Eta theta iota kappa?"))
    // no sentence is ever split: joining chunks reconstructs the text
    for (m <- Seq(12, 25, 40, 200)) {
      val cs = chunks(text, m)
      assert(cs.mkString(" ") == text, s"budget $m reconstructs")
      // every chunk within budget unless it is a single long sentence
      cs.foreach(c =>
        assert(c.length <= m || !c.dropRight(1).exists(".!?".contains(_)),
          s"budget $m chunk '$c'"))
    }
    assert(chunks("", 10) == Seq.empty)
  }

  test("readability: hand-computed Flesch and FK grade") {
    import spark.implicits._
    def read(s: String) = Seq(s).toDF("t")
      .select(TextAnalysis.readability(col("t")).as("r"))
      .select("r.*").collect()(0)
    // "The cat sat. The dog ran." — 6 words, 2 sentences, 6 vowel
    // groups (e, a, a, e, o, a): wps=3, spw=1
    // flesch = 206.835 - 1.015*3 - 84.6*1 = 119.19
    // fk = 0.39*3 + 11.8*1 - 15.59 = -2.62
    val r = read("The cat sat. The dog ran.")
    assert(r.getAs[Int]("n_words") == 6)
    assert(r.getAs[Int]("n_sentences") == 2)
    assert(r.getAs[Int]("n_syllables") == 6)
    assert(r.getAs[Double]("flesch") == 119.19)
    assert(r.getAs[Double]("fk_grade") == -2.62)
    // polysyllabic prose reads harder: lower flesch, higher grade
    val hard = read(
      "Extraordinary bureaucratic organizations necessitate " +
        "comprehensive administrative documentation.")
    assert(hard.getAs[Double]("flesch") < r.getAs[Double]("flesch"))
    assert(hard.getAs[Double]("fk_grade") > r.getAs[Double]("fk_grade"))
    // wordless doc: counts zero, scores NULL, sentences floored at 1
    val blank = read("   ")
    assert(blank.getAs[Int]("n_words") == 0)
    assert(blank.getAs[Int]("n_sentences") == 1)
    assert(blank.isNullAt(blank.fieldIndex("flesch")))
    assert(blank.isNullAt(blank.fieldIndex("fk_grade")))
  }
}
