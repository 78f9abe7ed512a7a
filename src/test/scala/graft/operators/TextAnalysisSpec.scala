package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount: whitespace runs, empty and blank strings") {
    val df = Seq("a b  c", "", "   ", "one", "x\t y\nz").toDF("text")
      .withColumn("n", TextAnalysis.tokenCount(col("text")))
    assert(df.select("n").as[Int].collect().toSeq === Seq(3, 0, 0, 1, 3))
  }

  test("subwordCount: letter runs, digit runs, punctuation singles") {
    val df = Seq("hello, world42!").toDF("text")
      .withColumn("n", TextAnalysis.subwordCount(col("text")))
    // hello , world 42 !  → 5
    assert(df.select("n").as[Int].head() === 5)
  }

  test("fingerprint: invariant to order, case, and extra whitespace") {
    val df = Seq(
      ("a", "The quick  brown fox"),
      ("b", "brown FOX the quick"),
      ("c", "the quick brown fox jumps")).toDF("id", "text")
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val fps = df.select("id", "fp").as[(String, Long)].collect().toMap
    assert(fps("a") === fps("b"))
    assert(fps("a") !== fps("c"))
  }

  test("langId: stopword voting + CJK override") {
    val samples = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("der Hund ist nicht in der Küche und das ist gut", "de"),
      ("le chat est dans la maison et il est content", "fr"),
      ("el perro es grande y la casa es bonita", "es"),
      ("这是 一个 中文 句子", "zh"),
      ("zzz qqq xxx", "unknown")).toDF("text", "expected")
    val out = TextAnalysis.withLangId(samples, "text")
    out.collect().foreach { r =>
      assert(r.getAs[String]("lang_pred") === r.getAs[String]("expected"),
        r.getAs[String]("text"))
    }
  }

  test("redact masks configured patterns in order") {
    import org.apache.spark.sql.functions._
    val out = Seq("mail me at a.b+c@example.org or call 12345678 x9")
      .toDF("text")
      .select(TextAnalysis.redact(col("text"), Seq(
        TextAnalysis.EmailPattern -> "<EMAIL>",
        TextAnalysis.NumberRunPattern -> "<NUM>")).as("clean"))
      .head().getString(0)
    assert(out === "mail me at <EMAIL> or call <NUM> x9")
  }

  test("native canonical_tokens matches the HOF composition exactly") {
    import org.apache.spark.sql.functions._
    val tricky = Seq(
      "The quick  brown the THE fox",
      "",
      "   ",
      "\tleading tab",
      "one",
      "Zebra apple zebra APPLE",
      "a b c d e f a b c",
      "münchen Straße MÜNCHEN",
      "line1\nline2\r\nline3",
      "trailing spaces   ").toDF("text")
    val hof = concat_ws(" ",
      array_sort(array_distinct(transform(TextAnalysis.tokens(col("text")), lower _))))
    val rows = tricky.select(
      graft.functions.Text.canonicalTokens(col("text")).as("native"),
      hof.as("hof"), col("text")).collect()
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(1), s"input=${r.getString(2)}")
    }
  }

  test("wordNgrams: bigrams/trigrams, short and empty docs") {
    val df = Seq("The quick  brown fox", "one", "", "  ").toDF("text")
    val bi = df.select(TextAnalysis.wordNgrams(col("text"), 2).as("g"))
      .as[Seq[String]].collect()
    assert(bi(0) === Seq("the quick", "quick brown", "brown fox"))
    assert(bi(1) === Seq.empty)
    assert(bi(2) === Seq.empty)
    assert(bi(3) === Seq.empty)
    val tri = df.select(TextAnalysis.wordNgrams(col("text"), 3).as("g"))
      .as[Seq[String]].collect()
    assert(tri(0) === Seq("the quick brown", "quick brown fox"))
  }

  test("native word_ngrams matches the HOF reference on tricky inputs") {
    val tricky = Seq(
      "",
      "   ",
      "\tleading tab then words here",
      "one",
      "two words",
      "Zebra apple ZEBRA apple mix",
      "a  b   c    d", // runs of spaces
      "line1\nline2\r\nline3 line4",
      "trailing spaces   ",
      "münchen Straße MÜNCHEN again").toDF("text")
    for (n <- Seq(2, 3, 5)) {
      val rows = tricky.select(
        TextAnalysis.wordNgrams(col("text"), n).as("native"),
        TextAnalysis.wordNgramsHof(col("text"), n).as("hof"),
        col("text")).as[(Seq[String], Seq[String], String)].collect()
      rows.foreach { case (nat, hof, input) =>
        assert(nat === hof, s"n=$n input=$input")
      }
    }
  }

  test("docFrequencies: df counts documents once, tf counts occurrences") {
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b")).toDF("doc_id", "text")
    val got = TextAnalysis.docFrequencies(df, "text", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 2L, 3L), ("b", 2L, 4L), ("c", 1L, 1L)))
  }

  test("tfIdfTopTerms: hand-computed scores, per-doc k, lexical ties") {
    // N=3. df: a→2, b→2, c→1. idf: ln(1.5), ln(1.5), ln(3)
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(df, "text", k = 1)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._5))).toMap
    def s(tf: Long, idf: Double) =
      BigDecimal(tf * idf).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // doc 1: a = 2·ln1.5 ≈ 0.8109 beats b = ln1.5; doc 2: c = ln3 ≈
    // 1.0986 beats a; doc 3: b = 3·ln1.5 ≈ 1.2164
    assert(got(1L) === (("a", s(2, math.log(1.5)))))
    assert(got(2L) === (("c", s(1, math.log(3.0)))))
    assert(got(3L) === (("b", s(3, math.log(1.5)))))
    // k larger than vocab: every (doc, term) row comes back
    assert(TextAnalysis.tfIdfTopTerms(df, "text", k = 10).count() === 5L)
  }

  test("topNgrams counts corpus-wide with deterministic ordering") {
    val df = Seq("a b a b", "a b c", "c a b").toDF("text")
    val got = TextAnalysis.topNgrams(df, "text", 2, 3)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b", 4L), ("b a", 1L), ("b c", 1L)))
  }

  test("bm25TopK matches a hand-computed reference score") {
    // corpus: 4 docs; query = {x}. df(x)=2, N=4, avgdl = (3+2+2+1)/4 = 2.0
    val df = Seq(
      (1L, "x x y"),   // tf=2, dl=3
      (2L, "x z"),     // tf=1, dl=2
      (3L, "y z"),     // no match
      (4L, "w")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "text", Seq("x"), k = 10)
      .as[(Long, Double)].collect().toSeq
    val idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    def score(tf: Long, dl: Long): Double = {
      val w = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
      math.rint(w * 10000) / 10000
    }
    assert(got === Seq((1L, score(2, 3)), (2L, score(1, 2))))
    assert(got.head._2 > got(1)._2) // higher tf wins despite longer doc
  }

  test("bm25TopK: rarer terms outweigh common ones at equal tf") {
    val df = (1L to 20L).map(i => (i, if (i <= 10) "common rare" else "common"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(df, "text", Seq("common", "rare"), k = 20)
      .as[(Long, Double)].collect()
    // docs containing the rare term all rank above common-only docs
    assert(top.take(10).map(_._1).toSet === (1L to 10L).toSet)
  }

  test("quality metrics are bounded and rounded") {
    val out = TextAnalysis.withQuality(
      Seq("The quick brown fox jumps over the lazy dog.").toDF("text"), "text")
      .select("alpha_ratio", "punct_ratio", "stopword_ratio", "quality_score")
      .head()
    val vals = (0 until 4).map(out.getDouble)
    vals.foreach(v => assert(v >= 0.0 && v <= 1.0))
    // 44 chars, 35 alpha → 0.7955
    assert(out.getDouble(0) === 0.7955)
    assert(out.getDouble(1) === math.rint(1.0 / 44 * 10000) / 10000)
  }

  test("normalizeText: NFC composition, control strip, whitespace collapse, trim") {
    val rows = Seq(
      (1L, "cafe\u0301"),         // decomposed e+accent composes under NFC
      (2L, "  a\t\tb\nc  "),            // collapse + trim
      (3L, "a\u0001b\u0002c"),    // control chars vanish, no space
      (4L, "a \u0000  b"),        // control inside a ws run: one space
      (5L, "\t \n"),                    // all-whitespace → empty
      (6L, "a\u000bb"),          // vertical tab is a control: strip
      (7L, "a\u00a0b")           // NBSP is content: untouched
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("t"))
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    assert(out(1L) === "caf\u00e9")
    assert(out(2L) === "a b c")
    assert(out(3L) === "abc")
    assert(out(4L) === "a b")
    assert(out(5L) === "")
    assert(out(6L) === "ab")
    assert(out(7L) === "a\u00a0b")
  }

  test("normalizeText: null passes through as null") {
    val rows = Seq((1L, Some("  x  y ")), (2L, None)).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("t"))
      .orderBy("doc_id").as[(Long, Option[String])].collect().toSeq
    assert(out === Seq((1L, Some("x y")), (2L, None)))
  }

  test("chunkPassages: hand-derived windows, overlap, tail, empty docs") {
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens
      (2L, "x y"),           // 2 tokens → one short chunk
      (3L, "   "),           // empty → no chunks
      (4L, "")               // empty → no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkPassages(docs, "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    // doc 1: starts 0,3,6 → [a b c d], [d e f g], [g]
    assert(out === Seq(
      (1L, 0, 4, "a b c d"),
      (1L, 1, 4, "d e f g"),
      (1L, 2, 1, "g"),
      (2L, 0, 2, "x y")))
  }

  test("chunkPassages: stride == chunkTokens partitions without overlap; " +
      "bad stride fails") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkPassages(docs, "doc_id", "text", 2, 2)
      .orderBy("chunk_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(out.map(_._4) === Seq("a b", "c d", "e"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkPassages(docs, "doc_id", "text", 2, 3)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkPassages(docs, "doc_id", "text", 2, 0)
    }
  }

  test("stripBoilerplate removes frequent lines, keeps order, handles all-boilerplate docs") {
    val banner = "subscribe to our newsletter"
    val nav = "home | about | contact"
    val docs = Seq(
      (1L, s"$nav\nunique first body\n$banner"),
      (2L, s"$nav\nanother body line\nmore body\n$banner"),
      (3L, s"$nav\n$banner"),              // nothing but boilerplate
      (4L, "fully unique document"),       // untouched
      (5L, s"$nav\nrepeated line\nrepeated line\n$banner") // in-doc repeat
    ).toDF("doc_id", "text")

    // census: distinct-doc counts, not occurrence counts
    val census = TextAnalysis.boilerplateLines(docs, "doc_id", "text", 4L)
      .select("line", "doc_freq").as[(String, Long)].collect().toMap
    assert(census === Map(nav -> 4L, banner -> 4L))

    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", 4L)
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "unique first body",
      2L -> "another body line\nmore body",
      3L -> "",
      4L -> "fully unique document",
      5L -> "repeated line\nrepeated line"))
  }

  test("withRepetition: Gopher repetition signals, hand-computed") {
    val docs = Seq(
      // "a b" ×3 (sliding: [a b, b a, a b, b a, a b]) — 5 bigrams, max 3,
      // all 5 occurrences duplicated; 4 trigrams (aba ×2, bab ×2)
      (1L, "a b a b a b"),
      // all distinct bigrams/trigrams
      (2L, "one two three four"),
      // shorter than a trigram
      (3L, "hi there"),
      // single token: no grams at all
      (4L, "solo"),
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetition(docs, "text", Seq(2, 3))
      .select("doc_id", "top2gram_cover", "dup2gram_frac",
              "top3gram_cover", "dup3gram_frac")
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((3.0 * 2 / 6, 1.0, 2.0 * 3 / 6, 1.0)))
    assert(out(2L) === ((1.0 * 2 / 4, 0.0, 1.0 * 3 / 4, 0.0)))
    assert(out(3L) === ((1.0 * 2 / 2, 0.0, 0.0, 0.0)))
    assert(out(4L) === ((0.0, 0.0, 0.0, 0.0)))
    assert(out(5L) === ((0.0, 0.0, 0.0, 0.0)))
  }

  test("charEntropy: hand-computed values, code-point alphabet") {
    val df = Seq("aabb", "aaaa", "abcd", "", "𝄞𝄞")
      .toDF("text")
      .select(graft.functions.Text.charEntropy(col("text")).as("h"))
    val hs = df.as[Double].collect().toSeq
    assert(hs(0) === 1.0) // two symbols, equal mass
    assert(hs(1) === 0.0) // single symbol
    assert(hs(2) === 2.0) // four equal symbols
    assert(hs(3) === 0.0) // empty
    assert(hs(4) === 0.0) // one supplementary code point, twice
  }

  test("repetition_stats agrees with an explode/groupBy replica on real docs") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val native = TextAnalysis.withRepetition(docs, "text", Seq(2))
      .select(col("doc_id"), col("top2gram_cover"), col("dup2gram_frac"))
    val grams = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"),
        explode(TextAnalysis.wordNgrams(col("text"), 2)).as("g"))
      .groupBy("doc_id", "ntok", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "ntok")
      .agg(max("c").as("maxc"), sum("c").as("total"),
           sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup"))
    val replica = docs.select("doc_id")
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce((col("maxc") * 2).cast("double") / col("ntok").cast("double"),
          lit(0.0)).as("top2gram_cover"),
        coalesce(col("dup").cast("double") / col("total").cast("double"),
          lit(0.0)).as("dup2gram_frac"))
    assert(native.exceptAll(replica).isEmpty && replica.exceptAll(native).isEmpty)
  }

  test("canonicalUrl: each rewrite rule, and what must NOT merge") {
    def canon(u: String): String =
      Seq(u).toDF("u").select(TextAnalysis.canonicalUrl(col("u")).as("c"))
        .as[String].head()
    val base = "https://example.com/Path"
    // every variant class collapses to the same canonical form
    for (variant <- Seq(
        "https://example.com/Path",
        "  https://example.com/Path  ",          // whitespace
        "https://example.com/Path#section-2",    // fragment
        "HTTPS://EXAMPLE.COM/Path",              // scheme+host case
        "https://www.example.com/Path",          // www
        "https://example.com:443/Path",          // default port
        "https://example.com/Path/",             // trailing slash
        "https://example.com/Path?utm_source=x&utm_medium=y", // tracking only
        "https://www.example.com:443/Path/#f"))  // stacked
      assert(canon(variant) === base, s"variant $variant")
    // tracking params drop but REAL params survive, separators repaired
    assert(canon("https://a.com/p?utm_source=x&q=1") === "https://a.com/p?q=1")
    assert(canon("https://a.com/p?q=1&fbclid=zzz") === "https://a.com/p?q=1")
    assert(canon("https://a.com/p?gclid=1&utm_x=2") === "https://a.com/p")
    // '&' is a legal PATH character: never rewritten, never merged with
    // a real query string, and stacked trackers still clean up fully
    assert(canon("https://a.com/x&y") === "https://a.com/x&y")
    assert(canon("https://a.com/x&y") !== canon("https://a.com/x?y"))
    assert(canon("https://a.com/a&b?q=1") === "https://a.com/a&b?q=1")
    assert(canon("https://a.com/p?utm_a=1&utm_b=2&q=3") === "https://a.com/p?q=3")
    assert(canon("https://a.com/p?utm_a=1&utm_b=2") === "https://a.com/p")
    // things that must NOT merge: path case, real params, non-default port
    assert(canon("https://example.com/path") !== base)
    assert(canon("https://example.com/Path?q=1") !== base)
    assert(canon("https://example.com:8443/Path") !== base)
    // http default port is 80, not 443
    assert(canon("http://a.com:80/x") === "http://a.com/x")
    assert(canon("http://a.com:443/x") === "http://a.com:443/x")
    // non-URL strings pass through un-mangled (minus trim/fragment rules)
    assert(canon("not a url") === "not a url")
  }

  test("dedupByUrl keeps the smallest id per canonical group") {
    val df = Seq(
      (0L, "https://site.com/a"),
      (1L, "https://www.site.com/a/"),      // dup of 0
      (2L, "HTTPS://SITE.COM/a#x"),         // dup of 0
      (3L, "https://site.com/b"),
      (4L, "https://site.com/b?utm_source=t") // dup of 3
    ).toDF("doc_id", "url")
    val kept = TextAnalysis.dedupByUrl(df, "doc_id", "url")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(0L, 3L))
  }

  test("topCollocations: hand-computed PMI, min-count cut, rounded-rank ties") {
    import spark.implicits._
    // tokens: N = 9; bigrams: B = 6; counts: new-york 2, others 1
    val docs = Seq("new york is big", "new york city", "big city")
      .toDF("text")
    val strict = TextAnalysis.topCollocations(docs, "text",
        minCount = 2, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    // PMI(new,york) = ln(2*9*9 / (6*2*2)) = ln(6.75)
    val ln675 = BigDecimal(math.log(2.0 * 9 * 9 / (6.0 * 2 * 2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(strict === Seq(("new", "york", 2L, ln675)))
    // minCount = 1: (is,big) and (york,is) tie new-york at ln(6.75)
    // (hapax words), ties break (w1, w2) lexical; the n=2-word pairs
    // (big,city), (york,city) land at ln(3.375)
    val loose = TextAnalysis.topCollocations(docs, "text",
        minCount = 1, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(loose.map(r => (r._1, r._2, r._3)) === Seq(
      ("is", "big", 1L), ("new", "york", 2L), ("york", "is", 1L),
      ("big", "city", 1L), ("york", "city", 1L)))
    assert(loose.take(3).forall(_._4 === ln675))
    // k caps the output
    assert(TextAnalysis.topCollocations(docs, "text", 1, 2).count() === 2)
  }

  test("buildPostings: positions, tf, df, and the minDf cut") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val all = TextAnalysis.buildPostings(docs, "doc_id", "text")
      .as[(String, Long, Long, String, Long)].collect().toSet
    assert(all === Set(
      ("a", 1L, 2L, "0,2", 1L),
      ("b", 1L, 1L, "1", 2L), ("b", 2L, 1L, "0", 2L),
      ("c", 2L, 1L, "1", 1L)))
    val cut = TextAnalysis.buildPostings(docs, "doc_id", "text", minDf = 2)
      .as[(String, Long, Long, String, Long)].collect().toSet
    assert(cut.map(_._1) === Set("b"))
    // double-digit positions must sort numerically, not lexically
    val long = Seq((1L, ("t " * 12).trim)).toDF("doc_id", "text")
    val pos = TextAnalysis.buildPostings(long, "doc_id", "text")
      .as[(String, Long, Long, String, Long)].collect().head
    assert(pos._4 === "0,1,2,3,4,5,6,7,8,9,10,11")
  }

  test("keywordInContext: hits with clamped windows; exact-token matching") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox likes the lazy dog"),
      (2L, "The. start")).toDF("doc_id", "text")
    val got = TextAnalysis.keywordInContext(docs, "doc_id", "text",
        "the", window = 2)
      .as[(Long, Int, String)].collect().toSet
    // doc 1: pos 0 (left-clamped) and pos 5; doc 2: "the." is NOT "the"
    assert(got === Set(
      (1L, 0, "the quick brown"),
      (1L, 5, "fox likes the lazy dog")))
  }

  test("readability: hand-computed FK grade; empty doc null") {
    import spark.implicits._
    // "the cat sat. it ran!" -> words 5, sentences 2, syllables:
    // e,a,a,i,a -> 5 groups; grade = .39*2.5 + 11.8*1 - 15.59 = -2.815
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "  "))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 5L, 2L, 5L, Some(-2.815))))
    assert(got(2L) === ((2L, 0L, 1L, 0L, None)))
  }

  test("rakeKeywords: hand-scored phrases, punctuation/stopword breaks, length cap") {
    import spark.implicits._
    // corpus word stats (phrases break at 'of', 'the', and ','):
    //   deep     freq 2  deg 4  → score 2.0
    //   learning freq 2  deg 4  → score 2.0
    //   networks freq 1  deg 2  → score 2.0
    //   machine  freq 2  deg 3  → score 1.5
    val docs = Seq(
      (1L, "deep learning of deep networks"),
      (2L, "machine learning, the machine"),
      (3L, "alpha beta gamma delta epsilon"), // 5 tokens > cap → dropped
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(docs, "text", k = 10)
      .as[(String, Int, Long, Double)].collect()
    assert(got.map(_._1).toSeq === Seq(
      "deep learning", "deep networks", "machine learning", "machine"))
    val byPhrase = got.map(r => r._1 -> r).toMap
    assert(byPhrase("deep learning") === (("deep learning", 2, 1L, 4.0)))
    assert(byPhrase("deep networks") === (("deep networks", 2, 1L, 4.0)))
    assert(byPhrase("machine learning") ===
      (("machine learning", 2, 1L, 3.5)))
    assert(byPhrase("machine") === (("machine", 1, 1L, 1.5)))
    assert(!got.exists(_._1.contains("alpha")))
    // k truncates on the (score desc, phrase asc) total order
    val top2 = TextAnalysis.rakeKeywords(docs, "text", k = 2)
      .as[(String, Int, Long, Double)].collect().map(_._1).toSeq
    assert(top2 === Seq("deep learning", "deep networks"))
  }

  test("zipfFit: exact power-law corpus recovers slope -1, guards degenerate fits") {
    import spark.implicits._
    // freq(r) = 12/r at ranks 1..4 → ln f = ln 12 − ln r: a PERFECT
    // line, so OLS must return slope −1, r² = 1, intercept ln 12
    val doc = ("a " * 12 + "b " * 6 + "c " * 4 + "d " * 3).trim
    val docs = Seq(doc).toDF("text")
    val got = TextAnalysis.zipfFit(docs, "text", topN = 10)
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(got._1 === 4L)
    assert(got._2 === Some(-1.0) && got._4 === Some(1.0))
    assert(got._3 === Some(math.rint(math.log(12.0) * 1e4) / 1e4))
    // topN restricts the fit to the head
    val head2 = TextAnalysis.zipfFit(docs, "text", topN = 2)
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(head2._1 === 2L && head2._2.isDefined)
    // single-token corpus: one point, no line — NULL fit, not a crash
    val one = TextAnalysis.zipfFit(Seq("x x x").toDF("text"), "text")
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(one._1 === 1L && one._2.isEmpty && one._3.isEmpty && one._4.isEmpty)
    intercept[IllegalArgumentException] {
      TextAnalysis.zipfFit(docs, "text", topN = 1)
    }
  }

  test("chi2TokenSelection: hand 2x2 chi2, distinct presence, marginal guards") {
    import spark.implicits._
    // 4 docs: "hot" in both positives, neither negative -> a=2 b=0
    // c=0 d=2: chi2 = 4*(4-0)^2/(2*2*2*2) = 4 exactly. "the" in all
    // four -> a zero marginal (b+d... c+d=0? a=2 b=2 c=0 d=0) -> NULL.
    // repeated token in one doc counts ONCE (distinct presence).
    val docs = Seq(
      ("hot hot the", true), ("hot the", true),
      ("cold the", false), ("cold the", false)).toDF("text", "y")
    val got = TextAnalysis.chi2TokenSelection(docs, "text", "y",
        minDocFreq = 1L)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("hot") === ((2L, 0L, Some(4.0))))
    assert(got("cold") === ((0L, 2L, Some(4.0))))
    assert(got("the") === ((2L, 2L, None))) // c+d = 0 marginal
    // minDocFreq filters rare tokens out entirely
    val rare = TextAnalysis.chi2TokenSelection(docs, "text", "y",
        minDocFreq = 3L)
      .as[(String, Long, Long, Option[Double])].collect().map(_._1).toSet
    assert(rare === Set("the")) // df: hot=2, cold=2, the=4
  }

  test("heapsFit: hand three-doc curve, flat-vocab degenerate, single point") {
    import spark.implicits._
    // docs (corpus order by id): "a b" / "a c" / "a b c d"
    // D = 3 -> checkpoints {3, 2, 1}; T = (2, 4, 8), V = (2, 3, 4)
    // OLS over (ln T, ln V): x devs (-ln2, 0, ln2), the y-mean cancels
    // -> num = ln2*(ln4-ln2) = ln2², den = 2·ln2² -> beta = 0.5 exactly
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c d"))
      .toDF("id", "text")
    val r = TextAnalysis.heapsFit(docs, "text", "id")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(r._1 === 3L)
    assert(r._2 === Some(0.5))
    assert(r._3.isDefined && r._4.exists(v => v > 0 && v <= 1))
    // empty second doc: T stalls at (1, 1) -> zero x-variance -> NULL
    val flat = Seq((1L, "a"), (2L, "")).toDF("id", "text")
    val f = TextAnalysis.heapsFit(flat, "text", "id")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(f._1 === 2L && f._2.isEmpty)
    // single doc -> one checkpoint -> no line to fit
    val one = Seq((1L, "a b")).toDF("id", "text")
    val o = TextAnalysis.heapsFit(one, "text", "id")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(o._1 === 1L && o._2.isEmpty)
    // maxPoints past 63 would wrap the 1L << j halving shift: fail loud
    val g = intercept[IllegalArgumentException] {
      TextAnalysis.heapsFit(docs, "text", "id", maxPoints = 64)
    }
    assert(g.getMessage.contains("63"))
  }

  test("textrankKeywords: symmetric pair parity, hub outranks leaves, minCount") {
    import spark.implicits._
    // two tokens co-occurring only with each other -> identical rank 1.0
    val pair = Seq("a b a b").toDF("text")
    val p = TextAnalysis.textrankKeywords(pair, "text", minCount = 1L)
      .as[(String, Double)].collect().toMap
    assert(p === Map("a" -> 1.0, "b" -> 1.0))
    // a hub adjacent to three leaves outranks every leaf
    val hub = Seq("hub x hub y hub z").toDF("text")
    val h = TextAnalysis.textrankKeywords(hub, "text", minCount = 1L)
      .as[(String, Double)].collect().toMap
    assert(h.keySet === Set("hub", "x", "y", "z"))
    assert(h("hub") > h("x") && h("hub") > h("y") && h("hub") > h("z"))
    assert(math.abs(h.values.sum - 4.0) < 1e-3) // normalized x N mass
    // minCount prunes rare pairs (every pair here occurs once)
    assert(TextAnalysis.textrankKeywords(hub, "text", minCount = 2L)
      .count() === 0)
  }

  test("piiReport: hand-planted counts per type; null text counts zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("mail a@b.co and c.d@e.org plus ip 10.0.0.1")),
      (2L, Some("ssn 123-45-6789 phone 555-123-4567 again 555.123.4567")),
      (3L, Some("card 4111111111111111 nothing else")),
      (4L, Some("clean document")),
      (5L, Option.empty[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiReport(docs, "text")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(
      "email" -> ((2L, 1L)), "ipv4" -> ((1L, 1L)), "ssn" -> ((1L, 1L)),
      "phone" -> ((2L, 1L)), "card16" -> ((1L, 1L))))
  }

  test("piiRedact: every match tagged in documented order, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write a@b.co or call 555-123-4567"),
      (2L, "untouched words only")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(docs, "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out(1L) === "write [EMAIL] or call [PHONE]")
    assert(out(2L) === "untouched words only")
    intercept[IllegalArgumentException] {
      TextAnalysis.piiRedact(docs.withColumn("clean_text", lit("x")), "text")
    }
  }

  test("bm25Scores: hand corpus matches the formula bit-for-bit; no-match docs absent") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "cat fish"), (11L, "unseen")).toDF("query_id", "qtext")
    val got = TextAnalysis.bm25Scores(docs, qs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // N = 3, avgdl = 2.0; idf(cat) = ln(1 + 1.5/2.5), idf(fish) = ln(1 + 2.5/1.5)
    val idfCat = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    val idfFish = math.log(1.0 + (3.0 - 1 + 0.5) / (1 + 0.5))
    def sc(idf: Double, tf: Double, len: Double): Double =
      idf * tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / 2.0))
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
    // d1: cat only (tf 1, len 2); d2: cat (tf 2) then fish (tf 1), len 3,
    // folded in term order cat -> fish
    assert(got((10L, 1L)) === ((1L, r4(sc(idfCat, 1, 2)))))
    assert(got((10L, 2L)) ===
      ((2L, r4(sc(idfCat, 2, 3) + sc(idfFish, 1, 3)))))
    assert(got.keySet === Set((10L, 1L), (10L, 2L))) // bird + unseen absent
    // empty-text docs count in N and avgdl (len 0) but never match:
    // N 3 -> 4 changes idf and avgdl for every score
    val docs4 = docs.unionAll(Seq((4L, "")).toDF("doc_id", "text"))
    val g4 = TextAnalysis.bm25Scores(docs4, qs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val idfCat4 = math.log(1.0 + (4.0 - 2 + 0.5) / (2 + 0.5))
    val avgdl4 = 6.0 / 4.0
    def sc4(idf: Double, tf: Double, len: Double): Double =
      idf * tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avgdl4))
    assert(g4((10L, 1L)) === r4(sc4(idfCat4, 1, 2)))
    assert(!g4.keySet.exists(_._2 == 4L))
    // NULL-text docs are excluded from the corpus entirely (unlike
    // empty text): N and avgdl are unchanged vs the 3-doc corpus —
    // the DuckDB oracle filters text IS NOT NULL, so both engines
    // must agree on the corpus definition
    val docsNull = docs.unionAll(
      Seq(5L).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
    val gNull = TextAnalysis.bm25Scores(docsNull, qs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(gNull === got)
  }

  test("lexicalDiversity: hand TTR/root-TTR; template text scores low; " +
      "empty text NULL") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(docs)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 4L, Some(1.0), Some(2.0))))
    assert(got(2L) === ((2L, 4L, 1L, Some(0.25), Some(0.5))))
    assert(got(3L) === ((3L, 0L, 0L, None, None)))
    // the boilerplate signal: repeated template scores strictly lower
    assert(got(2L)._4.get < got(1L)._4.get)
  }

  test("lmDirichletScores: hand corpus matches the rank-equivalent " +
      "decomposition bit-for-bit; null-text excluded; unmatched absent") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "cat fish"), (11L, "unseen")).toDF("query_id", "qtext")
    val mu = 2.0
    val got = TextAnalysis.lmDirichletScores(docs, qs, mu = mu)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // T = 6 tokens, cf(cat) = 3, cf(fish) = 1, |q| = 2 distinct terms
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
    def contrib(tf: Double, cf: Double): Double =
      math.log(1.0 + (tf * 6.0) / (mu * cf))
    def lenTerm(len: Double): Double = 2.0 * math.log(mu / (len + mu))
    assert(got((10L, 1L)) === ((1L, r4(contrib(1, 3) + lenTerm(2)))))
    assert(got((10L, 2L)) ===
      ((2L, r4(contrib(2, 3) + contrib(1, 1) + lenTerm(3)))))
    assert(got.keySet === Set((10L, 1L), (10L, 2L))) // bird + unseen absent
    // longer docs pay the length normalizer: same matched terms, the
    // length term strictly decreases with |d|
    assert(got((10L, 2L))._2 < contrib(2, 3) + contrib(1, 1))
    // null-text exclusion (the bm25Scores corpus contract)
    val docsNull = docs.unionAll(Seq(5L).toDF("doc_id")
      .select(col("doc_id"), lit(null).cast("string").as("text")))
    val gNull = TextAnalysis.lmDirichletScores(docsNull, qs, mu = mu)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(gNull === got)
  }

  test("buildBm25Index + bm25ScoresFromIndex: probe bit-matches the " +
      "direct scorer; rebuild swaps generations; probe-term guard") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "cat fish"), (11L, "unseen")).toDF("query_id", "qtext")
    withTempDir("graft-bm25") { tmp =>
      val dest = Files.createDirectory(tmp.resolve("bm25")).toString
      TextAnalysis.buildBm25Index(docs, dest, shards = 2)
      assert(new java.io.File(s"$dest/gen-1/COMMITTED").exists())
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long, Double)].collect().sorted.toSeq
      val direct = rows(TextAnalysis.bm25Scores(docs, qs))
      val probed = rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs))
      assert(probed === direct && probed.nonEmpty)
      // REBUILD on a grown corpus lands in gen-2, CURRENT swings, and
      // probes resolve the new generation — scores track the new corpus
      val docs4 = docs.unionAll(Seq((4L, "cat bird bird")).toDF("doc_id", "text"))
      TextAnalysis.buildBm25Index(docs4, dest, shards = 2)
      assert(new java.io.File(s"$dest/gen-2/COMMITTED").exists())
      val probed4 = rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs))
      assert(probed4 === rows(TextAnalysis.bm25Scores(docs4, qs)))
      assert(probed4 !== probed) // N/avgdl moved: the swap is observable
      // the probe plan reads index files only — never the corpus frame
      // (executedPlan carries FileScan locations; optimizedPlan elides them)
      val plan = TextAnalysis.bm25ScoresFromIndex(spark, dest, qs)
        .queryExecution.executedPlan.toString
      assert(plan.contains("postings") && plan.contains("doclens"), plan)
      // APPEND a delta into the live generation: probes on the grown
      // store bit-match the direct scorer on the union corpus — stats
      // derive from doclens, so no staleness window exists
      val delta = Seq((9L, "fish fish cat")).toDF("doc_id", "text")
      assert(TextAnalysis.appendToBm25Index(delta, dest) === 1L)
      val docs5 = docs4.unionAll(delta)
      assert(rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs)) ===
        rows(TextAnalysis.bm25Scores(docs5, qs)))
      // appending to a store that was never built fails loud
      intercept[IllegalArgumentException] {
        TextAnalysis.appendToBm25Index(delta,
          Files.createDirectory(tmp.resolve("bm25-none")).toString)
      }
      // ONE index serves BOTH retrieval models: the Dirichlet LM probe
      // over the same store bit-matches the direct LM scorer on the
      // union corpus (cf = per-term tf sum over the pruned postings)
      def lmRows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(lmRows(TextAnalysis.lmDirichletFromIndex(spark, dest, qs)) ===
        lmRows(TextAnalysis.lmDirichletScores(docs5, qs)))
      // probe-term bound fails loud with the split/raise escape
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.bm25ScoresFromIndex(spark, dest, qs, maxProbeTerms = 2)
      }
      assert(e.getMessage.contains("maxProbeTerms"))
    }
  }

  test("appendToBm25Index mid-append visibility: a probe between the " +
      "postings write and the doclens write scores the OLD corpus " +
      "consistently (no half-visible delta)") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "cat fish")).toDF("query_id", "qtext")
    withTempDir("graft-bm25-mid") { dir =>
      val dest = dir.toString
      TextAnalysis.buildBm25Index(docs, dest, shards = 2)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Long, Double)].collect().sorted.toSeq
      val before = rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs))
      val lmBefore = rows(TextAnalysis.lmDirichletFromIndex(spark, dest, qs))
      // simulate EXACTLY the state a concurrent probe can observe during
      // appendToBm25Index: the delta's postings fully committed (the
      // append writes postings FIRST), its doclens not yet visible
      val delta = Seq((9L, "fish fish cat")).toDF("doc_id", "text")
      val base = delta.select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("__toks"))
      val live = s"$dest/gen-1"
      base.select(col("doc_id"), explode(col("__toks")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .write.mode("append").parquet(s"$live/postings")
      // mid-append probes are BIT-IDENTICAL to the pre-append probes:
      // docs without a doclens row are invisible to df, cf, N/avgdl/T,
      // AND the scoring join — the old corpus, scored consistently
      assert(rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs))
        === before)
      assert(rows(TextAnalysis.lmDirichletFromIndex(spark, dest, qs))
        === lmBefore)
      // completing the append (doclens lands) atomically flips every
      // probe to the union corpus, matching the direct scorers
      base.select(col("doc_id"), size(col("__toks")).cast("long").as("len"))
        .write.mode("append").parquet(s"$live/doclens")
      val union = docs.unionAll(delta)
      assert(rows(TextAnalysis.bm25ScoresFromIndex(spark, dest, qs))
        === rows(TextAnalysis.bm25Scores(union, qs)))
      assert(rows(TextAnalysis.lmDirichletFromIndex(spark, dest, qs))
        === rows(TextAnalysis.lmDirichletScores(union, qs)))
    }
  }

  test("skipGramPairs: hand counts, posexplode-replica parity, quirk") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.skipGramPairs(docs, "text", window = 2)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // forward pairs per doc: (a,b) (a,c) (b,c) (b,d) (c,d), mirrored;
    // two identical docs double every count; "x" has no pairs
    val fwd = Seq("a" -> "b", "a" -> "c", "b" -> "c", "b" -> "d",
      "c" -> "d")
    val expect = (fwd ++ fwd.map(_.swap)).map(_ -> 2L).toMap
    assert(got === expect)
    // minCount prunes below the floor
    assert(TextAnalysis.skipGramPairs(docs, "text", 2, minCount = 3L)
      .count() === 0L)
    // parity with a posexplode + positional-self-join replica on text
    // with mixed case, runs of whitespace, and a leading tab (Java
    // split's leading-empty-token quirk — the SQL-replica contract)
    val messy = Seq((1L, "\tThe  quick\nbrown fox"), (2L, "one two"),
      (3L, " "), (4L, "solo")).toDF("doc_id", "text")
    val pos = messy.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+"))
          .as(Seq("p", "tok")))
    val fwdRep = pos.as("a").join(pos.as("b"),
      col("a.doc_id") === col("b.doc_id") &&
        col("b.p") > col("a.p") && col("b.p") <= col("a.p") + 2)
    val replica = fwdRep
      .select(col("a.tok").as("center"), col("b.tok").as("context"))
      .union(fwdRep
        .select(col("b.tok").as("center"), col("a.tok").as("context")))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    val got2 = TextAnalysis.skipGramPairs(messy, "text", window = 2)
      .as[(String, String, Long)].collect().toSet
    assert(got2 === replica)
    // the quirk is pinned: a leading tab yields an empty center token
    assert(got2.exists { case (c, x, _) => c == "" && x == "the" })
  }

  test("termSimilarityDimsum: exact path equals brute cosine; sampled " +
      "path bit-matches an in-JVM md5 replay") {
    import spark.implicits._
    // 6 docs: df(a)=4 (1-4), df(b)=4 (1,2,4,6), df(c)=3 (1,3,5),
    // df(d)=2 (3,4); co-docs: ab=3, ac=2, bc=1, ad=2, bd=1, cd=1
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "a c d"),
      (4L, "a b d"), (5L, "c x? no"), (6L, "b z"))
      .toDF("doc_id", "text")
    // wide gamma -> every pair exact: cosine = co/(sqrt(dfa)sqrt(dfb))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exact = TextAnalysis.termSimilarityDimsum(docs, "doc_id", "text",
      gamma = 100.0, minSim = 0.0, minDf = 2L)
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    def cos(co: Long, da: Long, dbb: Long) =
      r6((co * 1e6).toLong.toDouble / 1e6 /
        (math.sqrt(da.toDouble) * math.sqrt(dbb.toDouble)))
    assert(exact(("a", "b"))._6 === cos(3, 4, 4) &&
      exact(("a", "b"))._7 === true)
    assert(exact(("a", "c"))._6 === cos(2, 4, 3))
    assert(exact(("b", "c"))._6 === cos(1, 4, 3))
    assert(exact(("c", "d"))._6 === cos(1, 3, 2))
    assert(!exact.contains(("a", "x?"))) // hapax pruned by minDf
    // tight gamma -> the (a, b) pair samples; replay the coin in-JVM
    val g = 1.5
    val got = TextAnalysis.termSimilarityDimsum(docs, "doc_id", "text",
      gamma = g, minSim = 0.0, minDf = 2L)
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def replay(ta: String, dfa: Long, tb: String, dfb: Long,
               coDocs: Seq[Long]): Option[(Long, Double)] = {
      val p = math.min(1.0,
        g / (math.sqrt(dfa.toDouble) * math.sqrt(dfb.toDouble)))
      val thr = "%08x".format(
        math.min(math.round(p * 4294967296.0), 4294967295L))
      val kept = coDocs.filter(d =>
        p >= 1.0 || md5hex(s"$d:$ta:$tb").substring(0, 8) < thr)
      if (kept.isEmpty) None
      else {
        val micro = kept.size.toLong * math.round(1e6 / p)
        Some((kept.size.toLong, r6(micro.toDouble / 1e6 /
          (math.sqrt(dfa.toDouble) * math.sqrt(dfb.toDouble)))))
      }
    }
    val ab = replay("a", 4, "b", 4, Seq(1L, 2L, 4L))
    got.get(("a", "b")) match {
      case Some(r) =>
        assert(ab === Some((r._5, r._6)), "kept count + cosine replay")
        assert(!r._7, "sampled pair must not claim exactness")
      case None => assert(ab.isEmpty, "coin dropped all co-occurrences")
    }
    // the df band prunes: minDf = 3 removes every pair involving d
    val banded = TextAnalysis.termSimilarityDimsum(docs, "doc_id",
      "text", gamma = 100.0, minSim = 0.0, minDf = 3L)
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect()
    assert(banded.map(r => (r._1, r._2)).toSet ===
      Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("termSimilarityDimsum: df recomputed POST-cap, so truncated " +
      "docs' cosines are exact for the capped corpus (not biased low " +
      "against a pre-cap denominator)") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // maxTermsPerDoc = 2 truncates doc1's term list [a,b,c] to [a,b]
    // (rank by term); true df: a=2 b=3 c=2; POST-cap df: a=2 b=3 c=1
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "b c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.termSimilarityDimsum(docs, "doc_id", "text",
      gamma = 100.0, minSim = 0.0, minDf = 1L, maxTermsPerDoc = 2)
      .as[(String, String, Long, Long, Long, Double, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // pair (b,c) survives only in doc3; with PRE-cap df(c) = 2 the
    // cosine would read 1/(sqrt 3 * sqrt 2) = 0.408248 while flagged
    // exact — the ADVICE-cited bias. Post-cap df(c) = 1 makes it the
    // true capped-corpus cosine 1/sqrt(3)
    val bc = got(("b", "c"))
    assert((bc._3, bc._4) === ((3L, 1L)), "post-cap df")
    assert(bc._6 === r6(1.0 / math.sqrt(3.0)))
    assert(bc._7 === true) // and exact is now honest by construction
    // (a,b) co-occurs in doc1 (capped but keeps both) and doc2
    val ab = got(("a", "b"))
    assert((ab._3, ab._4, ab._5) === ((2L, 3L, 2L)))
    assert(ab._6 === r6(2.0 / (math.sqrt(2.0) * math.sqrt(3.0))))
    // the capped-out pair (a,c) forms in no capped doc: absent
    assert(!got.contains(("a", "c")))
  }

  test("rm3ExpandQueries: hand mixture on an equal-score feedback " +
      "pair; no-match query expands to its own scaled terms; caps") {
    import spark.implicits._
    // two IDENTICAL docs match 'apple' with equal bm25 -> w(d) = 1/2
    // each; p(apple|R) = 2·(1/2·1/2) = 1/2 = p(banana|R);
    // p(apple|q) = 1 -> rm3(apple) = .5·1 + .5·.5 = 0.75,
    // rm3(banana) = 0.25; 'zebra yak' never matches -> absent
    val docs = Seq((1L, "apple banana"), (2L, "apple banana"),
      (3L, "zebra yak")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple"), (2L, "nomatch")).toDF("query_id", "qtext")
    val got = TextAnalysis.rm3ExpandQueries(docs, qs,
      fbDocs = 2, fbTerms = 8, alpha = 0.5)
      .as[(Long, String, Double, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._4) }
    assert(got(1L).map(r => (r._2, r._3, r._4)).toSeq === Seq(
      ("apple", 0.75, 1), ("banana", 0.25, 2)))
    // the no-match query still expands: (1-alpha)·p(t|q) = 0.5·1
    assert(got(2L).map(r => (r._2, r._3, r._4)).toSeq === Seq(
      ("nomatch", 0.5, 1)))
    // fbTerms caps the expansion; ordering ties break by term
    val capped = TextAnalysis.rm3ExpandQueries(docs, qs,
      fbDocs = 2, fbTerms = 1, alpha = 0.5)
      .as[(Long, String, Double, Int)].collect()
    assert(capped.count(_._1 == 1L) === 1 &&
      capped.find(_._1 == 1L).get._2 === "apple")
    // alpha = 0: pure query model regardless of feedback
    val a0 = TextAnalysis.rm3ExpandQueries(docs, qs, fbDocs = 2,
      fbTerms = 8, alpha = 0.0)
      .as[(Long, String, Double, Int)].collect()
      .filter(r => r._1 == 1L && r._3 > 0.0)
    assert(a0.map(_._2).toSeq === Seq("apple") && a0.head._3 === 1.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.rm3ExpandQueries(docs, qs, alpha = 1.5)
    }
  }

  test("rm3ExpandQueriesFromIndex: bit-equal to the direct expander " +
      "on the same corpus; feedback-id gate fails loud") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana cherry"), (2L, "apple banana"),
      (3L, "banana date elder"), (4L, "zebra yak apple"),
      (5L, "cherry cherry date")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple cherry"), (2L, "banana"), (3L, "nomatch"))
      .toDF("query_id", "qtext")
    val direct = TextAnalysis.rm3ExpandQueries(docs, qs,
      fbDocs = 3, fbTerms = 6, alpha = 0.5)
      .as[(Long, String, Double, Int)].collect().sortBy(r => (r._1, r._4))
    withTempDir("graft-rm3-spec") { dir =>
      val dest = dir.toString
      TextAnalysis.buildBm25Index(docs, dest)
      val indexed = TextAnalysis.rm3ExpandQueriesFromIndex(spark, dest, qs,
        fbDocs = 3, fbTerms = 6, alpha = 0.5)
        .as[(Long, String, Double, Int)].collect().sortBy(r => (r._1, r._4))
      // shared epilogue + identical feedback stats => identical BITS
      assert(indexed.toSeq === direct.toSeq)
      intercept[IllegalArgumentException] {
        TextAnalysis.rm3ExpandQueriesFromIndex(spark, dest, qs,
          fbDocs = 3, maxFeedbackIds = 2)
      }
    }
  }

  test("rm3ExpandQueries: zero feedback mass (scores round to 0 at " +
      "4dp) falls back to the (1-alpha)-scaled query model, no NaN") {
    import spark.implicits._
    // 'common' appears in EVERY one of 20k docs: idf = ln(1 + .5/
    // (N+.5)) ~ 2.5e-5, score rounds to 0.0000 -> s4 = 0, stot = 0 —
    // the unguarded w(d) division would be 0/0 = NaN and NaN ranks
    // FIRST under the desc sort
    val docs = (1L to 20000L).map(i => (i, "common")).toDF("doc_id", "text")
    val qs = Seq((1L, "common")).toDF("query_id", "qtext")
    val got = TextAnalysis.rm3ExpandQueries(docs, qs,
      fbDocs = 2, fbTerms = 4, alpha = 0.5)
      .as[(Long, String, Double, Int)].collect()
    assert(got.length === 1)
    assert(got.head === ((1L, "common", 0.5, 1)), got.head.toString)
    assert(!got.head._3.isNaN)
  }

  test("termBurstiness: exact moment ratio over the whole corpus " +
      "(zeros included); minDf prunes") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N = 3; a: counts {2,1} -> VMR = (3·5 − 9)/(3·3) = 2/3;
    // b: counts {1,4} -> (3·17 − 25)/(3·5) = 26/15; c: hapax
    val docs = Seq((1L, "a a b"), (2L, "a"), (3L, "b b b b c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.termBurstiness(docs, "doc_id", "text",
      minDf = 1L)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 2L, 3L, r6(2.0 / 3.0))))
    assert(got("b") === (("b", 2L, 5L, r6(26.0 / 15.0))))
    assert(got("c") === (("c", 1L, 1L, r6(2.0 / 3.0)))) // (3−1)/3
    // minDf = 2 prunes the hapax
    assert(!TextAnalysis.termBurstiness(docs, "doc_id", "text", 2L)
      .as[(String, Long, Long, Double)].collect().exists(_._1 == "c"))
    // an exact-copy boilerplate term (1 per doc) reads VMR = 0:
    // variance of a constant is zero — the chrome signature
    val chrome = Seq((1L, "menu x"), (2L, "menu y"), (3L, "menu z"))
      .toDF("doc_id", "text")
    val gm = TextAnalysis.termBurstiness(chrome, "doc_id", "text", 3L)
      .as[(String, Long, Long, Double)].collect().head
    assert(gm === (("menu", 3L, 3L, 0.0)))
  }

  test("termBurstiness + corpusJsDivergence: randomized parity vs " +
      "brute references on small random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(97531)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vocab = Seq("aa", "bb", "cc", "dd", "ee")
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(20)
      val docs = (1 to n).map { i =>
        (i.toLong, (1 to (1 + rnd.nextInt(12)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val counts = docs.flatMap { case (id, t) =>
        t.split("\\s+").map(w => (w, id))
      }
      val got = TextAnalysis.termBurstiness(df, "doc_id", "text", 1L)
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
      vocab.filter(w => counts.exists(_._1 == w)).foreach { w =>
        val perDoc = counts.filter(_._1 == w).groupBy(_._2)
          .map(_._2.size.toLong)
        val df_ = perDoc.size.toLong
        val tf = perDoc.sum
        val c2 = perDoc.map(c => c * c).sum
        val vmr = (n * c2 - tf * tf).toDouble / (n * tf).toDouble
        val r = got(w)
        assert(r._2 === df_ && r._3 === tf, s"trial $trial $w")
        assert(r._4 === r6(vmr), s"trial $trial $w vmr")
      }
      // JS reference: brute distributions over the split halves
      val aSide = docs.filter(_._1 % 2 == 0)
      val bSide = docs.filter(_._1 % 2 == 1)
      if (aSide.nonEmpty && bSide.nonEmpty) {
        def dist(ds: Seq[(Long, String)]): Map[String, Long] =
          ds.flatMap(_._2.split("\\s+")).groupBy(identity)
            .map { case (w, xs) => w -> xs.size.toLong }
        val (ca, cb) = (dist(aSide), dist(bSide))
        val (ta, tb) = (ca.values.sum.toDouble, cb.values.sum.toDouble)
        val terms = (ca.keySet ++ cb.keySet).toSeq
        val jsRef = terms.map { w =>
          val p = ca.getOrElse(w, 0L) / ta
          val q = cb.getOrElse(w, 0L) / tb
          val m = (p + q) / 2.0
          (if (p > 0) p * math.log(p / m) else 0.0) +
            (if (q > 0) q * math.log(q / m) else 0.0)
        }.sum / 2.0
        val gjs = TextAnalysis.corpusJsDivergence(
          aSide.toDF("doc_id", "text"), bSide.toDF("doc_id", "text"),
          "text", 1L)
          .as[(Long, Long, Long, Option[Double], Option[Double])]
          .collect().head
        assert(gjs._1 === terms.size.toLong, s"trial $trial n_terms")
        assert(math.abs(gjs._4.get - r4(jsRef)) < 2e-4,
          s"trial $trial js ${gjs._4} vs $jsRef")
      }
    }
  }

  test("corpusJsDivergence: hand KL chains; identical corpora read 0; " +
      "disjoint vocabularies read ln 2 (js_norm = 1); empty side NULL") {
    import spark.implicits._
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val b = Seq((2L, "x y y")).toDF("doc_id", "text")
    // P=(2/3,1/3), Q=(1/3,2/3): JS = (2/3)ln(4/3) + (1/3)ln(2/3)
    val expect = (2.0 / 3.0) * math.log(4.0 / 3.0) +
      (1.0 / 3.0) * math.log(2.0 / 3.0)
    val got = TextAnalysis.corpusJsDivergence(a, b, "text", minCount = 1L)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(got._1 === 2L && got._2 === 3L && got._3 === 3L)
    assert(got._4 === Some(r4(expect)))
    // identical corpora: zero divergence
    val same = TextAnalysis.corpusJsDivergence(a, a, "text", 1L)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(same._4 === Some(0.0) && same._5 === Some(0.0))
    // disjoint vocabularies: the ln 2 ceiling, js_norm = 1
    val c = Seq((3L, "zz ww")).toDF("doc_id", "text")
    val dis = TextAnalysis.corpusJsDivergence(a, c, "text", 1L)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    // js_norm derives from the ALREADY-4dp-ROUNDED js (both engines
    // share that chain): 0.6931/ln2 rounds to 0.9999, not 1.0
    assert(dis._4 === Some(r4(math.log(2.0))) &&
      dis._5 === Some(r4(r4(math.log(2.0)) / math.log(2.0))))
    // an empty side is undefined -> NULL, never NaN
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val ge = TextAnalysis.corpusJsDivergence(a, empty, "text", 1L)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(ge._3 === 0L && ge._4 === None && ge._5 === None)
  }
}
