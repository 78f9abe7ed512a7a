package graft.operators

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  // perturb ONE of the 8 repeats: token-vote margins stay dominant for
  // simhash while ~4% of distinct 5-grams change for minhash/jaccard
  private val near = base.replaceFirst("lazy dog", "lazy cat")
  private val far = "completely different content about spark query engines " * 8

  test("exact dedup keeps min id and counts duplicates") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").orderBy("text")
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(("x", 1L, 2L), ("y", 2L, 1L)))
  }

  test("exactScalable returns exactly the same result as exact") {
    val df = Seq((3L, "x"), (1L, "x"), (2L, "y"), (9L, base), (8L, base),
      (7L, near)).toDF("doc_id", "text")
    val a = Dedup.exact(df, "text", "doc_id")
      .as[(String, Long, Long)].collect().toSet
    val b = Dedup.exactScalable(df, "text", "doc_id")
      .as[(String, Long, Long)].collect().toSet
    assert(a === b)
    assert(a.exists { case (_, id, n) => id == 8L && n == 2 })
  }

  test("exactNormalized collapses reordered/re-cased docs") {
    val df = Seq((5L, "Alpha beta GAMMA"), (9L, "gamma  alpha beta"),
      (7L, "delta epsilon")).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(df, "text", "doc_id")
    assert(out.count() === 2)
    assert(out.filter($"dup_count" === 2).select("doc_id").as[Long].head() === 5L)
  }

  test("minhash LSH finds planted near-dup and skips unrelated docs") {
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 > 0.5)
    // identical docs → estimate 1.0
    val ident = Dedup.minhashPairs(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].head()
    assert(ident._3 === 1.0)
  }

  test("simhash bands find near pairs within hamming budget") {
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    val identical = Dedup.simhashPairs(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 0).count()
    assert(identical === 1)
  }

  test("verifyJaccard computes exact n-gram overlap on candidates") {
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val verified = Dedup.verifyJaccard(cand, docs, "doc_id", "text")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().sortBy(_._2).toSeq
    assert(verified(0)._3 > 0.8)  // near pair: high exact jaccard
    assert(verified(1)._3 < 0.05) // far pair: tiny overlap
  }

  test("dedupe keeps one canonical row per near-dup component") {
    val df = Seq((1L, base), (2L, near), (3L, far), (4L, base + " x"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupe(df, "doc_id", "text", jaccardThreshold = 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1,2,4 are one component (near-identical); 3 survives alone
    assert(kept === Seq(1L, 3L))
  }

  test("decontaminate removes corpus docs leaked into the eval set (and only those)") {
    val corpus = Seq(
      (1L, base),                 // leaked verbatim into eval
      (2L, near),                 // near-dup of the leaked doc → contaminated too
      (3L, far),                  // clean
      (4L, "short unrelated doc about something else entirely " * 6)
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, base),               // copy of corpus doc 1
      (101L, "held-out benchmark question with its own content " * 6)
    ).toDF("doc_id", "text")
    val cleaned = Dedup.decontaminate(corpus, eval, "doc_id", "text",
      jaccardThreshold = 0.8)
    val kept = cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L, 4L)) // 1 exact leak, 2 near-dup of the leak
  }

  test("minhashPairs maxBucketSize skips degenerate buckets, keeps clean ones") {
    // 30 identical docs: every band bucket holds all 30 → all degenerate
    val clones = (1L to 30L).map(i => (i, base)).toDF("doc_id", "text")
    // plus a clean near-dup pair in its own buckets
    val pair = Seq((100L, far), (101L, far)).toDF("doc_id", "text")
    val all = clones.unionAll(pair)
    val uncapped = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5)
    assert(uncapped.count() === 30L * 29 / 2 + 1) // every clone pair + (100,101)
    val capped = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 10)
    val got = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((100L, 101L))) // clone buckets skipped, clean pair kept
  }

  test("ngramOverlapFlags catches partial containment whole-doc LSH misses") {
    val passage = "the secret benchmark answer is forty two exactly"
    val corpus = Seq(
      (1L, s"a long novel document that happens to quote $passage in the middle " +
        ("plus lots of its own original content " * 10)),
      (2L, far),
      (3L, "another clean document with nothing shared at all " * 8)
    ).toDF("doc_id", "text")
    val eval = Seq((100L, passage)).toDF("doc_id", "text")
    val flagged = Dedup.ngramOverlapFlags(corpus, eval, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet === Set(1L)) // quoting doc flagged, clean docs not
    assert(flagged(1L) >= 4L) // the 8-token passage spans ≥4 distinct 5-grams
  }

  test("crossMinhashPairs joins two corpora, never self-pairs") {
    val a = Seq((1L, base), (2L, far)).toDF("doc_id", "text")
    val b = Seq((10L, base)).toDF("doc_id", "text")
    val pairs = Dedup.crossMinhashPairs(a, b, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 10L)))
    assert(pairs.head._3 === 1.0)
  }

  test("assignCanonical propagates min label across a dup chain") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val labels = Dedup.assignCanonical(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 5L))
  }

  test("assignCanonical: driver union-find equals the distributed loop") {
    val ids = spark.range(0, 30).toDF("id")
    // chains, a merged pair of chains, and singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 10L)).toDF("id_a", "id_b")
    val fast = Dedup.assignCanonical(ids, pairs)
      .as[(Long, Long)].collect().toMap
    val loop = Dedup.assignCanonical(ids, pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast === loop)
    assert(fast(4L) === 1L)              // chain min
    assert(fast(20L) === 10L && fast(22L) === 10L) // merged components
    assert(fast(7L) === 7L)              // singleton identity
  }

  test("dedupChunks: first occurrence survives, later copies drop, docs rebuild in order") {
    // 2-token chunks: doc1 = [a b][c d], doc2 repeats [a b] then unique,
    // doc3 is a full copy of doc1, doc4 has an odd tail chunk, doc5 blank
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b c d"),
      (4L, "p q r"),
      (5L, "")).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 2)
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "a b c d",
      2L -> "x y",      // [a b] already seen in doc 1
      3L -> "",         // full duplicate collapses to empty
      4L -> "p q r",    // short tail chunk [r] kept as its own unit
      5L -> ""))
  }

  test("admitDelta: rejects corpus near-dups, collapses within-delta dups, admits novel") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different second document about spark catalyst plans")
    ).toDF("doc_id", "text")
    val delta = Seq(
      // near-copy of corpus doc 1 → rejected
      (10L, "the quick brown fox jumps over the lazy dog again and again today extra"),
      // two exact copies of a novel doc → one admitted (min id)
      (11L, "entirely novel material nothing like anything kept before in corpus"),
      (12L, "entirely novel material nothing like anything kept before in corpus"),
      // unique novel doc → admitted
      (13L, "another fresh unique document with its own vocabulary and phrasing")
    ).toDF("doc_id", "text")
    val admitted = Dedup.admitDelta(corpus, delta, "doc_id", "text",
        jaccardThreshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(11L, 13L))
  }

  test("removeRepeatedSpans: shifted cross-doc copy trimmed, first occurrence kept") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),           // contains A's [a b c d] shifted by 1
      (3L, "p q r p q r p q r"),     // within-doc triple repeat
      (4L, "completely unrelated words here")
    ).toDF("doc_id", "text")
    val rows = Dedup.removeRepeatedSpans(docs, "doc_id", "text", spanTokens = 3)
      .select("doc_id", "clean_text", "removed_tokens")
      .as[(Long, String, Long)].collect()
    val out = rows.map(r => r._1 -> r._2).toMap
    val removed = rows.map(r => r._1 -> r._3).toMap
    assert(out(1L) === "a b c d e f")  // first occurrence untouched
    // spans [a b c]@1 and [b c d]@2 repeat → merged [1,5) → x … y survive
    assert(out(2L) === "x y")
    // grams at pos 3..6 repeat → merged [3,9) → first period survives
    assert(out(3L) === "p q r")
    assert(out(4L) === "completely unrelated words here")
    assert(removed === Map(1L -> 0L, 2L -> 4L, 3L -> 6L, 4L -> 0L))
  }

  test("removeRepeatedSpans: published-granularity (50-token) mid-doc excerpt " +
      "cut exactly, novel frame survives") {
    // the Lee et al. 2022 shape: doc B embeds a 60-token MID-DOCUMENT
    // excerpt of doc A (tokens 11..70) between 10 novel tokens each
    // side; at spanTokens = 50 the 11 overlapping repeated 50-grams
    // must merge to ONE interval covering exactly the 60 shared
    // positions — the novel prefix/suffix and doc A stay verbatim
    val aToks = (1 to 120).map(i => s"w$i")
    val prefix = (1 to 10).map(i => s"np$i")
    val suffix = (1 to 10).map(i => s"ns$i")
    val excerpt = aToks.slice(10, 70) // tokens 11..70, 0-based slice
    val docs = Seq(
      (1L, aToks.mkString(" ")),
      (2L, (prefix ++ excerpt ++ suffix).mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        spanTokens = 50)
      .select("doc_id", "clean_text", "removed_tokens")
      .as[(Long, String, Long)].collect()
    val out = rows.map(r => r._1 -> r._2).toMap
    val removed = rows.map(r => r._1 -> r._3).toMap
    assert(out(1L) === aToks.mkString(" ")) // first occurrence untouched
    assert(out(2L) === (prefix ++ suffix).mkString(" "))
    assert(removed === Map(1L -> 0L, 2L -> 60L))
  }

  test("fellegiSunterWeights: hand m/u with add-half smoothing; score fold; " +
      "null = disagreement") {
    // 4 matches (3 agree on f1), 4 non-matches (1 agrees on f1);
    // f2 agrees everywhere on matches, never on non-matches
    val labeled = Seq(
      (true, Option(true), Option(true)), (true, Option(true), Option(true)),
      (true, Option(true), Option(true)), (true, Option(false), Option(true)),
      (false, Option(true), Option(false)), (false, Option(false), Option(false)),
      (false, Option(false), Option(false)), (false, Option.empty[Boolean], Option(false))
    ).toDF("is_match", "f1", "f2")
    val w = Dedup.fellegiSunterWeights(labeled, "is_match", Seq("f1", "f2"))
      .as[(String, Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    // f1: m = 3.5/5 = 0.7, u = 1.5/5 = 0.3 (the NULL row counts as
    // disagreement); weights ln(7/3), ln(3/7)
    assert(w("f1") === (("f1", 4L, 3L, 4L, 1L, 0.7, 0.3,
      r6(math.log(0.7 / 0.3)), r6(math.log(0.3 / 0.7)))))
    // f2: m = 4.5/5 = 0.9, u = 0.5/5 = 0.1
    assert(w("f2") === (("f2", 4L, 4L, 4L, 0L, 0.9, 0.1,
      r6(math.log(0.9 / 0.1)),
      r6(math.log((1.0 - 0.9) / (1.0 - 0.1))))))
    // scoring: fixed f1-then-f2 fold over the ROUNDED weights; a NULL
    // indicator scores as disagreement
    val weights = Dedup.fellegiSunterWeights(labeled, "is_match",
      Seq("f1", "f2"))
    val pairs = Seq((1L, Option(true), Option(true)),
      (2L, Option(false), Option(true)), (3L, Option.empty[Boolean], Option(false)))
      .toDF("pid", "f1", "f2")
    val got = Dedup.fellegiSunterScore(pairs, weights, Seq("f1", "f2"))
      .select("pid", "fs_score").as[(Long, Double)].collect().toMap
    val (w1a, w1d) = (r6(math.log(0.7 / 0.3)), r6(math.log(0.3 / 0.7)))
    val (w2a, w2d) = (r6(math.log(0.9 / 0.1)), r6(math.log(0.1 / 0.9)))
    assert(got === Map(1L -> r6(w1a + w2a), 2L -> r6(w1d + w2a),
      3L -> r6(w1d + w2d)))
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterScore(pairs, weights, Seq("nope"))
    }
  }

  test("minhashPlan: s-curve endpoints, monotonicity, threshold " +
      "crossing; unrolled powers match the closed form") {
    val got = Dedup.minhashPlan(spark, bands = 16, rowsPerBand = 8)
      .as[(Double, Double, Double)].collect().sortBy(_._1)
    assert(got.length === 19)
    // closed form at each grid point (tolerant compare: the spec's pow
    // vs the operator's unrolled chain may differ in the last ulp,
    // which 6dp rounding almost always absorbs)
    for ((s, p, _) <- got) {
      val expect = 1.0 - math.pow(1.0 - math.pow(s, 8), 16)
      assert(math.abs(p - expect) < 2e-6, s"s=$s")
    }
    // monotone non-decreasing, ~0 at s=0.05, ~1 at s=0.95
    assert(got.sliding(2).forall(w => w(0)._2 <= w(1)._2))
    assert(got.head._2 < 1e-6 && got.last._2 > 0.999)
    // threshold estimate (1/16)^(1/8) ≈ 0.7071, constant on all rows
    assert(got.map(_._3).distinct.length === 1)
    assert(math.abs(got.head._3 - 0.707107) < 1e-6)
    intercept[IllegalArgumentException] {
      Dedup.minhashPlan(spark, bands = 1000, rowsPerBand = 8)
    }
  }

  test("planBands: s-curve argmin over divisor splits; planned pairs " +
      "bit-match the explicit-knob call") {
    // 64-hash splits' implied thresholds: b=8 -> 0.7711, b=16 -> 0.5,
    // b=32 -> 0.1768 — the planner picks the nearest
    assert(Dedup.planBands(64, 0.5) === 16)
    assert(Dedup.planBands(64, 0.77) === 8)
    assert(Dedup.planBands(64, 0.18) === 32)
    // higher target threshold never yields MORE bands (s-curve
    // threshold decreases in b — the argmin tracks monotonically)
    val picks = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(Dedup.planBands(64, _))
    assert(picks.sliding(2).forall(w => w(0) >= w(1)))
    // tie-break to fewer bands (larger r): midpoint between two splits
    val b8 = Dedup.planBands(64, 0.77)
    assert(b8 === 8)
    intercept[IllegalArgumentException] { Dedup.planBands(64, 0.0) }
    intercept[IllegalArgumentException] { Dedup.planBands(0, 0.5) }
    // planner-default path delegates: bit-identical to the explicit
    // knobs it derives
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dot"),
      (3L, "completely different text with no shared shingles here"))
      .toDF("doc_id", "text")
    val planned = Dedup.minhashPairsPlanned(docs, "doc_id", "text",
      threshold = 0.5, numHashes = 64, shingleSize = 5)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val explicit = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(planned === explicit && planned.nonEmpty)
  }

  test("entityClusters: transitive closure of thresholded pair scores; " +
      "sub-threshold edges break chains") {
    val scored = Seq((1L, 2L, 5.0), (2L, 3L, 4.0), (3L, 4L, 0.5),
      (10L, 11L, 9.0)).toDF("id_a", "id_b", "fs_score")
    val got = Dedup.entityClusters(scored, "id_a", "id_b", "fs_score",
        threshold = 1.0)
      .as[(Long, Long, Long)].collect().toSet
    // 3–4 scores 0.5 < 1.0: the chain breaks there — {1,2,3} and
    // {10,11}; 4 has no passing edge and is a singleton (absent)
    assert(got === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("fellegiSunterEM: recovers a planted mixture without labels; " +
      "fixed-iteration determinism; guards") {
    // two planted classes of 1260 pairs each over PAIRWISE-COPRIME
    // moduli 9/7/5/4 — lcm 1260, so the four indicators are EXACTLY
    // independent within each class (coprimality is load-bearing:
    // shared factors, e.g. 10 and 5, make within-class indicators
    // dependent, the mixture's MLE drifts off the plant, and EM
    // "fails" to recover parameters it was never shown). K = 4 beats
    // K = 3 for the same reason in kind: at K = 3 the model is
    // SATURATED (7 params = 7 free pattern probabilities) and other
    // exact-fit solutions compete with the plant. Truth:
    // m = (8/9, 5/7, 0.8, 0.75), u = (1/9, 2/7, 0.2, 0.25), p = 0.5.
    val rows = (0 until 1260).map { i =>
      (i % 9 < 8, i % 7 < 5, i % 5 < 4, i % 4 < 3)
    } ++ (0 until 1260).map { i =>
      (i % 9 == 0, i % 7 < 2, i % 5 == 0, i % 4 == 0)
    }
    val fields = Seq("f1", "f2", "f3", "f4")
    val pairs = rows.toDF(fields: _*)
    val got = Dedup.fellegiSunterEM(pairs, fields, iters = 30)
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val truth = Map("f1" -> (8.0 / 9, 1.0 / 9), "f2" -> (5.0 / 7, 2.0 / 7),
      "f3" -> (0.8, 0.2), "f4" -> (0.75, 0.25))
    for ((f, (tm, tu)) <- truth) {
      assert(math.abs(got(f)._2 - tm) < 0.01, s"$f m: ${got(f)._2} vs $tm")
      assert(math.abs(got(f)._3 - tu) < 0.01, s"$f u: ${got(f)._3} vs $tu")
      assert(got(f)._4 > 0 && got(f)._5 < 0,
        s"$f weights must separate: ${got(f)}")
    }
    assert(math.abs(got("f1")._6 - 0.5) < 0.01, s"p: ${got("f1")._6}")
    // fixed iteration count → bit-identical reruns
    val again = Dedup.fellegiSunterEM(pairs, fields, iters = 30)
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(again === got)
    // NULL indicators count as disagreement (the weights convention):
    // an all-null field fits m = u = 0 and reports the clamp floor
    // instead of ±∞ weights
    val withNull = pairs.withColumn("f5",
      lit(null).cast("boolean"))
    val g5 = Dedup.fellegiSunterEM(withNull, fields :+ "f5", iters = 5)
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(g5("f5")._2 === 0.000001 && g5("f5")._3 === 0.000001)
    // guards: width bound, degenerate inits, iteration bounds
    intercept[IllegalArgumentException] {
      val wide = (1 to 17).foldLeft(pairs)((d, i) =>
        d.withColumn(s"x$i", lit(true)))
      Dedup.fellegiSunterEM(wide, (1 to 17).map(i => s"x$i"))
    }
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterEM(pairs, Seq("f1"), mInit = 0.5, uInit = 0.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterEM(pairs, Seq("f1"), iters = 0)
    }
  }

  test("fellegiSunterWeights: a field name containing a quote is data, " +
      "not SQL (typed melt, no expression injection)") {
    val labeled = Seq((true, Option(true)), (false, Option(false)))
      .toDF("is_match", "o'brien")
    val w = Dedup.fellegiSunterWeights(labeled, "is_match", Seq("o'brien"))
      .select("field", "n_match", "agree_match")
      .as[(String, Long, Long)].collect().toSeq
    assert(w === Seq(("o'brien", 1L, 1L)))
  }

  test("dedupChunks: within-doc repeated chunk keeps only the first") {
    val docs = Seq((7L, "a b a b c c")).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 2)
      .as[(Long, String)].collect().toMap
    assert(out === Map(7L -> "a b c c"))
  }

  test("dedupChunks: hashed-key path matches the text-keyed baseline exactly") {
    // a corpus mixing every shape at once: cross-doc dups, within-doc
    // dups, full-copy docs, odd tails, empties — the hashed-key +
    // collision-recheck path must be row-for-row identical to the
    // pre-hashing baseline that shuffles chunk text
    val docs = (0L until 60L).map { i =>
      val t = i % 6 match {
        case 0 => s"w${i % 7} x${i % 7} y z q r"   // shared leading chunk
        case 1 => "a b c d a b"                     // within-doc repeat
        case 2 => s"u$i v$i w$i"                    // unique + odd tail
        case 3 => "a b c d a b"                     // full copy of case-1 docs
        case 4 => ""                                // empty
        case _ => s"s${i / 6} t${i / 6} s${i / 6} t${i / 6}" // paired copies
      }
      (i, t)
    }.toDF("doc_id", "text")
    val hashed = Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 2)
      .as[(Long, String)].collect().toMap
    val textKeyed = Dedup.dedupChunksTextKeyed(docs, "doc_id", "text",
        chunkTokens = 2)
      .as[(Long, String)].collect().toMap
    assert(hashed === textKeyed)
    assert(hashed.size === 60)
  }

  test("dedupChunks rejects reserved column names like its siblings") {
    intercept[IllegalArgumentException] {
      Dedup.dedupChunks(Seq((1L, "a", "x")).toDF("doc_id", "text", "__idx"),
        "doc_id", "text", chunkTokens = 2)
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupChunks(Seq((1L, "a", "x")).toDF("doc_id", "text", "clean_text"),
        "doc_id", "text", chunkTokens = 2)
    }
  }

  test("dedupeByWinnow: near-copies collapse keep-first, distinct docs survive") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog todny"), // 1 edit
      (3L, "the quick brown fox jumps over the lazy dog today"), // exact copy
      (4L, "completely unrelated content with different words here"),
      (5L, "another standalone document nothing shared at all")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupeByWinnow(docs, "doc_id", "text", maxDist = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L)) // 2 and 3 fold into 1
    // maxDist 0: only the byte-identical pair merges
    val strict = Dedup.dedupeByWinnow(docs, "doc_id", "text", maxDist = 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(strict === Seq(1L, 2L, 4L, 5L))
  }

  test("winnowAdmitDelta: rejects near-corpus, admits novels, collapses " +
      "within-delta groups via the persisted index") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated content with different words here"),
      (3L, "another standalone document nothing shared at all")
    ).toDF("doc_id", "text")
    val delta = Seq(
      // 1 edit from corpus doc 1 → rejected at maxDist 2
      (10L, "the quick brown fox jumps over the lazy dog todny"),
      // novel pair, 1 edit apart → both survive the corpus screen,
      // collapse to the min id
      (11L, "fresh delta material covering a brand new topic entirely"),
      (12L, "fresh delta material covering a brand new topic entirelx"),
      // novel singleton → admitted
      (13L, "nothing in the corpus or the delta resembles this text at all")
    ).toDF("doc_id", "text")
    withTempDir("graft-winnow-idx") { dir =>
      Dedup.writeWinnowIndex(corpus, dir.toString, "doc_id", "text")
      val admitted = Dedup.winnowAdmitDelta(corpus, delta, dir.toString,
          "doc_id", "text", maxDist = 2)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(admitted === Seq(11L, 13L))
      // maxDist 0: the near-copy of doc 1 and the near-dup pair all
      // miss exact equality — everything admits
      val strict = Dedup.winnowAdmitDelta(corpus, delta, dir.toString,
          "doc_id", "text", maxDist = 0)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(strict === Seq(10L, 11L, 12L, 13L))
      // parity with the full pipeline's admission view: dedupeByWinnow
      // over corpus ∪ delta, restricted to delta ids whose canonical is
      // a delta id, keeps the same admitted set
      val full = Dedup.dedupeByWinnow(corpus.unionAll(delta),
          "doc_id", "text", maxDist = 2)
        .select("doc_id").as[Long].collect().toSet
      assert(full.filter(_ >= 10L) === admitted.toSet)
    }
  }

  test("verifyEditDistance: hand-computed distances, banded cap, missing ids") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"), // classic distance 3
      (3L, "kitten"),                  // exact copy of 1
      (4L, "completely different")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 99L))
      .toDF("id_a", "id_b")
    val out = Dedup.verifyEditDistance(docs, "doc_id", "text", pairs,
        maxDist = 3)
      .as[(Long, Long, Option[Int], Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out((1L, 2L)) === ((Some(3), true)))  // at the cap: kept
    assert(out((1L, 3L)) === ((Some(0), true)))  // identical
    assert(out((1L, 4L)) === ((None, false)))    // beyond cap: banded out
    assert(!out.contains((1L, 99L)))             // unknown id: dropped
    intercept[IllegalArgumentException] {
      Dedup.verifyEditDistance(docs, "doc_id", "text", pairs, maxDist = -1)
    }
  }

  test("winnowFingerprints: hand-derived selection on a tiny doc") {
    // k=2, w=2 over "a b c d": grams [a b, b c, c d] at pos 0,1,2;
    // windows [0,1],[1,2] → min-key winners; replicate the key rule here
    def key(gram: String, pos: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      md.take(16) + f"$pos%09d"
    }
    val grams = Seq("a b" -> 0, "b c" -> 1, "c d" -> 2)
    val expected = Seq(
      grams.take(2).map { case (g, p) => key(g, p) }.min,
      grams.drop(1).map { case (g, p) => key(g, p) }.min
    ).distinct.map(k => (k.take(16), k.drop(16).toInt)).toSet
    val out = Dedup.winnowFingerprints(
        Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text",
        k = 2, w = 2)
      .select("fp_hash", "fp_pos").as[(String, Int)].collect().toSet
    assert(out === expected)
  }

  test("winnowFingerprints: shared run of >= w+k-1 tokens shares a hash; " +
      "short docs degrade gracefully") {
    val docs = Seq(
      (1L, "xx yy the quick brown fox jumps zz ww"),
      (2L, "aa bb cc the quick brown fox jumps dd"), // shared 5-token run
      (3L, "totally different content here now"),
      (4L, "one two three"), // 1 gram (< w): global-min fallback
      (5L, "single"),    // < k tokens: no grams, no fingerprints
      (6L, "")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 3)
    val byDoc = fps.select("doc_id", "fp_hash").as[(Long, String)]
      .collect().groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    // guarantee: docs 1 and 2 share a 5-token run = w+k-1 → shared hash
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
    assert(byDoc(3L).intersect(byDoc(1L)).isEmpty)
    assert(byDoc(4L).size === 1)
    assert(!byDoc.contains(5L) && !byDoc.contains(6L))
  }

  test("similarityJoinExact == brute-force all-pairs Jaccard (recall 1.0)") {
    // word overlap engineered so pairs straddle the 0.5 threshold
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), // J(1,2) = 3/5 = 0.6
      (3L, "alpha beta zeta eta theta"), // J(1,3) = 2/7 < 0.5
      (4L, "alpha beta gamma delta"), // J(1,4) = 1.0, J(2,4) = 0.6
      (5L, "unrelated words entirely different"),
      (6L, "") // empty: excluded
    ).toDF("doc_id", "text")
    val got = Dedup.similarityJoinExact(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // brute-force reference over distinct word sets
    val sets = Map(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma epsilon",
      3L -> "alpha beta zeta eta theta", 4L -> "alpha beta gamma delta",
      5L -> "unrelated words entirely different")
      .view.mapValues(_.split(" ").toSet).toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size
      j = i.toDouble / (sets(a).size + sets(b).size - i)
      if j >= 0.5
    } yield (a, b, BigDecimal(j).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got === expect)
    assert(got.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    intercept[IllegalArgumentException] {
      Dedup.similarityJoinExact(docs, "doc_id", "text", 0.0)
    }
  }

  test("similarityJoinExact: threshold 1.0 finds exactly identical sets") {
    val docs = Seq((1L, "x y z"), (2L, "z y x x"), (3L, "x y"))
      .toDF("doc_id", "text") // 1 and 2 have the same SET {x,y,z}
    val got = Dedup.similarityJoinExact(docs, "doc_id", "text", 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 2L, 1.0)))
  }

  test("PPJoin positional filter: fewer candidates, identical survivors") {
    // Engineered position-asymmetric pair (docs 200/201): they share
    // exactly one token w, sitting at prefix position 0 of doc 200's
    // rarest-first order but position 3 of doc 201's (three unique
    // rarer tokens precede it). AllPairs admits the pair (shared
    // prefix token, equal sizes); the positional bound says overlap
    // <= 0+1+min(9,6) = 7 < alpha = ceil(0.7·20/1.7) = 9 and prunes
    // it before the verify join. Fillers pin the df ranks (x1..x9 and
    // y4..y9 must outrank w=df2) while staying below the threshold.
    val xs = (1 to 9).map(i => s"x$i").mkString(" ")
    val ys = (4 to 9).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (200L, s"w $xs"),                       // w + x1..x9
      (201L, s"y1 y2 y3 w $ys"),              // y1..y3 + w + y4..y9
      (301L, xs + " " + (1 to 11).map(i => s"u$i").mkString(" ")),
      (302L, xs + " " + (1 to 11).map(i => s"v$i").mkString(" ")),
      (303L, ys + " " + (1 to 14).map(i => s"p$i").mkString(" ")),
      (304L, ys + " " + (1 to 14).map(i => s"q$i").mkString(" ")),
      (100L, "alpha beta gamma delta epsilon zeta eta"),
      (101L, "alpha beta gamma delta epsilon zeta theta") // J = 6/8 = 0.75
    ).toDF("doc_id", "text")
    val t = 0.7
    val sets = Dedup.simJoinSets(docs, "doc_id", "text")
    val plain = Dedup.simJoinCandidates(sets, t, positional = false)
      .as[(Long, Long)].collect().toSet
    val pos = Dedup.simJoinCandidates(sets, t, positional = true)
      .as[(Long, Long)].collect().toSet
    assert(pos.subsetOf(plain)) // the filter only ever removes pairs
    assert(plain.contains((200L, 201L)),
      "AllPairs must admit the engineered pair through the shared prefix token")
    assert(!pos.contains((200L, 201L)),
      "the positional bound must prune the engineered pair")
    // completeness: the one real pair survives in BOTH modes and the
    // final output is identical
    assert(pos.contains((100L, 101L)))
    val got = Dedup.similarityJoinExact(docs, "doc_id", "text", t)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((100L, 101L, 0.75)))
    info(s"candidates: allpairs=${plain.size} ppjoin=${pos.size}")
  }

  test("containmentPairs: catches the quote-in-document pair Jaccard misses") {
    import spark.implicits._
    // doc 1: 30 distinct words → 26 5-grams; doc 2 quotes its first 10
    // words → 6 grams, ALL inside doc 1's set. Word-set Jaccard is
    // 10/30 ≈ 0.33 and gram Jaccard 6/26 ≈ 0.23 — below any dedup
    // threshold — but containment is exactly 6/6 = 1.0.
    val big = (0 until 30).map(i => s"w$i").mkString(" ")
    val quote = (0 until 10).map(i => s"w$i").mkString(" ")
    val lone = (0 until 20).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, big), (2L, quote), (3L, lone)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 6L, 26L, 6L, 1.0)))
    // the resemblance path indeed never surfaces this pair
    val sim = Dedup.similarityJoinExact(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
    assert(!sim.exists(p => p._1 == 1L && p._2 == 2L))
    // maxGramDf retires ubiquitous grams from evidence AND sizes: three
    // docs share ONE boilerplate gram (df=3); with cap 2 it is gone and
    // no pair exists; uncapped it is the only common gram (1/6 each)
    val boiler = Seq(
      (10L, "b0 b1 b2 b3 b4 x0 x1 x2 x3 x4"),
      (11L, "b0 b1 b2 b3 b4 y0 y1 y2 y3 y4"),
      (12L, "b0 b1 b2 b3 b4 z0 z1 z2 z3 z4")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(boiler, "doc_id", "text",
      n = 5, threshold = 0.1, maxGramDf = 2)
    assert(capped.count() === 0L)
    val uncapped = Dedup.containmentPairs(boiler, "doc_id", "text",
        n = 5, threshold = 0.1, maxGramDf = 1000)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(uncapped.length === 3 &&
      uncapped.forall(p => p._3 == 1L && p._4 == 6L && p._5 == 6L &&
        p._6 == math.rint(1.0 / 6 * 1e6) / 1e6))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", n = 1)
    }
  }

  test("sortedNeighborhoodPairs: window-bounded candidates, JW verify, null keys out") {
    import spark.implicits._
    // sort order: alphq(1) alphr(2) betaa(3) betab(4) omega(5)
    val recs = Seq((10L, "alphq"), (11L, "alphr"), (12L, "betaa"),
      (13L, "betab"), (14L, "omega"), (15L, null.asInstanceOf[String]))
      .toDF("id", "name")
    val got = Dedup.sortedNeighborhoodPairs(recs, "id", "name",
        window = 1, minSim = 0.9)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // adjacent near-typos pass; cross-prefix neighbors fail the verify
    assert(got.keySet === Set((10L, 11L), (12L, 13L)))
    // JW("alphq","alphr"): jaro = (4/5 + 4/5 + 1)/3, prefix 4 → hand value
    val jaro = (4.0 / 5 + 4.0 / 5 + 1.0) / 3
    val jw = jaro + 4 * 0.1 * (1 - jaro)
    assert(got((10L, 11L)) === math.rint(jw * 1e6) / 1e6)
    // a wider window reaches past immediate neighbors (candidates only —
    // the verify still rejects); identical keys score 1.0
    val dup = Seq((20L, "same"), (21L, "same"), (22L, "zzz"))
      .toDF("id", "name")
    val exact = Dedup.sortedNeighborhoodPairs(dup, "id", "name",
        window = 2, minSim = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(exact.toSeq === Seq((20L, 21L, 1.0)))
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(recs, "id", "name", window = 0)
    }
  }

  test("editDistancePairs: exact pairs, short-key sentinel, brute-force completeness") {
    import spark.implicits._
    val recs = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten!"),
      (4L, "zzzzzz"), (5L, null.asInstanceOf[String])).toDF("id", "k")
    val got = Dedup.editDistancePairs(recs, "id", "k", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    // textbook kitten→sitting = 3; the zzzzzz key pairs with nothing
    assert(got === Set((1L, 2L, 3), (1L, 3L, 1), (2L, 3L, 3)))
    // short keys (< q chars → ZERO grams) meet through the sentinel
    val short = Seq((1L, "a"), (2L, "b"), (3L, "ab")).toDF("id", "k")
    val gotShort = Dedup.editDistancePairs(short, "id", "k", maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(gotShort === Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)))
    // adversarial completeness sweep: the filter chain (prefix + length
    // + sentinel) must lose NOTHING a brute-force cross join finds —
    // low-entropy keys over a 3-letter alphabet maximize near-misses
    val rng = new scala.util.Random(7)
    val corp = (1L to 80L).map { i =>
      (i, (0 until 3 + rng.nextInt(6)).map(_ => "abc" (rng.nextInt(3)))
        .mkString)
    }.toDF("id", "k")
    val fast = Dedup.editDistancePairs(corp, "id", "k", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    import org.apache.spark.sql.functions.{col, levenshtein}
    val a = corp.select(col("id").as("id_a"), col("k").as("ka"))
    val b = corp.select(col("id").as("id_b"), col("k").as("kb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("d", levenshtein(col("ka"), col("kb")))
      .filter(col("d") <= 2)
      .select(col("id_a"), col("id_b"), col("d").cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(fast === brute)
    assert(brute.nonEmpty) // the sweep must actually exercise pairs
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(recs, "id", "k", maxDist = 2, q = 1)
    }
  }

  test("blockingQuality: hand RR/PC/PQ; canonicalization; degenerates") {
    import spark.implicits._
    // dup orderings + a self-pair collapse: candidates {12, 34, 56}
    val cand = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val truth = Seq((2L, 1L), (3L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Dedup.blockingQuality(cand, truth, "id_a", "id_b", 6L)
      .as[(Long, Long, Long, Double, Option[Double], Option[Double])]
      .collect().head
    // 15 total pairs; hits {12, 34}
    assert(got === ((3L, 3L, 2L, 0.8, Some(r6(2.0 / 3.0)),
      Some(r6(2.0 / 3.0)))))
    // no truth labels: completeness is NULL, not 0 (unknown ≠ bad)
    val noTruth = Dedup.blockingQuality(cand,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b", 6L)
      .as[(Long, Long, Long, Double, Option[Double], Option[Double])]
      .collect().head
    assert(noTruth._5.isEmpty && noTruth._6 === Some(0.0))
    // a blocker that proposes nothing: perfect RR, NULL quality
    val noCand = Dedup.blockingQuality(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), truth,
      "id_a", "id_b", 6L)
      .as[(Long, Long, Long, Double, Option[Double], Option[Double])]
      .collect().head
    assert(noCand._4 === 1.0 && noCand._5 === Some(0.0) &&
      noCand._6.isEmpty)
    intercept[IllegalArgumentException] {
      Dedup.blockingQuality(cand, truth, "id_a", "id_b", 1L)
    }
  }
}
