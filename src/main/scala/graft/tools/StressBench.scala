package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCounter

import graft.LocalSession

/**
 * Scale-evidence harness: drives the dedup / similarity operators over
 * SYNTHETIC corpora at 1×/4×/16× sizes and prints per-op timings, so the
 * "no hidden quadratic" claim in SCALING.md is measured, not asserted.
 *
 * Corpus construction is deliberately clique-free (each doc is a fresh
 * pseudo-random word sequence): multiplying real documents would create
 * near-duplicate cliques whose PAIR OUTPUT grows quadratically by
 * definition, which is a property of the data, not the operator. Here the
 * candidate rate stays low, so operator cost should scale ~linearly in
 * corpus size; a superlinear jump flags a broken blocking scheme.
 *
 * Run: `sbt "runMain graft.tools.StressBench"` on [[LocalSession]]
 * (~2-4 min at local[32]). `SPARK_GRAFT_STRESS_ONLY=<section>` runs one
 * section; the sections tested with `only.contains` (`chunkbytes`,
 * `scaleprobe`, ...) run only when named.
 */
object StressBench {

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** n pseudo-docs of `words` words over a `vocab`-word vocabulary —
    * deterministic, distinct, naturally overlapping token sets. Vocab
    * must be large enough that unrelated docs have LOW shingle Jaccard:
    * at vocab=500 the shared-shingle floor is high enough that MinHash
    * bands collide for a constant FRACTION of all pairs — the measured
    * quadratic blow-up demonstrated in the degenerate-corpus block below,
    * a data property, not operator cost. */
  private def synthDocs(spark: SparkSession, n: Long, words: Int = 40,
                        vocab: Int = 50000): DataFrame =
    spark.range(n).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        expr(s"transform(sequence(1, $words), " +
          s"i -> hex(pmod(xxhash64(doc_id, i), $vocab)))")))

  /** n pseudo-vectors, dim `d`, components in [-0.5, 0.5). */
  private def synthVecs(spark: SparkSession, n: Long, d: Int = 64): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        expr(s"transform(sequence(1, $d), " +
          s"i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))

  /** Collect FileSourceScanExec nodes, recursing through AQE's
    * QueryStageExec wrappers and the adaptive root. */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScans(qs.plan)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScans(a.executedPlan)
  }.flatten

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import graft.operators.{Dedup, Similarity}

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Long)]
    // handoff between the bm25 index build tier and its probe tier
    var bm25Dest: String = null
    // Optional op-level filter within a section (comma-separated run()
    // names) — lets a crashing tier (e.g. the string-key backoff OOM
    // demonstration) be isolated without re-timing its whole section.
    val opsOnly = sys.env.get("SPARK_GRAFT_STRESS_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def run(op: String, n: Long)(f: => Long): Unit = {
      if (opsOnly.exists(!_.contains(op))) return
      val (sec, rows) = time(f)
      results += ((op, n, sec, rows))
      println(f"[stress] $op%-16s n=$n%-8d ${sec}%8.2f s  ($rows rows)")
      LocalSession.dropCaches(spark)
    }

    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY") // "docs" | "ann"
    // XL=1 adds a 64× tier (1.28M docs / 3.2M vectors) — minutes, not
    // seconds; run it when re-validating the linearity claim end-to-end
    val xl = sys.env.get("SPARK_GRAFT_STRESS_XL").contains("1")
    val docTiers = Seq(20000L, 80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil)
    val annTiers = Seq(50000L, 200000L, 800000L) ++ (if (xl) Seq(3200000L) else Nil)
    for (n <- docTiers if only.forall(_ == "docs")) {
      val docs = synthDocs(spark, n)
      docs.cache().count() // corpus generation outside the timings
      run("exact_dedup", n)(Dedup.exactScalable(docs, "text", "doc_id").count())
      run("minhash_pairs", n)(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).count())
      if (n >= 1280000L)
        // at XL size even a flat shingle distribution yields sig-coincidence
        // hot buckets (docs sharing one band's minima); the cap is the
        // at-scale configuration — measure it next to the uncapped run
        run("minhash_cap1k", n)(
          Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
            maxBucketSize = 1000).count())
      run("simhash_pairs", n)(
        Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count())
      run("fingerprint", n)(docs.select(
        graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
        .distinct().count())
      // minSim=0 keeps every candidate so the row count is the exact
      // w·n − Σ1..w tail bound AND the JW verify prices in full; cost
      // should track the rank shuffle, i.e. ~linear in n
      run("sorted_neighbors", n)(
        Dedup.sortedNeighborhoodPairs(
          docs.select(col("doc_id"), substring(col("text"), 1, 24).as("k")),
          "doc_id", "k", window = 5, minSim = 0.0).count())
      // distinct pseudo-keys → near-zero true pairs; measures the
      // census + rank-join + prefix-join machinery, not pair output.
      // q = 4 is the entropy-matched gram length for 24-char base64
      // keys (64⁴ ≈ 16.7M possible grams ≫ prefix rows); q = 2 on the
      // hex-word corpus (289 possible grams) measured 147 s at 80k —
      // the wrong-q cliff documented in the operator's scaladoc
      run("editjoin_pairs", n)(
        Dedup.editDistancePairs(
          docs.select(col("doc_id"),
            expr("base64(unhex(md5(cast(doc_id as string))))").as("k")),
          "doc_id", "k", maxDist = 2, q = 4).count())
      docs.unpersist()
    }

    if (only.forall(_ == "docs")) {
      // Degenerate-corpus demonstration: a 500-word vocabulary gives
      // unrelated docs a high shingle-Jaccard floor → LSH buckets hold a
      // constant fraction of the corpus → the candidate join is O(n²) BY
      // DATA. maxBucketSize skips those buckets and restores near-linear
      // cost (recall only drops for pairs whose every shared band is
      // degenerate).
      val nD = 160000L
      val degen = synthDocs(spark, nD, vocab = 500)
      degen.cache().count()
      run("minhash_degen", nD)(
        Dedup.minhashPairs(degen, "doc_id", "text", threshold = 0.5).count())
      run("minhash_capped", nD)(
        Dedup.minhashPairs(degen, "doc_id", "text", threshold = 0.5,
          maxBucketSize = 200).count())
      degen.unpersist()
    }

    // Global ranking: the r11 distributed exact rank vs the
    // unpartitioned-window form it replaced, at growing key counts.
    // The window funnels every row through ONE task's sort; the
    // Ranking helper range-partitions and stitches chunk offsets. The
    // aggregate consumer forces every rank to be computed.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "ranking")) {
      import org.apache.spark.sql.expressions.Window
      val keys = spark.range(n).toDF("k")
        .withColumn("v", pmod(xxhash64(col("k")), lit(1000L)))
      keys.cache().count()
      run("rank_dist", n)(
        graft.operators.Ranking.withGlobalRank(keys,
            Seq(col("v").asc, col("k").asc), "r", "n")
          .agg(sum("r")).head().getLong(0))
      run("rank_window", n)(
        keys.withColumn("r",
            row_number().over(Window.orderBy(col("v").asc, col("k").asc)))
          .agg(sum("r")).head().getLong(0))
      keys.unpersist()
    }

    // r11 rank-statistics family at growing LEVEL cardinality — the
    // worst case for their per-segment level windows is one segment
    // whose every value is distinct (levels == rows); spearman instead
    // prices two chunked rank passes + level joins. All values unique
    // → no tie collapse anywhere, the honest upper bound.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "stats")) {
      import graft.operators.Profiling
      val rows = spark.range(n).toDF("id")
        .select(col("id"), lit("s").as("seg"),
          (pmod(col("id"), lit(2L)) === 0L).cast("string").as("grp"),
          (xxhash64(col("id")) % 1000000000L).cast("double").as("x"),
          (xxhash64(col("id"), lit(7)) % 1000000000L).cast("double").as("y"))
      rows.cache().count()
      run("mwu_levels", n)(Profiling.mannWhitneyU(rows, "seg", "grp",
        "true", "x", unitScale = 1L).count())
      run("ks_levels", n)(Profiling.ksTest(rows, "seg", "grp",
        "true", "x", unitScale = 1L).count())
      run("spearman", n)(Profiling.spearmanCorrelation(rows, "x", "y",
        "id", unitScale = 1L).count())
      // closing r11 additions on the same worst case (levels == rows):
      // AUC shares mwu's level-window shape; KW adds the k-way group
      // split on the same sort; ANOVA has NO level frame at all — its
      // flat line at growing distinct-value count is the evidence for
      // the "value-cardinality-independent" claim
      val k5 = rows.withColumn("g5", pmod(col("id"), lit(5L)).cast("string"))
        .withColumn("pos", pmod(col("id"), lit(2L)) === 0L)
      run("auc_levels", n)(Profiling.aucReport(k5, "x", "pos",
        unitScale = 1L).count())
      run("kruskal_levels", n)(Profiling.kruskalWallis(k5, "seg", "g5",
        "x", unitScale = 1L).count())
      run("anova_moments", n)(Profiling.anovaF(k5, "seg", "g5", "x",
        unitScale = 1L).count())
      // eval family on the same all-unique fixture: prCurve shares
      // auc's level window (row-sized output here — the honest worst
      // case); liftTable is one chunked rank + a 10-row aggregate
      run("pr_curve", n)(Profiling.prCurve(k5, "x", "pos",
        unitScale = 1L).count())
      run("lift_table", n)(Profiling.liftTable(k5, "x", "pos", "id",
        k = 10, unitScale = 1L).count())
      // 3-column Spearman matrix at the same all-unique worst case:
      // 3 chunked rank passes + 3 level joins + ONE moments aggregate —
      // expect ~1.5× the single-pair spearman, never 3×
      val rows3 = rows.withColumn("z",
        (xxhash64(col("id"), lit(13)) % 1000000000L).cast("double"))
      run("spearman_mat3", n)(Profiling.spearmanMatrix(rows3,
        Seq("x", "y", "z"), "id", unitScale = 1L).count())
      rows.unpersist()
    }

    // r12 A/B: spearmanMatrix's one-shuffle melted rank pass vs the
    // k-pass form at k ∈ {3, 8, 16} — the melt replaces k full-frame
    // range shuffles with ONE shuffle of k·n rows, so its edge should
    // grow with k. All-unique values (levels == rows), the honest
    // worst case for the level machinery on both forms.
    for (n <- Seq(1000000L, 4000000L) if only.forall(_ == "spearmat")) {
      import graft.operators.Profiling
      val cols = (0 until 16).map(i => s"c$i")
      val rows = spark.range(n).toDF("id")
        .select(col("id") +: cols.zipWithIndex.map { case (c, i) =>
          (xxhash64(col("id"), lit(i)) % 1000000000L).cast("double").as(c)
        }: _*)
      rows.cache().count()
      for (k <- Seq(3, 8, 16)) {
        run(s"spearmat${k}_melt", n)(Profiling.spearmanMatrix(rows,
          cols.take(k), "id", unitScale = 1L).count())
        run(s"spearmat${k}_kpass", n)(Profiling.spearmanMatrix(rows,
          cols.take(k), "id", unitScale = 1L, oneShuffle = false).count())
      }
      // the documented level dial, measured: quantize the same 16
      // columns to ~1000 levels each (any real metric's resolution) —
      // the level frames collapse from k·n rows to k·1000, and the
      // all-unique 4M×16 cliff (both forms ~320 s) must vanish
      val rowsQ = spark.range(n).toDF("id")
        .select(col("id") +: cols.zipWithIndex.map { case (c, i) =>
          (pmod(xxhash64(col("id"), lit(i)), lit(1000L))).cast("double").as(c)
        }: _*)
      rowsQ.cache().count()
      run("spearmat16q_melt", n)(Profiling.spearmanMatrix(rowsQ,
        cols.take(16), "id", unitScale = 1L).count())
      rowsQ.unpersist()
      rows.unpersist()
    }

    // χ² token screen: explode-bound like the text family — distinct
    // tokens per doc fan out once, the token aggregate map-side
    // combines, totals prune to the label column. Expect ~linear.
    for (n <- (Seq(80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil))
           if only.forall(_ == "textsel")) {
      val docs = synthDocs(spark, n)
        .withColumn("pos", pmod(col("doc_id"), lit(2L)) === 0L)
      docs.cache().count()
      run("chi2_tokens", n)(
        graft.operators.TextAnalysis.chi2TokenSelection(docs, "text",
          "pos", minDocFreq = 5L).count())
      // Heaps fit: chunked doc rank + min-rank vocab aggregate + ≤ 20
      // broadcast checkpoint joins — expect scan/rank-bound ~linear
      run("heaps_fit", n)(
        graft.operators.TextAnalysis.heapsFit(docs, "text",
          "doc_id").count())
      // TextRank at minCount=1: the random 50k-word vocabulary repeats
      // almost no bigram, so this drives the WORST case — every
      // adjacent pair becomes an edge (~39·n edges) and all 6 pageRank
      // rounds run on the full pair graph
      run("textrank", n)(
        graft.operators.TextAnalysis.textrankKeywords(docs, "text",
          iters = 6, minCount = 1L).count())
      // r12 additions on the same corpus tiers:
      // PII census: one scan, all 5 regexes per row, one aggregate —
      // expect scan-bound ~linear (regex cost per char dominates)
      run("pii_report", n)(
        graft.operators.TextAnalysis.piiReport(docs, "text").count())
      // batch BM25: tf/df aggregates + broadcast query probe + fold —
      // the probe moves only matched (q, doc, term) rows; hex terms
      // exist in the synthetic vocabulary (lowercasing matches)
      run("bm25_multi", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.bm25Scores(docs, qs).count()
      }
      // Krippendorff's alpha over synthetic units (40 ratings/unit,
      // 5 labels): two keyed aggregates + bounded level fold — expect
      // the (unit, label) aggregate to dominate, ~linear
      run("krippendorff", n)(
        graft.operators.Profiling.krippendorffAlpha(
          docs.select(pmod(col("doc_id"), lit(n / 40L)).as("unit"),
            col("doc_id").as("coder"),
            pmod(col("doc_id"), lit(5L)).cast("string").as("lab")),
          "unit", "coder", "lab").count())
      // approx-quantile gate: one mergeable GK aggregate + one probe
      // aggregate (k codegen'd comparisons) — value cardinality never
      // enters, expect scan-bound flat
      run("quantile_gate", n)(
        graft.operators.Sketches.approxQuantileGate(
          docs.select(col("doc_id").cast("double").as("v")), "v",
          Seq(0.5, 0.9, 0.99)).count())
      // grouped RRF: 2 lists × n/100 queries × 100-ranked keys — one
      // pivot aggregate + a bounded per-query window
      run("rrf_by_query", n) {
        val l1 = docs.select((col("doc_id") / lit(100L)).cast("long")
          .as("q"), col("doc_id").as("k"),
          (pmod(col("doc_id"), lit(100L)) + 1L).as("r"))
        val l2 = l1.withColumn("r", lit(101L) - col("r"))
        graft.operators.Ranking.rrfFuseByQuery(Seq(l1, l2), "q", "k", "r",
          topK = 10).count()
      }
      // Fellegi-Sunter: weights = ONE aggregate over labeled pairs;
      // scoring = a codegen'd per-row chain (weights broadcast as
      // literals) — both must be scan-bound flat
      run("fs_weights_score", n) {
        val pairs = docs.select(col("doc_id").as("pid"),
          (col("doc_id") % 11 === 0).as("is_match"),
          (col("doc_id") % 3 === 0).as("f1"),
          (col("doc_id") % 5 === 0).as("f2"),
          (col("doc_id") % 7 === 0).as("f3"))
        val w = graft.operators.Dedup.fellegiSunterWeights(pairs,
          "is_match", Seq("f1", "f2", "f3"))
        graft.operators.Dedup.fellegiSunterScore(pairs, w,
          Seq("f1", "f2", "f3")).count()
      }
      // r13: EM fit — distributed cost is ONE pattern-count aggregate
      // (8 cells), then O(iters·2^K·K) driver flops: must track
      // fs_weights_score's scan-bound shape exactly
      run("fs_em", n) {
        val pairs = docs.select(
          (col("doc_id") % 3 === 0).as("f1"),
          (col("doc_id") % 5 === 0).as("f2"),
          (col("doc_id") % 7 === 0).as("f3"))
        graft.operators.Dedup.fellegiSunterEM(pairs,
          Seq("f1", "f2", "f3"), iters = 5).count()
      }
      // r13: persisted BM25 index — build is the corpus pass (tf/df
      // write, ~bm25_multi's aggregate cost + IO); the PROBE must be
      // vocab/corpus-independent: term-pruned postings read + ≤ K-row
      // df, so expect probe time ~flat while build grows with n
      run("bm25_index_build", n) {
        val dest = java.nio.file.Files
          .createTempDirectory("graft-sb-bm25").toString
        bm25Dest = dest
        graft.operators.TextAnalysis.buildBm25Index(docs, dest)
        n // rows indexed (build returns Unit; the tier size is the count)
      }
      run("bm25_index_probe", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.bm25ScoresFromIndex(spark, bm25Dest,
          qs).count()
      }
      // r13: the LM probe over the SAME store — must track the bm25
      // probe's flat shape (cf sums the pruned postings)
      run("lm_index_probe", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.lmDirichletFromIndex(spark, bm25Dest,
          qs).count()
      }
      // r15: RM3 expansion over the SAME store — feedback pass probes
      // the index, tf/|d| reads come from postings+doclens under a
      // pushed doc-id filter: expect ~flat like the probes it composes,
      // vs the direct expander's corpus-scan growth
      run("rm3_index", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.rm3ExpandQueriesFromIndex(spark,
          bm25Dest, qs, fbDocs = 10, fbTerms = 10).count()
      }
      run("rm3_direct", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.rm3ExpandQueries(docs, qs,
          fbDocs = 10, fbTerms = 10).count()
      }
      // r13: Theil-Sen — O(C²) gated cell pairs + one ordered weight
      // fold; cost tracks CELL count (bounded), not rows
      run("theil_sen", n) {
        val f = docs.select(
          pmod(xxhash64(col("doc_id")), lit(40L)).cast("double").as("x"),
          pmod(xxhash64(col("doc_id"), lit(1)), lit(25L)).cast("double")
            .as("y"))
        graft.operators.Profiling.theilSenSlope(f, "x", "y",
          unitScale = 1L).count()
      }
      // r13: LM scoring — bm25_multi's shape plus the cf aggregate and
      // the qlen broadcast; must track bm25_multi's wall
      run("lm_dirichlet", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.lmDirichletScores(docs, qs).count()
      }
      // r13: the effect-size/repeated-measures family — every one is
      // ONE map-side-combined aggregate (cliffs adds the bounded level
      // pair join); all must be scan-bound flat
      run("effect_sizes", n) {
        val f = docs.select(col("doc_id"),
          (pmod(col("doc_id"), lit(2L)) === 0L).cast("string").as("g"),
          pmod(xxhash64(col("doc_id")), lit(1000L)).cast("double").as("v"),
          pmod(xxhash64(col("doc_id"), lit(1)), lit(997L)).cast("double")
            .as("v2"),
          pmod(xxhash64(col("doc_id"), lit(2)), lit(991L)).cast("double")
            .as("v3"))
        graft.operators.Profiling.cohensD(f, "v", "g", unitScale = 1L)
          .count()
        graft.operators.Profiling.cliffsDelta(f, "g", "true", "v",
          unitScale = 1L).count()
        graft.operators.Profiling.friedmanTest(f, Seq("v", "v2", "v3"),
          unitScale = 1L).count()
      }
      run("km_cochran", n) {
        val f = docs.select(
          pmod(xxhash64(col("doc_id")), lit(2000L)).as("dur"),
          (pmod(col("doc_id"), lit(3L)) === 0L).as("ev"),
          (pmod(col("doc_id"), lit(2L)) === 0L).as("a"),
          (pmod(col("doc_id"), lit(5L)) === 0L).as("b"),
          (pmod(col("doc_id"), lit(7L)) === 0L).as("c"))
        graft.operators.Events.kaplanMeier(f, "dur", "ev").count()
        graft.operators.Events.cochranQ(f, Seq("a", "b", "c")).count()
      }
      // r13: retrieval-eval windows (n/100 queries × top-20) + the
      // ACF lag join (series capped at the operator's 10^6 bound)
      run("rank_eval", n) {
        val q = pmod(col("doc_id"), lit(n / 100L))
        val ranked = graft.operators.Ranking.withGroupedRank(
            docs.select(q.as("q"), col("doc_id"),
              pmod(xxhash64(col("doc_id")), lit(1000L)).as("sc")),
            "q", Seq(col("sc").desc, col("doc_id").asc), "rnk", "nq")
          .filter(col("rnk") <= 20)
          .select(col("q").as("query_id"), col("doc_id"), col("rnk"))
        val rel = docs.select(q.as("query_id"), col("doc_id"),
          pmod(col("doc_id"), lit(3L)).as("rel"))
        graft.operators.Ranking.rankingEvalReport(ranked, rel, 20,
          rankCol = "rnk").count()
      }
      run("acf", n) {
        val series = docs.filter(col("doc_id") < 1000000L)
          .select(col("doc_id").as("t"),
            pmod(xxhash64(col("doc_id")), lit(1000L)).cast("double")
              .as("v"))
        graft.operators.TimeSeries.autocorrelation(series, "t", "v",
          maxLag = 5, unitScale = 1L).count()
      }
      // r13: per-slice centroid drift — posexplode n×16 dims into one
      // map-side-combined (slice, dim) aggregate; expect ~linear in
      // rows×dims, nothing row-sized past the first aggregate
      run("centroid_drift", n) {
        val v = docs.select((col("doc_id") % 16).as("sl"),
          expr("transform(sequence(1, 16), " +
            "i -> cast(pmod(xxhash64(doc_id, i), 1000) / 1000.0 as float))")
            .as("embedding"))
        graft.operators.Similarity.centroidDrift(v, "sl").count()
      }
      // r13: OLS moments (one aggregate) + map-only TTR — scan-bound
      run("fit_ttr", n) {
        val f = docs.select(
          pmod(xxhash64(col("doc_id")), lit(1000L)).cast("double").as("x"),
          pmod(xxhash64(col("doc_id"), lit(1)), lit(997L)).cast("double")
            .as("y"))
        graft.operators.Profiling.linearFit(f, "x", "y",
          unitScale = 1L).count()
        graft.operators.TextAnalysis.lexicalDiversity(docs).count()
      }
      docs.unpersist()
    }

    // Sequential k-gram mining: ONE per-user window sort carries all
    // k−1 leads (sessionPaths-class bound — per-user sequence length,
    // never global). Expect ~linear in events.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "seqpat")) {
      val ev = spark.range(n).toDF("id")
        .select(pmod(col("id"), lit(n / 50L)).as("uid"),
          concat(lit("t"), pmod(xxhash64(col("id")), lit(8L)))
            .as("ty"), col("id").as("ts"), col("id").as("eid"))
      ev.cache().count()
      run("seq_patterns", n)(
        graft.operators.Events.sequentialPatterns(ev, "uid", "ty", "ts",
          "eid", k = 3, minSupport = 2L).count())
      ev.unpersist()
    }

    // Kendall τ-b at growing CELL cardinality — the operator's documented
    // O(C²) bound made visible: n is FIXED (4M rows) while quantized
    // (x, y) cells grow 4× per tier, so the pair-join cost (not the
    // scan) is the number on display. 45² → ~2k cells, 90² → ~8k,
    // 180² → ~32k (xl); the scaladoc prescribes spearman past ~10⁵.
    for (k <- (Seq(45L, 90L) ++ (if (xl) Seq(180L) else Nil))
           if only.forall(_ == "kendall")) {
      import graft.operators.Profiling
      val n = 4000000L
      val rows = spark.range(n).toDF("id")
        .select(pmod(xxhash64(col("id")), lit(k)).cast("double").as("x"),
          pmod(xxhash64(col("id"), lit(7)), lit(k)).cast("double").as("y"))
      rows.cache().count()
      run(s"kendall_c${k * k}", k * k)(
        Profiling.kendallTau(rows, "x", "y", unitScale = 1L).count())
      rows.unpersist()
    }

    // Quantile normalization: the per-group sort is the inherent cost
    // and parallelizes ACROSS groups — measured at 32 groups vs 2
    // groups at the same n so the group-parallelism penalty (one task
    // sorts n/G rows) is the number on display, not corpus size.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "qnorm")) {
      import graft.operators.Profiling
      def g(groups: Long) = spark.range(n).toDF("id")
        .select(col("id"), pmod(col("id"), lit(groups)).cast("string")
          .as("grp"), (xxhash64(col("id")) % 1000000000L).cast("double")
          .as("v"))
      val g32 = g(32); g32.cache().count()
      run("qnorm_g32", n)(
        Profiling.quantileNormalize(g32, "grp", "id", "v",
          unitScale = 1L).count())
      g32.unpersist()
      val g2 = g(2); g2.cache().count()
      run("qnorm_g2", n)(
        Profiling.quantileNormalize(g2, "grp", "id", "v",
          unitScale = 1L).count())
      g2.unpersist()
    }

    // Incremental winnow admission: the O(delta) rerun claim, measured.
    // Corpus index is built ONCE (timed separately — the amortized
    // cost); the daily rerun is then winnowAdmitDelta over a 5% delta,
    // measured against the full dedupeByWinnow(corpus ∪ delta)
    // recompute it replaces. Expect: delta-run cost tracks |delta| (+
    // index scan IO), while the full rerun tracks |corpus|.
    for (n <- (Seq(80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil))
           if only.forall(_ == "winnow")) {
      val corpus = synthDocs(spark, n)
      corpus.cache().count()
      val dN = n / 20
      // novels draw a DISJOINT id range n..n+dN (fresh hash stream →
      // fresh texts); plants copy corpus docs under delta-range ids
      val novel = synthDocs(spark, n + dN).filter(col("doc_id") >= n)
      val plants = corpus.limit((dN / 4).toInt).select(
        (col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val delta = novel.unionAll(plants)
      delta.cache().count()
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-winnow-stress").toString
      run("winnow_index", n) {
        Dedup.writeWinnowIndex(corpus, idxDir, "doc_id", "text"); n
      }
      run("winnow_delta", n)(
        Dedup.winnowAdmitDelta(corpus, delta, idxDir, "doc_id", "text",
          maxDist = 0).count())
      run("winnow_full", n)(
        Dedup.dedupeByWinnow(corpus.unionAll(delta), "doc_id", "text",
          maxDist = 0).count())
      corpus.unpersist(); delta.unpersist()
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(idxDir))
    }

    // Hot-key temporal joins: one user owns ~50% of events. asOf's window
    // partitions by key — the hot key's timeline sorts in ONE task; rangeJoin
    // fans each interval over span/bucketWidth buckets — a dense hot-key
    // interval set multiplies candidates. Measured uniform vs hot at equal n
    // so the skew penalty (not corpus size) is the number on display.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "temporal")) {
      def evts(skewed: Boolean, rows: Long, idOff: Long = 0): DataFrame = {
        val user = if (skewed) "if (pmod(id, 2) = 0, 0L, pmod(id, 1000))"
                   else "pmod(id, 1000)"
        spark.range(rows).toDF("id")
          .select((col("id") + idOff).as("eid"),
            expr(user).as("user"),
            (col("id") * 7L + idOff).as("ts"))
      }
      for (skew <- Seq(false, true)) {
        val tag = if (skew) "hot50" else "uniform"
        val left = evts(skew, n).cache(); left.count()
        val right = evts(skew, n / 10, idOff = 3).select(
          col("user"), col("ts"), (col("ts") % 97).as("px")).cache()
        right.count()
        // filter on the matched payload: count() alone lets the optimizer
        // prune the window's carry-forward column and skip the sort
        run(s"asof_$tag", n)(
          graft.operators.TemporalJoin.asOf(left, right, Seq("user"), "ts")
            .filter(col("px").isNotNull).count())
        if (skew)
          // the hot-key mitigation: slice the timeline so no task sorts
          // more than (hot-key rows × sliceWidth / ts-span)
          run(s"asof_sliced_$tag", n)(
            graft.operators.TemporalJoin.asOfSliced(left, right, Seq("user"),
              "ts", sliceWidth = math.max(1L, 7L * n / 64))
              .filter(col("px").isNotNull).count())
        // intervals tile the full point ts range (stride 700, span 1000):
        // modest overlap, so runtime measures probe cost, not output size
        val intervals = evts(skew, n / 100).select(
          col("user"), (col("eid") * 700L).as("lo"),
          (col("eid") * 700L + 1000L).as("hi"), col("eid").as("iid"))
        run(s"range_$tag", n)(
          graft.operators.TemporalJoin.rangeJoin(left.withColumnRenamed("ts", "x"),
            intervals, "x", "lo", "hi", bucketWidth = 1000L,
            keys = Seq("user")).count())
        left.unpersist(); right.unpersist()
      }
    }

    // Corpus-assembly ops: sequence packing, target-share mixing, chunk
    // dedup, interval-overlap join. Packing/mixing are the map-heavy
    // paths (one bounded shuffle each); chunk dedup shuffles chunk rows;
    // overlap join fans intervals over spanned buckets — all should
    // scale ~linearly here.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "assemble")) {
      import graft.operators.{Mixes, Packing}
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          concat(lit("s"), pmod(col("id"), lit(20)).cast("string")).as("src"),
          (pmod(xxhash64(col("id")), lit(400)) + 20).as("cost"))
        .cache()
      rows.count()
      run("pack_seqs", n)(
        Packing.packSequences(rows, "id", "cost", seqLen = 2048)
          .select(max("seq_id")).collect().head.getLong(0))
      val targets = (0 until 20).map(i =>
        s"s$i" -> (if (i == 0) 0.2 else 0.8 / 19)).toMap
      run("domain_mix", n)(
        Mixes.toTargetShares(rows, "id", "src", "cost", targets).count())
      rows.unpersist()
      val docs = synthDocs(spark, n / 20)
      docs.cache().count()
      // NOTE: must COLLECT the aggregate value — `.agg(...).count()` has
      // cardinality 1 regardless, so column pruning would skip the work
      run("repetition", n / 20)(
        docs.select(graft.functions.Text.repetitionStats(col("text"), 2).as("r"))
          .agg(sum(element_at(col("r"), 4)).as("s"))
          .collect().head.getLong(0))
      // URL keep-first dedup: 4 variant forms per canonical group; the
      // window's rank-1 filter optimizes to WindowGroupLimit (map-side
      // partial top-1), so the one shuffle carries near-deduped rows
      run("url_dedup", n)(
        graft.operators.TextAnalysis.dedupByUrl(
          spark.range(n).toDF("id").select(col("id"),
            concat(lit("https://"),
              when(col("id") % 4 === 1, "WWW.").otherwise(""),
              lit("host"), expr("id div 4").cast("string"), lit(".com/p"),
              when(col("id") % 4 === 2, "?utm_source=x").otherwise(""),
              when(col("id") % 4 === 3, "/").otherwise("")).as("url")),
          "id", "url").count())
      run("chunk_dedup", n / 20)(
        Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 10)
          .agg(sum(length(col("clean_text"))).as("s"))
          .collect().head.getLong(0))
      // stride-1 span dedup: one (id,pos,hash) row per corpus token — the
      // heaviest assembly shuffle; clique-free corpus → ~no removals, so
      // the number measures the token-level movement, not output size
      run("span_dedup", n / 20)(
        Dedup.removeRepeatedSpans(docs, "doc_id", "text", spanTokens = 20)
          .agg(sum(col("removed_tokens")).as("s"))
          .collect().head.getLong(0))
      docs.unpersist()
      val li = spark.range(n / 10).select(col("id").as("lid"),
        (col("id") * 700L).as("ls"), (col("id") * 700L + 1000L).as("le"))
      val ri = spark.range(n / 10).select(col("id").as("rid"),
        (col("id") * 1100L).as("rs"), (col("id") * 1100L + 900L).as("re"))
      run("overlap_join", n / 10)(
        graft.operators.TemporalJoin.overlapJoin(li, ri, "ls", "le", "rs", "re",
          bucketWidth = 1000L).count())
    }

    // END-TO-END corpus prep: the full CorpusPipeline.prepare chain —
    // normalize → URL dedup → Bloom blocklist → boilerplate strip →
    // exact dedup → quality/token gates → span dedup → self-trained
    // perplexity gate → near-dup → LSH + 13-gram decontamination →
    // target-share mixing → leakage-safe split — over a synthetic crawl
    // with planted yield at every cut (URL variants, exact copies,
    // blocklisted ids, eval-set leaks). One number per tier for the
    // whole composition a 100 TB prep run extrapolates from; the
    // standalone sections above isolate any stage that regresses.
    // (Classifier/DSIR/chunk stages are off: measured standalone, they
    // only stack wall time without changing the composition's shape.)
    // minQuality is 0.3 not the 0.5 default: hex word-soup scores
    // ~0.53 ± digit-fraction noise, and a knife-edge gate would make
    // tier yield (hence downstream cost) data-noise instead of design.
    // SPARK_GRAFT_PIPELINE_TIERS=800000[,..] overrides the tier list —
    // for filling in intermediate points when attributing a growth step
    val pipelineTiers = sys.env.get("SPARK_GRAFT_PIPELINE_TIERS")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(100000L, 400000L) ++ (if (xl) Seq(1600000L) else Nil))
    for (n <- pipelineTiers if only.forall(_ == "pipeline")) {
      import graft.pipelines.{CorpusPipeline, CorpusPrepConfig}
      val base = synthDocs(spark, n).select(
        col("doc_id"), col("text"),
        // every 20th doc shares its neighbor's canonical URL (5% URL
        // cut); %7 rows add variant forms the canonicalizer collapses
        concat(lit("https://"),
          when(col("doc_id") % 7 === 1, "WWW.").otherwise(""),
          lit("h"),
          (col("doc_id") - when(col("doc_id") % 20 === 5, 1L).otherwise(0L))
            .cast("string"),
          lit(".com/p"),
          when(col("doc_id") % 7 === 2, "?utm_source=x").otherwise(""))
          .as("url"),
        // hash-derived stratum — decorrelated from every planted cut
        // (doc_id%20 would make the URL-collapse rule erase one stratum
        // entirely and the target-share stage fail loud on it)
        concat(lit("s"), pmod(xxhash64(col("doc_id")), lit(20)).cast("string"))
          .as("src"))
      // 4% exact-text copies under fresh ids/urls → exact-dedup yield
      val plants = base.filter(col("doc_id") % 25 === 3).select(
        (col("doc_id") + 100000000L).as("doc_id"), col("text"),
        concat(lit("https://p"), col("doc_id").cast("string"), lit(".com"))
          .as("url"),
        col("src"))
      val crawl = base.unionByName(plants)
      crawl.cache().count()
      val blocklist = spark.range(n).toDF("bad_id")
        .filter(col("bad_id") % 13 === 0)
      // eval set: 500 corpus docs verbatim → decontamination yield
      val eval = crawl.filter(col("doc_id") % (n / 500) === 7)
        .select(col("doc_id"), col("text"))
      run("pipeline_e2e", n)(
        CorpusPipeline.prepare(crawl,
          CorpusPrepConfig(
            normalizeText = true,
            urlCol = Some("url"),
            blocklist = Some((blocklist, "doc_id", "bad_id")),
            boilerplateMinDocFreq = Some(100L),
            exactDedup = true,
            minQuality = Some(0.3),
            tokenRange = Some((5L, 10000L)),
            spanDedupTokens = Some(20),
            maxPerplexity = Some(1e9),
            nearDupThreshold = Some(0.7),
            ngramDecontamination = Some((13, 2)),
            targetShares = Some(("src",
              (0 until 20).map(i => s"s$i" ->
                (if (i == 0) 0.2 else 0.8 / 19)).toMap)),
            splitWeights = Some(Seq("train" -> 0.9, "val" -> 0.05,
              "test" -> 0.05))),
          evalSets = Seq(eval)).count())
      crawl.unpersist()
    }

    // RELEASE-GATE layer pricing: gated vs ungated prepare over the
    // SAME corpus and content stages — the refusal audits (k-anonymity,
    // l-diversity, t-closeness, fairness, expectation battery) are each
    // one-or-two keyed aggregates collapsing to a bounded summary, so
    // the gated-minus-ungated delta must stay a near-constant handful
    // of aggregate passes as the corpus grows 4×/16×/64× — a delta that
    // scales with n would mean an audit stopped being aggregate-bound.
    // Gates are configured to PASS (the refusal paths are spec-priced:
    // they cost the same aggregates and then throw).
    val gateTiers = Seq(80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil)
    for (n <- gateTiers if only.forall(_ == "gates")) {
      import graft.pipelines.{CorpusPipeline, CorpusPrepConfig}
      import graft.operators.Quality._
      val docs = synthDocs(spark, n).select(col("doc_id"), col("text"),
        // hash-derived protected/sensitive columns: 8 langs × 16
        // sources, uniform — every audit passes and the t-closeness
        // grid is a fixed 128 cells regardless of n
        concat(lit("l"), pmod(xxhash64(col("doc_id")), lit(8))
          .cast("string")).as("lang"),
        concat(lit("s"), pmod(xxhash64(col("doc_id"), lit(1)), lit(16))
          .cast("string")).as("source"))
      docs.cache().count()
      val cfg = CorpusPrepConfig(minQuality = Some(0.3))
      run("prepare_ungated", n)(CorpusPipeline.prepare(docs, cfg).count())
      run("prepare_gated", n)(CorpusPipeline.prepare(docs, cfg.copy(
        releaseKAnonymity = Some((Seq("lang"), 2L)),
        releaseLDiversity = Some((Seq("lang"), "source", 2L)),
        releaseTCloseness = Some((Seq("lang"), "source", 0.9)),
        releaseFairness = Some(("lang", 0.5)),
        releaseExpectations = Seq(NotNull("doc_id"), Unique(Seq("doc_id")),
          Custom("non_empty_text", length(col("text")) > 0))))
        .count())
      docs.unpersist()
    }

    for (n <- annTiers if only.forall(_ == "ann")) {
      val vecs = synthVecs(spark, n)
      vecs.cache().count()
      val queries = vecs.filter(col("vec_id") % (n / 100) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      run("lsh_topk", n)(Similarity.lshTopK(vecs, queries, 5, numPlanes = 14).count())
      run("ivf_topk", n)(
        Similarity.ivfTopK(vecs, queries, 5, numCells = 64, nProbe = 4).count())
      // silhouette gate: train once (sample-bounded), then ONE broadcast
      // map pass + a ≤ k-cell aggregate — expect linear in n
      run("silhouette", n) {
        val cs = Similarity.trainKMeans(vecs, numCells = 16)
        Similarity.silhouetteReport(vecs, cs).count()
      }
      // embedding near-dup pairs via one-sided multi-probe LSH. Planes
      // scale with corpus (≈ log2(n) + 6) so expected bucket occupancy
      // stays O(1) on a uniform corpus — the knob the operator documents;
      // under-provisioned planes make buckets corpus-fraction sized and
      // the within-bucket join quadratic BY DATA (same story as minhash
      // degenerate buckets).
      val planes = math.min(40, (math.log(n.toDouble) / math.log(2)).ceil.toInt + 6)
      run("cos_pairs_lsh", n)(
        Similarity.lshCosinePairs(vecs, 0.999, numPlanes = planes).count())
      // r11: full d=64 Gram pass — per-partition fold to (n, Σx, Σxᵢxⱼ),
      // only 17 KB summaries tree-combine, so wall must track the SCAN
      // (~linear in vectors), never the 2080-cell output
      run("veccov64", n)(
        graft.operators.Profiling.vectorCovariance(vecs, "embedding",
          dims = 64).count())
      if (n == 50000L) {
        // recall@5 of the approximate paths vs the exact baseline — the
        // quality side of the speed/recall trade the knobs tune
        def pairs(df: DataFrame): Set[(Long, Long)] = df
          .select(col("query_id"), col("nn_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairs(Similarity.bruteForceTopK(vecs, queries, 5))
        def recall(r: Set[(Long, Long)]): Double =
          (r & exact).size.toDouble / exact.size
        // cheap configs and recall-tuned configs: the knobs ARE the
        // speed/recall trade (this synthetic corpus is uniform random —
        // no cluster structure, the hardest case for ANN)
        for ((label, approx) <- Seq(
          "lsh p=14" -> Similarity.lshTopK(vecs, queries, 5, numPlanes = 14),
          "lsh p=8" -> Similarity.lshTopK(vecs, queries, 5, numPlanes = 8),
          "ivf probe=4" -> Similarity.ivfTopK(vecs, queries, 5,
            numCells = 64, nProbe = 4),
          "ivf probe=16" -> Similarity.ivfTopK(vecs, queries, 5,
            numCells = 64, nProbe = 16)))
          println(f"[stress] recall@5 vs brute (n=$n) $label: ${recall(pairs(approx))}%.2f")
      }
      vecs.unpersist()
    }

    // ANN recall on a CLUSTERED manifold — the realistic embedding case
    // (uniform random vectors are the adversarial floor: no structure for
    // LSH planes or IVF cells to find). Points = cluster center + noise;
    // true neighbors are overwhelmingly same-cluster, which is exactly the
    // structure real text/image embeddings have.
    if (only.contains("annrecall")) {
      val n = 200000L
      val cClusters = 256
      val d = 64
      val sigma = 0.08 // noise scale ≪ inter-center distance
      val vecs = spark.range(n).toDF("vec_id")
        .withColumn("embedding", expr(
          s"transform(sequence(1, $d), i -> cast(" +
            s"(pmod(xxhash64(pmod(vec_id, $cClusters), i), 1000) / 1000.0 - 0.5)" +
            s" + $sigma * (pmod(xxhash64(vec_id, i, 7), 1000) / 1000.0 - 0.5)" +
            s" as float))"))
        .cache()
      vecs.count()
      val queries = vecs.filter(col("vec_id") % (n / 200) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def pairs(df: DataFrame): Set[(Long, Long)] = df
        .select(col("query_id"), col("nn_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Similarity.bruteForceTopK(vecs, queries, 5))
      for ((label, mk) <- Seq[(String, () => DataFrame)](
        "lsh p=14" -> (() => Similarity.lshTopK(vecs, queries, 5, numPlanes = 14)),
        "lsh p=10" -> (() => Similarity.lshTopK(vecs, queries, 5, numPlanes = 10)),
        "ivf c=256 probe=1" -> (() => Similarity.ivfTopK(vecs, queries, 5,
          numCells = 256, nProbe = 1)),
        "ivf c=256 probe=4" -> (() => Similarity.ivfTopK(vecs, queries, 5,
          numCells = 256, nProbe = 4)),
        "ivf c=64 probe=4" -> (() => Similarity.ivfTopK(vecs, queries, 5,
          numCells = 64, nProbe = 4)),
        // IVF-PQ: the candidate join carries 8-byte codes, not 256-byte
        // vectors (32× lighter rows through the hot join); exact rerank
        // restores precision on the shortlist. The rerank shortlist must
        // COVER the per-query ambiguity set (~780 same-cluster members
        // whose cosine gaps sit below 8-byte-code resolution): r=50
        // under-covers by design, r=1000 is the paper's operating point
        "ivfpq c=64 m=8 r=50" -> (() => Similarity.ivfPqTopK(vecs, queries, 5,
          numCells = 64, nProbe = 4, m = 8, rerankSize = 50)),
        "ivfpq c=64 m=8 r=1000" -> (() => Similarity.ivfPqTopK(vecs, queries, 5,
          numCells = 64, nProbe = 4, m = 8, rerankSize = 1000)),
        // auto mode: shortlist = max(k, p95 cell population) derived
        // from the code frame's histogram — must land in the r=1000
        // recall band without the manual knob
        "ivfpq c=64 m=8 r=auto" -> (() => Similarity.ivfPqTopK(vecs, queries, 5,
          numCells = 64, nProbe = 4, m = 8)),
        // 16k cells over 200k vectors = ~12 vectors/cell: probing 64
        // cells (~0.4%) covers ~one planted cluster — the sane knob
        // point for a many-cells codebook
        "ivf hier c=16k probe=64" -> (() => Similarity.ivfTopK(vecs, queries, 5,
          numCells = 16384, nProbe = 64, hierarchicalAbove = 4096)))) {
        val t0 = System.nanoTime()
        val got = pairs(mk())
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = (got & exact).size.toDouble / exact.size
        println(f"[stress] clustered recall@5 (n=$n, C=$cClusters, sigma=$sigma) " +
          f"$label%-18s recall=$recall%.3f  ${sec}%6.2f s")
      }
      vecs.unpersist()
    }

    // Z-order pruning END-TO-END: write the same 2-D table twice — z-order
    // clustered vs single-key sorted — with small parquet row groups, run
    // the identical 2-D box scan on both, and read the SCAN metrics (rows
    // surviving row-group pruning, files touched) from the executed plan.
    if (only.contains("zorder")) {
      val n = if (xl) 16000000L else 4000000L
      val dom = 4096L
      val box = 64L // query box side: dom/64 of each dimension
      val df = spark.range(n).select(
        pmod(col("id") * 2654435761L, lit(dom)).as("u"),
        pmod(col("id") * 40503L, lit(dom)).as("t"),
        col("id").as("payload"))
      val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      val (zdir, kdir) = (s"$base/z", s"$base/k")
      // ~1 MB row groups → row-group pruning granularity well below a file
      graft.operators.DataLayout.clusterByZOrder(df, "u", "t", Some(64))
        .write.option("parquet.block.size", 1 << 20).parquet(zdir)
      df.repartitionByRange(64, col("u")).sortWithinPartitions("u")
        .write.option("parquet.block.size", 1 << 20).parquet(kdir)
      def scanStats(dir: String): (Long, Long, Double) = {
        val agg = spark.read.parquet(dir)
          .filter(col("u") >= 1024 && col("u") < lit(1024 + box) &&
            col("t") >= 2048 && col("t") < lit(2048 + box))
          .agg(sum("payload").as("s"), count(lit(1)).as("n"))
        val t0 = System.nanoTime()
        agg.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val scans = allScans(agg.queryExecution.executedPlan)
        (scans.map(_.metrics("numOutputRows").value).sum,
          scans.map(_.metrics("numFiles").value).sum, sec)
      }
      val (zRows, zFiles, zSec) = scanStats(zdir)
      val (kRows, kFiles, kSec) = scanStats(kdir)
      println(f"[stress] zorder scan (n=$n, box=$box x $box of $dom x $dom): " +
        f"z-order rows=$zRows files=$zFiles ${zSec}%5.2f s | " +
        f"key-sort rows=$kRows files=$kFiles ${kSec}%5.2f s | " +
        f"rows-read ratio=${kRows.toDouble / math.max(1, zRows)}%.1f x")
    }

    // Persisted-IVF probe pruning: the candidate-selection-at-the-scan
    // claim, measured — files/rows read for a probed query batch vs the
    // full store.
    if (only.contains("ivfindex")) {
      val n = 800000L
      val cells = 64
      val nProbe = 4
      val vecs = synthVecs(spark, n)
      val dest = java.nio.file.Files.createTempDirectory("graft-ivfix").toString
      val tB0 = System.nanoTime()
      Similarity.buildIvfIndex(vecs, dest, numCells = cells)
      val buildSec = (System.nanoTime() - tB0) / 1e9
      // pruning is PER BATCH (the probed cells of all queries union): a
      // 50-query batch covers ~all 64 cells by coupon-collecting, so the
      // point-lookup shape — small batches — is where the claim lives
      val queries = vecs.filter(col("vec_id") % (n / 3) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // time the WHOLE probe call: ivfTopKFromIndex eagerly reads the
      // codebook and collects the probed-cell set — per-batch costs a
      // real serving path pays every time
      val t0 = System.nanoTime()
      val topk = Similarity.ivfTopKFromIndex(spark, dest, queries, 5, nProbe)
      // collect() executes topk's OWN queryExecution (count() would build
      // a different plan and leave these metrics at zero)
      val rows = topk.collect().length
      val probeSec = (System.nanoTime() - t0) / 1e9
      val vecScans = allScans(topk.queryExecution.executedPlan)
        .filter(_.metadata.get("Location").exists(_.contains("vectors")))
      val readRows = vecScans.map(_.metrics("numOutputRows").value).sum
      val storeFiles = new java.io.File(s"$dest/vectors").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
      println(f"[stress] ivf index (n=$n, cells=$cells, nProbe=$nProbe): " +
        f"build ${buildSec}%5.1f s ($storeFiles store files); probe batch " +
        f"${probeSec}%5.2f s ($rows results); store rows read=$readRows " +
        f"of $n (${readRows * 100.0 / n}%.1f%%)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dest))
    }

    // the IVF store's partitioned writes on a SKEWED store with fewer
    // cells than shuffle partitions: build 2 cells from a quarter of the
    // corpus, append the other three quarters pulled to one point (so one
    // cell takes the whole append), then rebuild
    if (only.contains("ivfskew")) {
      val n = 800000L
      val cells = 2
      val vecs = synthVecs(spark, n)
      val dest = java.nio.file.Files.createTempDirectory("graft-ivfskew").toString
      def filesPerCell(dir: String): String =
        new java.io.File(s"$dir/vectors").listFiles()
          .filter(_.getName.startsWith("cell=")).sortBy(_.getName)
          .map(d => s"${d.getName}:${d.listFiles().count(_.getName.endsWith(".parquet"))}")
          .mkString(" ")
      val (buildSec, _) = time(Similarity.buildIvfIndex(
        vecs.filter(col("vec_id") % 4 === 0), dest, numCells = cells))
      val built = filesPerCell(dest)
      val hot = vecs.filter(col("vec_id") % 4 =!= 0).withColumn("embedding",
        expr("transform(embedding, x -> cast(0.4 + x / 100 as float))"))
      val (appendSec, census) = time(Similarity.appendToIvfIndex(hot, dest))
      val appended = filesPerCell(dest)
      val (rebuildSec, _) = time(Similarity.rebuildIvfIndexIfSkewed(spark,
        dest, skewThreshold = 1.0, numCells = cells))
      val rebuilt = filesPerCell(graft.core.Generations.resolve(spark, dest))
      println(f"[stress] ivf skew (n=$n, cells=$cells, shuffle partitions=" +
        f"${spark.sessionState.conf.numShufflePartitions}): build ${buildSec}%5.1f s " +
        f"[$built]; append ${appendSec}%5.1f s, census " +
        f"${census.toSeq.sorted.mkString(",")} [$appended]; rebuild " +
        f"${rebuildSec}%5.1f s [$rebuilt]")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dest))
    }

    // r14: full persisted-store LIFECYCLE re-price under the shared
    // graft.core.Generations layer — build / probe / append / probe /
    // rebuild / probe for BOTH stores at the XL tier: probe flatness
    // must survive the claim/commit/resolve indirection, the delta
    // files, and the generation swap.
    if (only.contains("lifecycle")) {
      import spark.implicits._
      val nDocs = if (xl) 1280000L else 80000L
      val docs = synthDocs(spark, nDocs).cache()
      docs.count()
      val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
        (3L, "a 1e 3d7")).toDF("query_id", "qtext")
      val bdest = java.nio.file.Files
        .createTempDirectory("graft-lc-bm25").toString
      run("lc_bm25_build", nDocs) {
        graft.operators.TextAnalysis.buildBm25Index(docs, bdest); nDocs
      }
      run("lc_bm25_probe1", nDocs)(graft.operators.TextAnalysis
        .bm25ScoresFromIndex(spark, bdest, qs).count())
      val delta = synthDocs(spark, nDocs / 100)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
      run("lc_bm25_append", nDocs)(
        graft.operators.TextAnalysis.appendToBm25Index(delta, bdest))
      run("lc_bm25_probe2", nDocs)(graft.operators.TextAnalysis
        .bm25ScoresFromIndex(spark, bdest, qs).count())
      run("lc_bm25_rebuild", nDocs) {
        graft.operators.TextAnalysis.buildBm25Index(
          docs.unionAll(delta), bdest); nDocs
      }
      run("lc_bm25_probe3", nDocs)(graft.operators.TextAnalysis
        .bm25ScoresFromIndex(spark, bdest, qs).count())

      val nVecs = if (xl) 1280000L else 200000L
      val vecs = synthVecs(spark, nVecs).cache()
      vecs.count()
      val vdest = java.nio.file.Files
        .createTempDirectory("graft-lc-ivf").toString
      val vqueries = vecs.filter(col("vec_id") % (nVecs / 3) === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      run("lc_ivf_build", nVecs) {
        Similarity.buildIvfIndex(vecs, vdest, numCells = 64); nVecs
      }
      run("lc_ivf_probe1", nVecs)(
        Similarity.ivfTopKFromIndex(spark, vdest, vqueries, 5).count())
      val vdelta = synthVecs(spark, nVecs / 100)
        .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
      run("lc_ivf_append", nVecs)(
        Similarity.appendToIvfIndex(vdelta, vdest).values.sum)
      run("lc_ivf_probe2", nVecs)(
        Similarity.ivfTopKFromIndex(spark, vdest, vqueries, 5).count())
      run("lc_ivf_rebuild", nVecs) {
        // threshold 1.0 <= any real census skew -> always rebuilds:
        // this times the staged gen-N write + CURRENT swing + GC
        if (Similarity.rebuildIvfIndexIfSkewed(spark, vdest,
          skewThreshold = 1.0, numCells = 64)) 1L else 0L
      }
      run("lc_ivf_probe3", nVecs)(
        Similarity.ivfTopKFromIndex(spark, vdest, vqueries, 5).count())
    }

    // Chunk-dedup shuffle bytes: the hashed-key path promises ~16 bytes
    // per chunk through the exchanges (keys + the small loser set) where
    // the text-keyed baseline moves every chunk's TEXT twice (keep-first
    // window + id-keyed reassembly). Measured from the shuffle writes of
    // every stage each path runs — same corpus, both paths.
    if (only.contains("chunkbytes")) {
      val n = if (xl) 2000000L else 500000L
      // 40-word docs of 8-char words (web-ish token length); every 10th
      // doc is a FULL copy from a 997-doc pool (≈10% duplicated chunks —
      // boilerplate-style dup rate); hashed tokens avoid the synthetic
      // periodic-text cross-match hazard
      val docs = spark.range(n).toDF("doc_id")
        .withColumn("pool", when(col("doc_id") % 10 === 0,
          col("doc_id") % 997).otherwise(col("doc_id")))
        .withColumn("text", expr("concat_ws(' ', transform(sequence(1, 40), " +
          "i -> substring(hex(xxhash64(pool, i)), 1, 8)))"))
        .select("doc_id", "text")
        .cache()
      docs.count()
      // listener-counted, not executed-plan metrics: dedupChunks
      // materializes its loser table eagerly (localCheckpoint), so part
      // of its shuffle happens OUTSIDE the final Dataset's queryExecution
      def shuffled(run: => org.apache.spark.sql.DataFrame)
      : (Long, Long, Double) = {
        val counter = new JobCounter(spark.sparkContext)
        try {
          val t0 = System.nanoTime()
          run.select(sum(length(col("clean_text"))).as("sig"),
            count(lit(1)).as("nn")).collect()
          val sec = (System.nanoTime() - t0) / 1e9
          (counter.shuffleWriteBytes, counter.shuffleWriteRecords, sec)
        } finally counter.close()
      }
      val (hB, hR, hSec) = shuffled(
        Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 8))
      val (tB, tR, tSec) = shuffled(
        Dedup.dedupChunksTextKeyed(docs, "doc_id", "text", chunkTokens = 8))
      val chunks = n * 5 // 40 words / 8-token chunks
      println(f"[stress] chunkbytes (n=$n docs, ~$chunks chunks): " +
        f"hashed ${hB / 1e6}%8.1f MB / $hR rows / $hSec%5.1f s " +
        f"(${hB.toDouble / chunks}%5.1f B/chunk) | " +
        f"text-keyed ${tB / 1e6}%8.1f MB / $tR rows / $tSec%5.1f s " +
        f"(${tB.toDouble / chunks}%5.1f B/chunk) | " +
        f"bytes ratio ${tB.toDouble / math.max(1, hB)}%.1f x")
      docs.unpersist()
    }

    // Hierarchical-codebook assignment: a FLAT codebook's corpus
    // assignment pass costs n·numCells·dim (the documented ceiling at a
    // few thousand cells); the two-level codebook's costs
    // n·(coarse+fine)·dim ≈ n·2√numCells·dim. Measured: assignment
    // wall-clock vs cell count — hier stays near-flat 256 → 16k while
    // flat grows linearly with cells (flat run capped at 1024 cells to
    // keep the tier's runtime sane; its slope is already visible).
    if (only.contains("hierkmeans")) {
      val n = 200000L
      val vecs = synthVecs(spark, n).cache()
      vecs.count()
      for (cells <- Seq(256, 1024, 4096, 16384)) {
        val tT0 = System.nanoTime()
        val cb = Similarity.trainKMeansHier(vecs, cells, iters = 3)
        val trainSec = (System.nanoTime() - tT0) / 1e9
        val tA0 = System.nanoTime()
        Similarity.kmeansAssignHier(vecs, cb).count()
        val hierSec = (System.nanoTime() - tA0) / 1e9
        val flat = if (cells <= 1024) {
          val cents = Similarity.trainKMeans(vecs, cells, iters = 3)
          val t0 = System.nanoTime()
          Similarity.kmeansAssign(vecs, cents).count()
          f", flat assign ${(System.nanoTime() - t0) / 1e9}%6.2f s"
        } else ""
        println(f"[stress] hierkmeans (n=$n, cells=$cells): " +
          f"realized=${cb.numCells}, train $trainSec%5.1f s; " +
          f"hier assign $hierSec%6.2f s" + flat)
      }
      vecs.unpersist()
    }

    // LM quality ops: bigram-LM train/score and the DSIR cut over the
    // clique-free corpus. The model is O(unique bigrams) ≈ O(corpus
    // tokens) at this vocab — the honest shuffle-heavy regime: every
    // stage is key-only joins/aggs, so cost should track corpus size
    // ~linearly; a superlinear jump flags a broken join shape.
    if (only.contains("perplexity")) {
      import graft.operators.{DataSelection, LangModel}
      for (n <- docTiers) {
        val docs = synthDocs(spark, n)
        docs.cache().count()
        run("lm_train", n)(LangModel.trainBigramLM(docs, "text").count())
        // prepare OUTSIDE the timed block: lm_score measures the scoring
        // joins alone, not a re-training pass. The action must CONSUME
        // ce — under a bare count() Catalyst eliminates the unique-keyed
        // left joins and the "scoring" times near-zero.
        val pm = LangModel.prepare(LangModel.trainBigramLM(docs, "text"))
        run("lm_score", n)(
          LangModel.scorePerplexity(docs, pm, "doc_id", "text")
            .agg(count(col("ce"))).first().getLong(0))
        run("dsir_select", n) {
          val target = docs.filter(col("doc_id") % 20 === 0)
          DataSelection.selectByImportance(docs, target, "doc_id", "text",
            k = 1000, seed = 7).count()
        }
        // trigram stupid backoff: train (3 gram aggs) + score (5 key-only
        // joins); the action consumes backoff_ce (count() would eliminate
        // the scoring joins — see lm_score)
        run("backoff3", n) {
          val m3 = LangModel.trainNgramLM(docs, "text", maxOrder = 3)
          LangModel.scoreStupidBackoff(docs, m3, "doc_id", "text")
            .agg(count(col("backoff_ce"))).first().getLong(0)
        }
        // the hashed-key mode: same train+score, 8-byte gram keys on
        // every shuffle — the string tier's top-end sort spill (4× data
        // → 5.8× time) should flatten to ~linear here
        run("backoff3h", n) {
          val m3 = LangModel.trainNgramLM(docs, "text", maxOrder = 3,
            hashedKeys = true)
          LangModel.scoreStupidBackoff(docs, m3, "doc_id", "text")
            .agg(count(col("backoff_ce"))).first().getLong(0)
        }
        docs.unpersist()
      }
    }

    // NB classifier train + score, hashed feature keys — the same join
    // shape as lm_score (one feature-keyed agg to train, one model
    // equi-join to score), so its tiers should track the lm_score line
    // ~linearly. Labels are text-independent (cost is what's measured);
    // 20% positive keeps both classes populated for the fail-loud check.
    if (only.contains("classify")) {
      import graft.operators.Classifier
      for (n <- docTiers) {
        val docs = synthDocs(spark, n)
          .withColumn("label", col("doc_id") % 5 === 0)
          .cache()
        docs.count()
        run("nb_train", n)(
          Classifier.trainNaiveBayes(docs, "label", "text",
            hashedKeys = true).features.count())
        // model prepared OUTSIDE the timed block (lm_score convention);
        // the action consumes logodds so the scoring join can't be
        // optimized away under a bare count()
        val m = Classifier.trainNaiveBayes(docs, "label", "text",
          hashedKeys = true)
        run("nb_score", n)(
          Classifier.scoreLogOdds(docs, m, "doc_id", "text")
            .agg(count(col("logodds"))).first().getLong(0))
        docs.unpersist()
      }
    }

    // Iterative PageRank: per-round cost is one equi-join + one hash agg
    // over (id, double) pairs, so FIXED-ITERATION wall should track edge
    // count ~linearly — a superlinear jump flags compounding lineage /
    // plan growth or a broken per-round join shape (the failure mode an
    // iterative operator can hide that one-shot operators can't). Graph:
    // n edges over n/10 nodes (avg outdeg ~10), hashed dst so in-degree
    // varies but no planted hot node; ~9% of nodes end up dangling, so
    // the redistribution variant exercises its extra per-round scalar
    // aggregate too. Weighted runs on the same edges with a 1..5 weight.
    if (only.contains("graph")) {
      for (n <- Seq(1000000L, 4000000L, 16000000L)) {
        val nodes = n / 10
        val edges = spark.range(n).select(
          pmod(col("id") * 2654435761L, lit(nodes)).as("src"),
          pmod(xxhash64(col("id")), lit(nodes)).as("dst"),
          (pmod(xxhash64(col("id"), lit(3)), lit(5)) + 1).cast("double").as("w"))
          .cache()
        edges.count()
        run("pagerank6", n)(
          graft.operators.Graph.pageRank(edges, "src", "dst", iters = 6)
            .count())
        run("pagerank6_w", n)(
          graft.operators.Graph.pageRank(edges, "src", "dst", iters = 6,
            weightCol = Some("w")).count())
        run("pagerank6_dang", n)(
          graft.operators.Graph.pageRank(edges, "src", "dst", iters = 6,
            redistributeDangling = true).count())
        // r9 graph family. concomp forces the distributed loop (the
        // driver union-find would otherwise absorb the 1M tier and the
        // numbers would measure two different algorithms). triangles
        // crosses the 4M broadcast gate between the 4M and 16M tiers BY
        // DESIGN — the jump, if any, prices the fused-vs-shuffled plan
        // change. kCore at k=12 peels the avg-degree-20 hash graph
        // partway (non-empty work at every tier).
        run("concomp", n)(
          graft.operators.Graph.connectedComponents(edges, "src", "dst",
            maxIter = 30, maxDriverEdges = 0).count())
        run("triangles", n)(
          graft.operators.Graph.triangleCounts(edges, "src", "dst").count())
        // r10: the SHUFFLED wedge path, gate forced off — the plan a
        // 100 TB graph actually takes (the wedge stream crosses an
        // exchange into the closure join instead of probing a
        // broadcast map). Growth must stay wedge-bounded (~Σ deg²),
        // not quadratic. clusteringCoefficient shares the wedge core
        // and adds only a degree join on top.
        run("triangles_shuf", n)(
          graft.operators.Graph.triangleCounts(edges, "src", "dst",
            maxBroadcastEdges = 0).count())
        run("clustering_shuf", n)(
          graft.operators.Graph.clusteringCoefficient(edges, "src", "dst",
            maxBroadcastEdges = 0).count())
        run("kcore12", n)(
          graft.operators.Graph.kCore(edges, "src", "dst", k = 12).count())
        // r11: link prediction shares the wedge volume with triangles
        // but its pair-keyed aggregate holds ~wedge-cardinality state
        // (a random graph's neighbor pairs barely repeat) — the honest
        // cost of exact CN. Crossing the 4M broadcast gate between the
        // 4M and 16M tiers prices the fused-vs-shuffled change here
        // exactly as it does for triangles.
        run("linkpred2", n)(
          graft.operators.Graph.linkPrediction(edges, "src", "dst",
            minCommon = 2).count())
        edges.unpersist()
      }
    }

    // Round-9 map-heavy text operators: all three are shuffle-free or
    // single-shuffle plans, so wall should track doc count ~linearly
    // (winnow's one doc-keyed sort is the only super-linear term, and
    // only within partitions).
    if (only.contains("textops")) {
      for (n <- Seq(80000L, 320000L, 1280000L)) {
        val docs = synthDocs(spark, n).cache()
        docs.count()
        run("nfc_clean", n)(
          docs.select(graft.operators.TextAnalysis.normalizeText(col("text"))
            .as("t")).queryExecution.toRdd.count())
        run("chunk_passages", n)(
          graft.operators.TextAnalysis.chunkPassages(docs, "doc_id", "text",
            chunkTokens = 16, stride = 12).queryExecution.toRdd.count())
        run("winnow", n)(
          graft.operators.Dedup.winnowFingerprints(docs, "doc_id", "text",
            k = 3, w = 4).queryExecution.toRdd.count())
        // r11: RAKE is two explode passes + two keyed aggs + one
        // word-keyed join — wall should track corpus size like the
        // other single-shuffle text ops
        run("rake50", n)(
          graft.operators.TextAnalysis.rakeKeywords(docs, "text", k = 50)
            .count())
        // r11: containment's pair join is fan-out-bounded by Σ df² over
        // 2 ≤ df ≤ cap — on this shared-vocabulary corpus gram reuse is
        // real, so the row prices the inverted index + capped join, not
        // a no-op df=1 prune
        run("containment", n)(
          graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
            n = 5, threshold = 0.8, maxGramDf = 100).count())
        docs.unpersist()
      }
    }

    // Round-9 session-3 event-analytics tier: all four ops are
    // one-window or keyed-agg plans, so wall should track event count
    // ~linearly when per-user history is held constant (users scale
    // with n; 100 events/user at every tier).
    if (only.contains("events")) {
      import graft.operators.{Events, TimeSeries}
      for (n <- Seq(1000000L, 4000000L, 16000000L)) {
        val users = n / 100
        val ev = spark.range(n).select(
          col("id").as("event_id"),
          (col("id") % users).as("user_id"),
          pmod(xxhash64(col("id")), lit(30L * 86400000000000L)).as("ts"),
          element_at(array(lit("view"), lit("click"), lit("purchase"),
              lit("signup"), lit("error")),
            (pmod(xxhash64(col("id"), lit(7)), lit(5)) + 1).cast("int"))
            .as("event_type"),
          (pmod(xxhash64(col("id"), lit(13)), lit(10000L)) / lit(100.0))
            .as("value"))
        ev.cache().count()
        run("sess_paths", n)(
          Events.sessionPaths(ev, "user_id", "event_type", "ts",
            "event_id", gapNs = 1800000000000L, k = 15).count())
        run("roll_zscore", n)(
          TimeSeries.rollingZScore(ev, "user_id", "ts", "event_id",
            "value", lookback = 20).queryExecution.toRdd.count())
        run("retention", n)(
          Events.cohortRetention(ev, "user_id", "ts",
            bucketNs = 86400000000000L).count())
        run("transitions", n)(
          Events.transitionMatrix(ev, "user_id", "event_type", "ts",
            "event_id").count())
        // r11 window family: both share roll_zscore's one-exchange
        // keyed-window shape, so wall must track it, not edge off it
        run("ewma8", n)(
          TimeSeries.ewmaSmooth(ev, "user_id", "ts", "event_id",
            "value").queryExecution.toRdd.count())
        run("chgpt4", n)(
          TimeSeries.meanShiftChangepoints(ev, "user_id", "ts",
            "event_id", "value", window = 4, minShiftUnits = 2500L)
            .queryExecution.toRdd.count())
        run("welch", n)(
          graft.operators.Profiling.welchTTest(
            ev.withColumn("seg", pmod(col("user_id"), lit(5L))),
            "seg", "event_type", "purchase", "value").count())
        // r11: Apriori rules over ~10-item baskets derived from the
        // same event frame (basket = user-day, item = hashed product):
        // the Apriori prune + per-basket bound keep the pair fan-out
        // linear in events, the shape the operator promises
        run("assoc2", n)(
          graft.operators.Associations.associationRules(
            ev.select((col("user_id") * 31L +
                expr("ts div 86400000000000")).as("bk"),
              pmod(xxhash64(col("event_id")), lit(2000L)).as("it")),
            "bk", "it", minSupport = 2L).count())
        ev.unpersist()
      }
    }

    // BPE merge-loop scaling: the incremental pair bookkeeping should
    // make merge count ~free relative to the recount's O(merges × dict)
    // (the distributed word-frequency pass is identical either way).
    if (only.contains("bpe")) {
      import graft.operators.Bpe
      val docs = synthDocs(spark, 320000L)
      docs.cache().count()
      for (merges <- Seq(1024, 8192, 32768)) {
        val t0 = System.nanoTime()
        val v = Bpe.train(docs, "text", numMerges = merges)
        println(f"[stress] bpe train merges=$merges%-6d " +
          f"learned=${v.merges.length}%-6d ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      docs.unpersist()
    }

    // Streaming throughput: real MemoryStream drives at stress size —
    // events/sec through sessionizeStream and docs/sec through
    // nearDupVerdicts, with state rows/bytes from the progress feed.
    // (The CORRECTNESS parity drives stay tiny; this measures rate.)
    if (only.contains("stream")) {
      import graft.streaming.Streams
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val base = 1700000000000L

      // sessionize: 1M events, 20k users, 16 micro-batches
      val nEv = 1000000
      val events = (0 until nEv).map { i =>
        Streams.Event(i.toLong, new java.sql.Timestamp(base + i * 3L),
          (i % 20000).toLong, "t", 1.0)
      }
      val inE = MemoryStream[Streams.Event]
      val qS = Streams.sessionizeStream(inE.toDS(), gapMs = 60000L)
        .writeStream.format("memory").queryName("stress_sessionize")
        .outputMode("append").start()
      val tE0 = System.nanoTime()
      events.grouped(nEv / 16).foreach { g =>
        inE.addData(g); qS.processAllAvailable() }
      val eSec = (System.nanoTime() - tE0) / 1e9
      val sState = qS.recentProgress.flatMap(_.stateOperators)
      println(f"[stress] sessionizeStream: $nEv events / ${eSec}%.1f s = " +
        f"${nEv / eSec}%.0f ev/s; state rows max=" +
        f"${if (sState.isEmpty) 0L else sState.map(_.numRowsTotal).max}, " +
        f"mem max=${if (sState.isEmpty) 0L else sState.map(_.memoryUsedBytes).max} B")
      qS.stop()

      // near-dup verdicts: 50k docs, 8 micro-batches (minhash + banded
      // state is the cost; vocabulary large enough to avoid degenerate
      // buckets, matching the batch tier's corpus shape)
      val nDocs = 50000
      val docRows = synthDocs(spark, nDocs.toLong).select("doc_id", "text")
        .collect().zipWithIndex.map { case (r, i) =>
          Streams.DocEvent(r.getLong(0),
            new java.sql.Timestamp(base + i * 100L), r.getString(1)) }
      val inD = MemoryStream[Streams.DocEvent]
      val qD = Streams.nearDupVerdicts(inD.toDS())
        .writeStream.format("memory").queryName("stress_neardup")
        .outputMode("append").start()
      val tD0 = System.nanoTime()
      docRows.grouped(nDocs / 8).foreach { g =>
        inD.addData(g.toSeq); qD.processAllAvailable() }
      val dSec = (System.nanoTime() - tD0) / 1e9
      val dState = qD.recentProgress.flatMap(_.stateOperators)
      println(f"[stress] nearDupVerdicts: $nDocs docs / ${dSec}%.1f s = " +
        f"${nDocs / dSec}%.0f docs/s; state rows max=" +
        f"${if (dState.isEmpty) 0L else dState.map(_.numRowsTotal).max}, " +
        f"mem max=${if (dState.isEmpty) 0L else dState.map(_.memoryUsedBytes).max} B")
      qD.stop()

      // stream-stream interval join (the attribution join): 500k clicks ×
      // 500k purchases over 50k users, purchases landing 1.5 s after
      // their click (≈1 match per click inside the [0, +5 min] window);
      // both sides watermarked 10 min, so steady-state join state buffers
      // ~watermark-window rows per side — rate + state rows/bytes from
      // the progress feed, like the two tiers above
      val nJ = 500000
      val clicks = (0 until nJ).map { i =>
        Streams.Event(i.toLong, new java.sql.Timestamp(base + i * 6L),
          (i % 50000).toLong, "click", 1.0)
      }
      val buys = (0 until nJ).map { i =>
        Streams.Event((i + 10000000).toLong,
          new java.sql.Timestamp(base + i * 6L + 1500L),
          (i % 50000).toLong, "purchase", 1.0)
      }
      val inL = MemoryStream[Streams.Event]
      val inR = MemoryStream[Streams.Event]
      val qJ = Streams.intervalJoinStream(inL.toDS(), inR.toDS(),
          beforeMs = 0L, afterMs = 300000L, watermarkDelay = "10 minutes")
        .writeStream.format("memory").queryName("stress_ijoin")
        .outputMode("append").start()
      val tJ0 = System.nanoTime()
      val jChunks = 16
      clicks.grouped(nJ / jChunks).zip(buys.grouped(nJ / jChunks)).foreach {
        case (lg, rg) =>
          inL.addData(lg); inR.addData(rg); qJ.processAllAvailable()
      }
      val jSec = (System.nanoTime() - tJ0) / 1e9
      val jOut = spark.table("stress_ijoin").count()
      val jState = qJ.recentProgress.flatMap(_.stateOperators)
      println(f"[stress] intervalJoinStream: ${2 * nJ} rows in / ${jSec}%.1f s" +
        f" = ${2 * nJ / jSec}%.0f rows/s ($jOut pairs); state rows max=" +
        f"${if (jState.isEmpty) 0L else jState.map(_.numRowsTotal).max}, " +
        f"mem max=${if (jState.isEmpty) 0L else jState.map(_.memoryUsedBytes).max} B")
      qJ.stop()
    }

    // Round-13 session-2 additions: the permutation test's reps×n
    // fan-out through the grouped chunked rank, BH's single-window
    // honesty, privacy/inclusion aggregates — expect rank-bound
    // ~linear for perm/bh, aggregate-bound flat-to-linear for the rest.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "r13ops")) {
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          concat(lit("g"), pmod(col("id"), lit(2)).cast("string")).as("g"),
          pmod(col("id"), lit(1000)).as("qk"),
          pmod(xxhash64(col("id"), lit(7)), lit(50)).as("sens"))
        .cache()
      rows.count()
      run("perm_test_r19", n)(
        graft.operators.Profiling.permutationTestMeanDiff(
          rows, "id", "v", "g", "g0", reps = 19).count())
      run("bh_fdr", n)(
        graft.operators.Profiling.benjaminiHochberg(
          rows.select(col("id"), (col("v") / 100.0).as("p")), "id", "p")
          .count())
      run("k_anon", n)(
        graft.operators.Privacy.kAnonymityReport(rows, Seq("qk"), 10L)
          .count())
      run("l_div", n)(
        graft.operators.Privacy.lDiversityClasses(rows, Seq("qk"),
          "sens", 5L).count())
      run("ind_check", n)(
        graft.operators.Profiling.inclusionCoverage(
          rows, "qk", rows.filter(col("id") % 3 === 0), "id").count())
      rows.unpersist()
    }

    // Round-14 additions: Pettitt's single-task series windows (the
    // honest maxRows-gated price), the survival CI/RMST level folds
    // (level-bounded — must stay flat when levels are), fairness /
    // burstiness / JS divergence (keyed-aggregate shapes — scan-bound).
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "r14ops")) {
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          concat(lit("g"), pmod(col("id"), lit(5)).cast("string")).as("g"),
          (pmod(xxhash64(col("id"), lit(3)), lit(2)) === 0).as("y"),
          (pmod(xxhash64(col("id"), lit(5)), lit(3)) === 0).as("yh"),
          // durations quantized to 10k levels — the gate-passing regime
          pmod(xxhash64(col("id"), lit(9)), lit(10000)).as("dur"),
          (pmod(xxhash64(col("id"), lit(11)), lit(4)) > 0).as("ev"))
        .cache()
      rows.count()
      run("pettitt", n)(
        graft.operators.TimeSeries.pettittTest(rows, "id", "id", "v",
          unitScale = 100L, maxRows = 20000000L).count())
      run("km_ci", n)(
        graft.operators.Events.kaplanMeierCI(rows, "dur", "ev").count())
      run("rmst", n)(
        graft.operators.Events.restrictedMeanSurvival(rows, "dur", "ev",
          tau = 5000L).count())
      run("fairness", n)(
        graft.operators.Privacy.fairnessReport(rows, "g", "y", "yh")
          .count())
      run("psi_profile", n)(
        graft.operators.Profiling.psiProfile(
          rows.filter(col("id") % 2 === 0), rows.filter(col("id") % 2 === 1),
          Seq("v", "dur")).count())
      rows.unpersist()
    }
    for (n <- (Seq(80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil))
           if only.forall(_ == "r14text")) {
      val docs = synthDocs(spark, n).cache()
      docs.count()
      run("burstiness", n)(
        graft.operators.TextAnalysis.termBurstiness(docs, "doc_id",
          "text", minDf = 5L).count())
      run("js_divergence", n)(
        graft.operators.TextAnalysis.corpusJsDivergence(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text", minCount = 2L)
          .count())
      run("rm3_expand", n) {
        import spark.implicits._
        val qs = Seq((1L, "64 3e8 2710"), (2L, "7b c35 1f4"),
          (3L, "a 1e 3d7")).toDF("query_id", "qtext")
        graft.operators.TextAnalysis.rm3ExpandQueries(docs, qs,
          fbDocs = 10, fbTerms = 10).count()
      }
      docs.unpersist()
    }

    // Session-2 r14 statistics: the two single-task series ops priced
    // honestly (gated); t-closeness's class × level grid; ECE's
    // one-pass report rollup.
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "r14stats")) {
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          (pmod(xxhash64(col("id"), lit(2)), lit(9000)).cast("double")
            / 100.0).as("v2"),
          pmod(xxhash64(col("id"), lit(3)), lit(1000)).as("cls"),
          pmod(xxhash64(col("id"), lit(5)), lit(50)).as("sens"),
          (pmod(xxhash64(col("id"), lit(7)), lit(1000000)).cast("double")
            / 1000000.0).as("p"),
          (pmod(xxhash64(col("id"), lit(11)), lit(2)) === 0).as("y"))
        .cache()
      rows.count()
      run("granger", n)(
        graft.operators.TimeSeries.grangerLag1(rows, "id", "id",
          "v", "v2", unitScale = 100L, maxRows = 20000000L).count())
      run("durbin_watson", n)(
        graft.operators.Profiling.durbinWatson(rows, "id", "id",
          "v", "v2", unitScale = 100L, maxRows = 20000000L).count())
      run("t_closeness", n)(
        graft.operators.Privacy.tClosenessClasses(rows, Seq("cls"),
          "sens", 0.5).count())
      run("jarque_bera", n)(
        graft.operators.Profiling.jarqueBera(rows, "v").count())
      run("brown_forsythe", n)(
        graft.operators.Profiling.brownForsythe(rows, "v", "cls")
          .count())
      run("ece", n)(
        graft.operators.Profiling.expectedCalibrationError(rows,
          "p", "y").count())
      rows.unpersist()
    }

    // r15 stats additions. cusum/AD/brier-decomp run the 1M/4M/16M row
    // tiers (single-task series folds / level-frame folds — the gated
    // or level-bounded shapes); mann-kendall runs its own pair-join
    // tiers at series lengths (the quadratic is the documented price).
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "r15stats")) {
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          pmod(xxhash64(col("id"), lit(3)), lit(8)).cast("string")
            .as("seg"),
          pmod(xxhash64(col("id"), lit(5)), lit(2)).cast("string")
            .as("grp"),
          (pmod(xxhash64(col("id"), lit(7)), lit(1000)).cast("double")
            / 1000.0).as("p"),
          (pmod(xxhash64(col("id"), lit(11)), lit(2)) === 0).as("y"))
        .cache()
      rows.count()
      // toRdd.count(): a bare count() would PRUNE the window/fold
      // expressions (the round-6 hollow-number lesson) — evaluate the
      // full output like Bench does
      run("cusum", n)(
        graft.operators.TimeSeries.cusumDetect(rows, "id", "id", "v",
          target = 50.0, slack = 5.0, threshold = 5000.0,
          unitScale = 100L, maxRows = 20000000L)
          .queryExecution.toRdd.count())
      run("anderson_darling", n)(
        graft.operators.Profiling.andersonDarling(rows, "seg", "grp",
          "0", "v").queryExecution.toRdd.count())
      run("brier_decomp", n)(
        graft.operators.Profiling.brierDecomposition(rows, "p", "y")
          .queryExecution.toRdd.count())
      rows.unpersist()
    }
    for (n <- (Seq(5000L, 10000L) ++ (if (xl) Seq(20000L) else Nil))
           if only.forall(_ == "r15stats")) {
      val series = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0
            + col("id").cast("double") / 1000.0).as("v"))
      run("mann_kendall", n)(
        graft.operators.Profiling.mannKendallTrend(series, "id", "id",
          "v", unitScale = 100L, maxRows = 50000L)
          .queryExecution.toRdd.count())
    }
    // bootstrap family: rows × reps through one exploded aggregate —
    // the q_perm_test cost class; expect ~linear in rows·reps
    for (n <- (Seq(250000L, 1000000L) ++ (if (xl) Seq(4000000L) else Nil))
           if only.forall(_ == "r15stats")) {
      val units = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          pmod(col("id"), lit(2L)).cast("string").as("arm"))
        .cache()
      units.count()
      run("bootstrap_mean", n)(
        graft.operators.Profiling.poissonBootstrapMeanCI(units, "id",
          "v", reps = 100, unitScale = 100L)
          .queryExecution.toRdd.count())
      run("bootstrap_diff", n)(
        graft.operators.Profiling.poissonBootstrapDiffCI(units, "id",
          "arm", "1", "v", reps = 100, unitScale = 100L)
          .queryExecution.toRdd.count())
      run("cuped", n)(
        graft.operators.Profiling.cupedAdjust(units
          .withColumn("y", col("v") * 2.0 +
            pmod(xxhash64(col("id"), lit(9)), lit(100)).cast("double")),
          "arm", "v", "y").queryExecution.toRdd.count())
      run("srm_did", n) {
        graft.operators.Profiling.srmCheck(units, "arm",
          Map("0" -> 0.5, "1" -> 0.5)).queryExecution.toRdd.count() +
          graft.operators.Profiling.diffInDiff(units
            .withColumn("post", pmod(col("id"), lit(3L)) === 0L),
            "arm", "post", "v").queryExecution.toRdd.count()
      }
      units.unpersist()
    }

    // r16 experimentation additions: the mSPRT's cost is one moment
    // aggregate over the rows + windows over the LOOK frame only
    // (expect scan-~flat at a fixed look count); CUPED Welch t is two
    // moment aggregates (scan-flat); seasonal Mann-Kendall runs its
    // per-season pair joins at series tiers (Σ n_g² — the honest
    // within-season quadratic, gated).
    for (n <- (Seq(1000000L, 4000000L) ++ (if (xl) Seq(16000000L) else Nil))
           if only.forall(_ == "r16stats")) {
      val rows = spark.range(n).toDF("id")
        .select(col("id"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0)
            .as("v"),
          pmod(col("id"), lit(2L)).cast("string").as("arm"),
          pmod(xxhash64(col("id"), lit(3)), lit(100)).as("look"))
        .cache()
      rows.count()
      run("sequential_msprt", n)(
        graft.operators.Profiling.sequentialMSPRT(rows, "look", "arm",
          "1", "v", tau2 = 1.0).queryExecution.toRdd.count())
      run("cuped_ttest", n)(
        graft.operators.Profiling.cupedWelchTTest(rows
          .withColumn("y", col("v") * 2.0 +
            pmod(xxhash64(col("id"), lit(9)), lit(100)).cast("double")),
          "arm", "1", "v", "y").queryExecution.toRdd.count())
      run("yuen", n)(
        graft.operators.Profiling.yuenTTest(rows, "arm", "1", "v",
          "id", trim = 0.2).queryExecution.toRdd.count())
      rows.unpersist()
    }
    for (n <- (Seq(12000L, 24000L) ++ (if (xl) Seq(48000L) else Nil))
           if only.forall(_ == "r16stats")) {
      // 24 seasons × n/24 points each: the within-season pair joins
      // total 24 · (n/24)² sign cells — 1/24th of the unseasoned
      // quadratic at the same n, which is the scaling point
      val series = spark.range(n).toDF("id")
        .select(col("id"),
          pmod(col("id"), lit(24L)).cast("string").as("season"),
          expr("id div 24").as("day"),
          (pmod(xxhash64(col("id")), lit(10000)).cast("double") / 100.0
            + col("id").cast("double") / 1000.0).as("v"))
      run("mk_seasonal", n)(
        graft.operators.Profiling.mannKendallSeasonal(series, "day",
          "season", "id", "v", unitScale = 100L,
          maxRowsPerSeason = 50000L).queryExecution.toRdd.count())
    }

    // Bitext mining is QUADRATIC in the batch sizes by construction
    // (brute sweeps both ways) — measured at doubling batch sizes so
    // the ~4× steps are on display; the operator doc prescribes the
    // IVF-probe swap past broadcastable batches. MMD is the gated n².
    for (n <- (Seq(5000L, 10000L) ++ (if (xl) Seq(20000L) else Nil))
           if only.forall(_ == "r13vec")) {
      val src = synthVecs(spark, n)
      val tgt = synthVecs(spark, n).select(
        (col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      run("bitext_mine_k8", n)(
        Similarity.bitextMine(src, tgt, k = 8).count())
    }
    for (n <- (Seq(1024L, 2048L) ++ (if (xl) Seq(4096L) else Nil))
           if only.forall(_ == "r13vec")) {
      val x = synthVecs(spark, n)
      val y = synthVecs(spark, n).select(
        (col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      run("mmd_cosine", n)(
        Similarity.mmdCosine(x, y, maxRows = 5000L).count())
    }

    // Skip-grams: scan + one map-side-combined count shuffle; window
    // growth multiplies pair volume linearly (w=2 vs w=4 on display)
    for (n <- (Seq(80000L, 320000L) ++ (if (xl) Seq(1280000L) else Nil))
           if only.forall(_ == "r13text")) {
      val docs = synthDocs(spark, n).cache(); docs.count()
      run("skipgrams_w2", n)(
        graft.operators.TextAnalysis.skipGramPairs(docs, "text", 2,
          minCount = 2L).count())
      run("skipgrams_w4", n)(
        graft.operators.TextAnalysis.skipGramPairs(docs, "text", 4,
          minCount = 2L).count())
      docs.unpersist()
    }

    // Scale-adaptive heuristics at a 16M-row tier. Every expectation comes
    // from the session, so the checks hold at any local[n]:
    //  1. `LineageCut.cutFanout` / `cutFanoutBy` are no-ops when the cut
    //     frame already has ≥ max(shuffle partitions, default parallelism)
    //     partitions (no added exchange at data scale), and fan a
    //     single-split frame out to the default parallelism;
    //  2. `Ranking.withGlobalRank`'s session-derived chunk count tracks
    //     `spark.sql.shuffle.partitions` (the deployment knob), read off
    //     the cut frame's range partitioning;
    //  3. `spearmanMatrix`'s level-count form stays level-bounded at 16M
    //     rows (3 columns of ~100k/5k/50 quantized levels).
    if (only.contains("scaleprobe")) {
      import graft.core.LineageCut
      val dp = spark.sparkContext.defaultParallelism
      val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def check(what: String, parts: Int, want: Int): Unit = {
        println(s"[stress] scaleprobe $what: $parts partitions (want $want)")
        assert(parts == want, s"$what: $parts partitions, want $want")
      }
      val bigParts = 16 * math.max(sp, dp)
      val big = spark.range(0, 16L << 20, 1, bigParts).toDF("id")
        .withColumn("v", pmod(xxhash64(col("id")), lit(1000L)))
      check(s"cutFanout @16M/${bigParts}p",
        LineageCut.cutFanout(big).rdd.getNumPartitions, bigParts)
      check(s"cutFanoutBy @16M/${bigParts}p",
        LineageCut.cutFanoutBy(big, Seq("v")).rdd.getNumPartitions, bigParts)
      check("cutFanout @1k/1p", LineageCut.cutFanout(
        spark.range(0, 1000, 1, 1).toDF("id")).rdd.getNumPartitions, dp)
      LocalSession.dropCaches(spark)
      for (knob <- Seq(sp, 3 * sp)) {
        spark.conf.set("spark.sql.shuffle.partitions", knob.toString)
        val chunks =
          try graft.operators.Ranking.withGlobalRank(
            spark.range(0, 1L << 20, 1, 8).toDF("id")
              .withColumn("v", pmod(xxhash64(col("id")), lit(97L))),
            Seq(col("v").asc, col("id").asc), "r", "n").rdd.getNumPartitions
          finally spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
        check(s"withGlobalRank chunks @shuffle.partitions=$knob", chunks,
          math.max(knob, dp))
        LocalSession.dropCaches(spark)
      }
      val wide = spark.range(0, 16L << 20, 1, bigParts).toDF("id")
        .withColumn("x", pmod(xxhash64(col("id"), lit(1)), lit(100000L)) / 100.0)
        .withColumn("y", pmod(xxhash64(col("id"), lit(2)), lit(5000L)) / 100.0)
        .withColumn("z", pmod(xxhash64(col("id"), lit(3)), lit(50L)) / 10.0)
      run("spearman_levels", 16L << 20)(graft.operators.Profiling
        .spearmanMatrix(wide, Seq("x", "y", "z"), "id").count())
    }

    // scaling factors op by op: sec(16x)/sec(1x) — linear ⇒ ~16, and the
    // fixed per-job overhead at these sizes usually keeps it below that
    println("op,n,seconds,rows")
    results.foreach { case (op, n, s, r) => println(f"$op,$n,$s%.3f,$r") }
    spark.stop()
  }
}
