package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed exact global rank/ntile vs the single-task window forms
  * they replace: bit-identical on random data with heavy metric ties,
  * across chunk counts (including chunks=1 and chunks ≫ rows), the
  * n < k ntile edge, and empty input. */
class RankingSpec extends SparkSpec {

  import spark.implicits._

  private def randomFrame(n: Int, distinctMetrics: Int) = {
    // metric collides heavily (the case value-bucketed chunking can't
    // split); (metric, id) is the total order both forms rank by
    (0 until n).map { i =>
      val h = ((i * 2654435761L) ^ (i >> 3)) & Long.MaxValue
      (i.toLong, (h % distinctMetrics).toDouble)
    }.toDF("id", "metric")
  }

  test("withGlobalRank matches row_number window, ties and all chunk counts") {
    val df = randomFrame(500, distinctMetrics = 7)
    val expected = df.withColumn("rn",
        row_number().over(Window.orderBy(col("metric").desc, col("id"))))
      .withColumn("n", lit(500L))
      .as[(Long, Double, Int, Long)].collect().toSet
      .map((t: (Long, Double, Int, Long)) => (t._1, t._2, t._3.toLong, t._4))
    for (chunks <- Seq(1, 7, 64, 2048)) {
      val got = Ranking.withGlobalRank(df,
          Seq(col("metric").desc, col("id").asc), "rn", "n", chunks)
        .as[(Long, Double, Long, Long)].collect().toSet
      assert(got === expected, s"chunks = $chunks")
    }
  }

  test("withGroupedRank matches partitioned row_number window across chunk counts") {
    // 5 groups × heavy metric ties; groups MUST span chunks at the
    // small chunk counts (250 rows / 4 chunks ≫ one group per chunk)
    val df = (0 until 250).map { i =>
      val h = ((i * 2654435761L) ^ (i >> 3)) & Long.MaxValue
      (i.toLong, s"g${i % 5}", (h % 7).toDouble)
    }.toDF("id", "grp", "metric")
    val w = Window.partitionBy("grp")
      .orderBy(col("metric").desc, col("id"))
    val expected = df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      .as[(Long, String, Double, Int, Long)].collect().toSet
      .map((t: (Long, String, Double, Int, Long)) =>
        (t._1, t._2, t._3, t._4.toLong, t._5))
    for (chunks <- Seq(1, 4, 64, 2048)) {
      val got = Ranking.withGroupedRank(df, "grp",
          Seq(col("metric").desc, col("id").asc), "rn", "n", chunks)
        .as[(Long, String, Double, Long, Long)].collect().toSet
      assert(got === expected, s"chunks = $chunks")
    }
    // the shuffle-stitch fallback for high group cardinality
    // (broadcastOffsets = Some(false)) is the same exact output — only
    // the stitch join's physical strategy changes; Some(true) forces
    // the broadcast the auto path picks on this tiny summary
    for (forced <- Seq(Some(false), Some(true))) {
      val got = Ranking.withGroupedRank(df, "grp",
          Seq(col("metric").desc, col("id").asc), "rn", "n", chunks = 4,
          broadcastOffsets = forced)
        .as[(Long, String, Double, Long, Long)].collect().toSet
      assert(got === expected, s"forced = $forced")
    }
  }

  test("withGroupedRank auto-stitch: a summary past the broadcast " +
      "ceiling plans the shuffle join — no driver-side offsets " +
      "materialization at high group cardinality") {
    // group count > AutoBroadcastOffsetRows would need 262k+ groups to
    // trip for real; assert the DECISION logic at both ends instead by
    // inspecting the planned join strategy under forced vs auto on a
    // small frame, and the ceiling constant's contract
    assert(Ranking.AutoBroadcastOffsetRows === (1L << 18))
    val df = (0 until 500).map(i => (i.toLong, s"g${i % 250}", i * 1.0))
      .toDF("id", "grp", "metric")
    // auto on a tiny summary (≤ 250 + chunks rows) must broadcast:
    // the plan carries a BroadcastHashJoin/BroadcastExchange stitch
    val autoPlan = Ranking.withGroupedRank(df, "grp",
        Seq(col("metric").asc, col("id").asc), "rn", "n", chunks = 4)
      .queryExecution.executedPlan.toString
    assert(autoPlan.contains("BroadcastExchange"), autoPlan)
    // past the ceiling: 300k single-row groups → the auto path picks
    // the shuffle stitch. Catalyst's own size-based broadcast is
    // disabled for the assertion (on a toy frame its size estimate
    // would broadcast anyway; at a real million-group summary the
    // estimate exceeds the threshold on its own) — the point is that
    // the HELPER no longer forces a driver-sized broadcast.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(300000).toDF("id")
        .withColumn("grp", concat(lit("g"), col("id")))
        .withColumn("metric", col("id").cast("double"))
      val ranked = Ranking.withGroupedRank(big, "grp",
        Seq(col("metric").asc, col("id").asc), "rn", "n", chunks = 8)
      val plan = ranked.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      // single-row groups: every rank and group count is exactly 1
      val agg = ranked.agg(max("rn"), max("n"), count(lit(1)))
        .collect().head
      assert(agg.getLong(0) === 1L && agg.getLong(1) === 1L &&
        agg.getLong(2) === 300000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("withGroupedRank: randomized parity sweep over group counts, tie rates, chunks") {
    // deterministic pseudo-random configs — group-count × tie-density ×
    // chunk-count grid, every cell checked against the window form
    for {
      (groups, metrics, seed) <- Seq((1, 3, 11L), (7, 2, 23L), (40, 50, 37L))
      chunks <- Seq(3, 97)
    } {
      val df = (0 until 400).map { i =>
        val h = ((i * 2654435761L) ^ seed) & Long.MaxValue
        (i.toLong, s"g${h % groups}", ((h >> 7) % metrics).toDouble)
      }.toDF("id", "grp", "metric")
      val w = Window.partitionBy("grp")
        .orderBy(col("metric").asc, col("id").desc)
      val expected = df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
        .as[(Long, String, Double, Int, Long)].collect().toSet
        .map((t: (Long, String, Double, Int, Long)) =>
          (t._1, t._2, t._3, t._4.toLong, t._5))
      val got = Ranking.withGroupedRank(df, "grp",
          Seq(col("metric").asc, col("id").desc), "rn", "n", chunks)
        .as[(Long, String, Double, Long, Long)].collect().toSet
      assert(got === expected,
        s"groups=$groups metrics=$metrics seed=$seed chunks=$chunks")
    }
  }

  test("rankingEvalReport: hand nDCG/MRR/AP fixture; unranked relevant " +
      "counts in IDCG; no-relevant query reports NULL ndcg/ap, rr 0") {
    // q1 ranked a,b,c; relevance b=2, c=1, d=3 (d relevant but NOT
    // retrieved — it must still shape IDCG and n_rel)
    val ranked = Seq((1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
      (2L, "x", 1L)).toDF("query_id", "doc_id", "rank")
    val rel = Seq((1L, "b", 2L), (1L, "c", 1L), (1L, "d", 3L),
      (2L, "y", 0L)).toDF("query_id", "doc_id", "rel")
    val got = Ranking.rankingEvalReport(ranked, rel, k = 3)
      .as[(Long, Long, Long, Double, Option[Double], Option[Double],
        Option[Long], Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    def li(r: Double): Double = math.log(2.0) / math.log(r + 1.0)
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val dcg = 2.0 * li(2) + 1.0 * li(3)
    val idcg = 3.0 * li(1) + 2.0 * li(2) + 1.0 * li(3)
    val ap = (1.0 / 2.0 + 2.0 / 3.0) / 3.0
    assert(got(1L) === ((1L, 3L, 3L, r6(dcg), Some(r6(idcg)),
      Some(r6(dcg / idcg)), Some(2L), 0.5, Some(r6(ap)))))
    // q2: its only graded row is rel 0 -> non-relevant drops entirely
    assert(got(2L) === ((2L, 1L, 0L, 0.0, None, None, None, 0.0, None)))
  }

  test("rankingEvalReport: randomized parity sweep vs a plain-Scala " +
      "reference (graded, gappy, unretrieved-relevant mixes)") {
    def li(r: Double): Double = math.log(2.0) / math.log(r + 1.0)
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    for ((nq, nd, k, seed) <- Seq((5, 30, 10, 7L), (3, 12, 4, 19L),
      (8, 50, 20, 41L))) {
      def h(a: Long, b: Long): Long =
        (((a * 2654435761L) ^ (b * 40503L) ^ seed) % 1000000L + 1000000L) %
          1000000L
      // ranked: per query, the nd items ordered by a hash score,
      // top k retained; relevance: grade = hash % 4 (0 drops)
      val ranked = (for {
        q <- 0 until nq
        (d, r) <- (0 until nd).sortBy(d => (h(q, d), d)).zipWithIndex
        if r < k
      } yield (q.toLong, s"d$d", (r + 1).toLong))
      val rel = (for {
        q <- 0 until nq; d <- 0 until nd
        g = h(d, q) % 4
        if g > 0
      } yield (q.toLong, s"d$d", g)).toVector
      val got = Ranking.rankingEvalReport(ranked.toDF("query_id",
          "doc_id", "rank"), rel.toDF("query_id", "doc_id", "rel"), k)
        .as[(Long, Long, Long, Double, Option[Double], Option[Double],
          Option[Long], Double, Option[Double])]
        .collect().map(r => r._1 -> r).toMap
      for (q <- 0 until nq) {
        val relMap = rel.filter(_._1 == q).map(t => t._2 -> t._3).toMap
        val lst = ranked.filter(_._1 == q).sortBy(_._3)
          .map(t => relMap.getOrElse(t._2, 0L))
        val dcg = lst.zipWithIndex
          .map { case (g, i) => g.toDouble * li(i + 1.0) }.sum
        val ideal = relMap.toSeq.sortBy { case (d, g) => (-g, d) }
          .take(k).map(_._2)
        val idcg = ideal.zipWithIndex
          .map { case (g, i) => g.toDouble * li(i + 1.0) }.sum
        val hits = lst.zipWithIndex.filter(_._1 > 0L)
        val ap =
          if (relMap.isEmpty) None
          else Some(r6(hits.zipWithIndex
            .map { case ((_, idx), hi) => (hi + 1.0) / (idx + 1.0) }.sum /
            math.min(relMap.size, k).toDouble))
        val first = hits.headOption.map(_._2 + 1L)
        val g = got(q.toLong)
        assert(g._2 === lst.length.toLong, s"q=$q n_ranked seed=$seed")
        assert(g._3 === relMap.size.toLong, s"q=$q n_rel seed=$seed")
        assert(g._4 === r6(dcg), s"q=$q dcg seed=$seed")
        assert(g._5 === (if (relMap.isEmpty) None else Some(r6(idcg))),
          s"q=$q idcg seed=$seed")
        assert(g._6 === (if (relMap.isEmpty || idcg <= 0) None
          else Some(r6(dcg / idcg))), s"q=$q ndcg seed=$seed")
        assert(g._7 === first, s"q=$q first seed=$seed")
        assert(g._8 === first.map(1.0 / _).getOrElse(0.0),
          s"q=$q rr seed=$seed")
        assert(g._9 === ap, s"q=$q ap seed=$seed")
      }
    }
  }

  test("withGroupedRank: null group ranks as its own group; single group = global") {
    val withNulls = Seq((1L, Option("a"), 3.0), (2L, None, 1.0),
      (3L, Option("a"), 1.0), (4L, None, 2.0)).toDF("id", "grp", "v")
    val got = Ranking.withGroupedRank(withNulls, "grp",
        Seq(col("v").asc, col("id").asc), "rn", "n", chunks = 2)
      .as[(Long, Option[String], Double, Long, Long)].collect().toSet
    // window-form semantics: NULL is one partition
    assert(got === Set((3L, Some("a"), 1.0, 1L, 2L),
      (1L, Some("a"), 3.0, 2L, 2L),
      (2L, None, 1.0, 1L, 2L), (4L, None, 2.0, 2L, 2L)))
    // one group degenerates to the global helper's answer
    val one = Seq((1L, "g", 5.0), (2L, "g", 3.0)).toDF("id", "grp", "v")
    val g = Ranking.withGroupedRank(one, "grp",
        Seq(col("v").asc, col("id").asc), "rn", "n")
      .as[(Long, String, Double, Long, Long)].collect().toSet
    assert(g === Set((2L, "g", 3.0, 1L, 2L), (1L, "g", 5.0, 2L, 2L)))
    // guards: missing group column, output collision
    intercept[IllegalArgumentException] {
      Ranking.withGroupedRank(one, "nope", Seq(col("v")), "rn", "n")
    }
    intercept[IllegalArgumentException] {
      Ranking.withGroupedRank(one, "grp", Seq(col("v")), "id", "n")
    }
  }

  test("withNtile matches ntile window incl. the n < k edge") {
    for ((rows, k) <- Seq((500, 5), (500, 7), (3, 5), (1, 4))) {
      val df = randomFrame(rows, distinctMetrics = 3)
      val expected = df.withColumn("s",
          ntile(k).over(Window.orderBy(col("metric").asc, col("id"))))
        .as[(Long, Double, Int)].collect().toSet
      val got = Ranking.withNtile(df,
          Seq(col("metric").asc, col("id").asc), "s", k, chunks = 16)
        .as[(Long, Double, Int)].collect().toSet
      assert(got === expected, s"rows = $rows, k = $k")
    }
  }

  test("ntileFromRank: exhaustive sweep against the SQL fill rule") {
    // every (n, k, rank) with n <= 60, k <= 8: bucket must equal the
    // reference larger-buckets-first fill (first n%k buckets take
    // n/k+1 rows) — pins the pmod-based integer arithmetic across all
    // remainder/edge combinations including n < k and k = 1
    def reference(rank: Long, n: Long, k: Int): Int = {
      val base = n / k; val rem = n % k
      if (rank <= rem * (base + 1)) ((rank - 1) / (base + 1) + 1).toInt
      else (rem + (rank - rem * (base + 1) - 1) / base + 1).toInt
    }
    val triples = for {
      n <- 1L to 60L; k <- 1 to 8; r <- 1L to n
    } yield (n, k, r)
    val df = triples.toDF("n", "k", "rank")
    for (k <- 1 to 8) {
      val got = df.filter(col("k") === k)
        .select(col("n"), col("rank"),
          Ranking.ntileFromRank(col("rank"), col("n"), k).as("b"))
        .as[(Long, Long, Int)].collect()
      got.foreach { case (n, r, b) =>
        assert(b === reference(r, n, k), s"n=$n k=$k rank=$r")
      }
    }
  }

  test("empty input, reserved-column and bad-arg guards") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "metric")
    assert(Ranking.withGlobalRank(empty, Seq(col("id").asc), "rn", "n")
      .count() === 0L)
    intercept[IllegalArgumentException] {
      Ranking.withGlobalRank(
        Seq((1L, 2L)).toDF("__x", "y"), Seq(col("y")), "rn", "n")
    }
    intercept[IllegalArgumentException] {
      Ranking.withGlobalRank(
        Seq((1L, 2L)).toDF("rn", "y"), Seq(col("y")), "rn", "n")
    }
    intercept[IllegalArgumentException] {
      Ranking.withGlobalRank(empty, Seq.empty, "rn", "n")
    }
  }

  test("withNtile dodges caller columns named like its scratch space") {
    // a frame already carrying gr_rank/gr_total must pass through with
    // those columns intact (the helper suffixes its scratch names), and
    // __-prefixed OUTPUT names are rejected up front — they would fall
    // inside withGlobalRank's reserved namespace
    val df = randomFrame(120, distinctMetrics = 4)
      .withColumn("gr_rank", col("id") * 10)
      .withColumn("gr_total", col("id") * 11)
    val got = Ranking.withNtile(df,
      Seq(col("metric").asc, col("id").asc), "s", 4, chunks = 8)
    assert(got.columns.sorted ===
      Array("gr_rank", "gr_total", "id", "metric", "s"))
    val expected = df.withColumn("s",
        ntile(4).over(Window.orderBy(col("metric").asc, col("id"))))
      .as[(Long, Double, Long, Long, Int)].collect().toSet
    assert(got.as[(Long, Double, Long, Long, Int)].collect().toSet
      === expected)
    intercept[IllegalArgumentException] {
      Ranking.withGlobalRank(randomFrame(5, 2),
        Seq(col("id").asc), "__rank", "n")
    }
  }

  test("the only window in the plan is over the chunk summary") {
    // the scale property this helper exists for: the FRAME never
    // passes through an unpartitioned window/sort — the one global-
    // order step operates on the ≤ chunks-row offset summary, whose
    // columns are all internal (__pid/__cnt/__off/__n)
    val df = randomFrame(400, distinctMetrics = 5)
    val ranked = Ranking.withGlobalRank(df,
      Seq(col("metric").asc, col("id").asc), "rn", "n", chunks = 8)
    // sparkPlan, not executedPlan: AQE wraps the executed tree in a
    // leaf AdaptiveSparkPlanExec that collect() cannot traverse. (The
    // range exchange itself sits behind the lineage cut's ExistingRDD
    // scan, so the visible tree starts at the cut — the window nodes
    // are what remains observable.)
    val plan = ranked.queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the offset-stitch window")
    windows.foreach { w =>
      // "__*" are the helper's summary columns; "_we*" are Spark's own
      // window-expression aliases — both internal, never frame columns
      val leaked = w.output.map(_.name).filterNot(_.startsWith("_"))
      assert(leaked.isEmpty,
        s"window touches frame columns $leaked — must see summary rows only")
    }
  }

  test("rrfFuseByQuery: per-query fusion equals single-query rrfFuse; topK per query") {
    import spark.implicits._
    val l1 = Seq((10L, "a", 1), (10L, "b", 2), (11L, "x", 1), (11L, "y", 2))
      .toDF("q", "id", "r")
    val l2 = Seq((10L, "b", 1), (10L, "c", 2), (11L, "y", 1), (11L, "z", 2))
      .toDF("q", "id", "r")
    val fused = Ranking.rrfFuseByQuery(Seq(l1, l2), "q", "id", "r", k0 = 60)
      .as[(Long, String, Option[Long], Option[Long], Double)].collect()
    // each query's slice must equal the single-query operator on its rows
    for (q <- Seq(10L, 11L)) {
      val single = Ranking.rrfFuse(
        Seq(l1.filter(col("q") === q).select("id", "r"),
          l2.filter(col("q") === q).select("id", "r")),
        "id", "r", k0 = 60)
        .as[(String, Option[Long], Option[Long], Double)].collect().toSeq
      val slice = fused.filter(_._1 == q)
        .map(t => (t._2, t._3, t._4, t._5)).toSeq
      assert(slice.sortBy(r => (-r._4, r._1)) === single, s"query $q")
    }
    // topK cuts per query, not globally
    val cut = Ranking.rrfFuseByQuery(Seq(l1, l2), "q", "id", "r", topK = 1)
      .as[(Long, String, Option[Long], Option[Long], Double)].collect()
    assert(cut.length === 2 && cut.map(_._1).toSet === Set(10L, 11L))
    intercept[IllegalArgumentException] {
      Ranking.rrfFuseByQuery(Seq(l1), "q", "id", "r")
    }
  }

  test("rrfFuse: hand-computed fusion, exact ties break on key, min-rank dedup") {
    import spark.implicits._
    val l1 = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "r")
    val l2 = Seq(("b", 1), ("c", 2), ("d", 3)).toDF("id", "r")
    val got = Ranking.rrfFuse(Seq(l1, l2), "id", "r", k0 = 60)
      .as[(String, Option[Long], Option[Long], Double)].collect()
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    // fixed fold order: list-1 term first, then list-2
    assert(got.toSeq === Seq(
      ("b", Some(2L), Some(1L), r6(1.0 / 62 + 1.0 / 61)),
      ("c", Some(3L), Some(2L), r6(1.0 / 63 + 1.0 / 62)),
      ("a", Some(1L), None, r6(1.0 / 61)),
      ("d", None, Some(3L), r6(1.0 / 63))))
    // symmetric rank swap → bit-equal scores → key asc is load-bearing
    val s1 = Seq(("x", 1), ("y", 5)).toDF("id", "r")
    val s2 = Seq(("x", 5), ("y", 1)).toDF("id", "r")
    val tied = Ranking.rrfFuse(Seq(s1, s2), "id", "r")
      .as[(String, Option[Long], Option[Long], Double)].collect()
    assert(tied.map(_._1).toSeq === Seq("x", "y"))
    assert(tied(0)._4 === tied(1)._4)
    // duplicate key in one list takes its best rank; topK caps
    val dup = Seq(("a", 7), ("a", 2)).toDF("id", "r")
    val fused = Ranking.rrfFuse(Seq(dup, l2), "id", "r", topK = 2)
      .as[(String, Option[Long], Option[Long], Double)].collect()
    assert(fused.length === 2)
    assert(fused.find(_._1 == "a").get._2 === Some(2L))
    intercept[IllegalArgumentException] {
      Ranking.rrfFuse(Seq(l1), "id", "r")
    }
  }

  test("rankBiasedOverlap: identity = 1, disjoint = 0, hand swap case") {
    import spark.implicits._
    val a = Seq((1L, "x", 1L), (1L, "y", 2L), (1L, "z", 3L))
      .toDF("query_id", "item", "r")
    // identical lists at full depth: rbo exactly 1
    val self = Ranking.rankBiasedOverlap(a, a, "query_id", "item", "r",
      p = 0.5, depth = 3)
      .as[(Long, Long, Double)].collect().head
    assert(self === ((1L, 3L, 1.0)))
    // top-2 swapped: shared m = (2, 2, 3); expected via the exact
    // nano-quantized chain the operator ships
    val b = Seq((1L, "y", 1L), (1L, "x", 2L), (1L, "z", 3L))
      .toDF("query_id", "item", "r")
    def wd(d: Int) = math.exp((d - 1) * math.log(0.5)) / d
    def snano(m: Int) =
      math.round((m to 3).reverse.foldLeft(0.0)((acc, d) => acc + wd(d))
        * 1e9)
    val expected = BigDecimal((1.0 - 0.5) /
      (1.0 - math.exp(3.0 * math.log(0.5))) *
      ((snano(2) + snano(2) + snano(3)).toDouble / 1e9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Ranking.rankBiasedOverlap(a, b, "query_id", "item", "r",
      p = 0.5, depth = 3)
      .as[(Long, Long, Double)].collect().head
    assert(got === ((1L, 3L, expected)))
    // a rank-1 disagreement hurts more than a rank-3 one (the
    // top-weighting recall@k lacks): swap (1,2) vs swap (2,3)
    val c = Seq((1L, "x", 1L), (1L, "z", 2L), (1L, "y", 3L))
      .toDF("query_id", "item", "r")
    val lowSwap = Ranking.rankBiasedOverlap(a, c, "query_id", "item",
      "r", p = 0.5, depth = 3)
      .as[(Long, Long, Double)].collect().head
    assert(lowSwap._3 > got._3,
      "a deeper swap must score higher than a top swap")
    // disjoint lists: the query still emits, at zero
    val d = Seq((1L, "p", 1L), (1L, "q", 2L)).toDF("query_id", "item", "r")
    val none = Ranking.rankBiasedOverlap(a, d, "query_id", "item", "r",
      p = 0.5, depth = 3)
      .as[(Long, Long, Double)].collect().head
    assert(none === ((1L, 0L, 0.0)))
    // ranks past depth are ignored on BOTH sides
    val deep = a.union(Seq((1L, "w", 9L)).toDF("query_id", "item", "r"))
    val trunc = Ranking.rankBiasedOverlap(deep, deep, "query_id",
      "item", "r", p = 0.5, depth = 3)
      .as[(Long, Long, Double)].collect().head
    assert(trunc === ((1L, 3L, 1.0)))
  }

  test("rankBiasedOverlap: randomized parity vs the textbook per-depth " +
      "overlap form") {
    import spark.implicits._
    // the operator reshapes RBO per SHARED ITEM (suffix weights at
    // max(r_a, r_b)); the definition sums per DEPTH the prefix-overlap
    // fraction A_d — prove the identity on random permuted lists
    val rnd = new scala.util.Random(777)
    val (pp, depth) = (0.8, 12)
    val items = (1 to 40).map(i => s"it$i")
    val lists = (1L to 5L).flatMap { q =>
      val perm1 = rnd.shuffle(items).take(depth).zipWithIndex
      val perm2 = rnd.shuffle(items).take(depth).zipWithIndex
      perm1.map { case (it, i) => ("a", q, it, (i + 1).toLong) } ++
        perm2.map { case (it, i) => ("b", q, it, (i + 1).toLong) }
    }
    val aDf = lists.filter(_._1 == "a")
      .map(t => (t._2, t._3, t._4)).toDF("query_id", "item", "r")
    val bDf = lists.filter(_._1 == "b")
      .map(t => (t._2, t._3, t._4)).toDF("query_id", "item", "r")
    val got = Ranking.rankBiasedOverlap(aDf, bDf, "query_id", "item",
      "r", p = pp, depth = depth)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    for (q <- 1L to 5L) {
      val la = lists.filter(t => t._1 == "a" && t._2 == q)
        .sortBy(_._4).map(_._3)
      val lb = lists.filter(t => t._1 == "b" && t._2 == q)
        .sortBy(_._4).map(_._3)
      val sum = (1 to depth).map { d =>
        val overlap = la.take(d).toSet.intersect(lb.take(d).toSet).size
        math.exp((d - 1) * math.log(pp)) * overlap / d
      }.sum
      val expect = (1.0 - pp) /
        (1.0 - math.exp(depth * math.log(pp))) * sum
      assert(math.abs(got(q) - expect) < 2e-6,
        s"query $q: ${got(q)} vs $expect")
    }
  }

  test("levelRanks: r2 from level counts == min+max of row ranks, " +
      "grouped and global, every chunk count") {
    import spark.implicits._
    // heavy ties + skewed groups: values drawn from a tiny domain
    val rows = (1L to 500L).map(i =>
      (i, (i % 2).toInt, (i * i % 7).toInt)).toDF("id", "g", "v")
    // reference r2 per (g, v) from an actual row rank pass
    def ref(grouped: Boolean): Map[(Int, Int), Long] = {
      val w =
        if (grouped)
          Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
        else Window.orderBy(col("v").asc, col("id").asc)
      rows.withColumn("r", row_number().over(w).cast("long"))
        .groupBy("g", "v").agg((min("r") + max("r")).as("r2"))
        .as[(Int, Int, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    }
    val counts = rows.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    for (chunks <- Seq(1, 3, 7, 64)) {
      val grouped = Ranking.levelRanks(counts, Seq("g"), "v", "cnt",
          "r2", chunks = chunks)
        .as[(Int, Int, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._4).toMap
      assert(grouped === ref(grouped = true), s"grouped chunks=$chunks")
    }
    // global form (no group columns): collapse to one group's levels
    val gc = rows.groupBy("v").agg(count(lit(1)).as("cnt"))
    val refGlobal = {
      val w = Window.orderBy(col("v").asc, col("id").asc)
      rows.withColumn("r", row_number().over(w).cast("long"))
        .groupBy("v").agg((min("r") + max("r")).as("r2"))
        .as[(Int, Long)].collect().toMap
    }
    val global = Ranking.levelRanks(gc, Nil, "v", "cnt", "r2", chunks = 5)
      .as[(Int, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(global === refGlobal)
    // guards: existing output column, missing input column
    intercept[IllegalArgumentException] {
      Ranking.levelRanks(gc, Nil, "v", "cnt", "cnt")
    }
    intercept[IllegalArgumentException] {
      Ranking.levelRanks(gc, Nil, "nope", "cnt", "r2")
    }
  }

  test("withGroupedRank's overflow guard counts each chunk's rows, not each group's") {
    // 3 groups of 4 rows: every group is under the limit, a chunk holding
    // all of them is not
    val df = (0 until 12).map(i => (i.toLong, s"g${i % 3}", (i / 3).toDouble))
      .toDF("id", "grp", "metric")
    val order = Seq(col("metric"), col("id"))
    for (stitch <- Seq(None, Some(true), Some(false))) {
      val e = intercept[Exception](Ranking.withGroupedRank(df, "grp", order,
        "rn", "n", chunks = 1, stitch, chunkRowLimit = 12).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null &&
          c.getMessage.contains("withGroupedRank: a range chunk reaches 12 rows")),
        s"stitch $stitch: $e")
    }
    // the same rows over three chunks stay under it and rank exactly
    val expected = df.withColumn("rn",
        row_number().over(Window.partitionBy("grp").orderBy(order: _*)).cast("long"))
      .withColumn("n", lit(4L)).collect().toSet
    val got = Ranking.withGroupedRank(df, "grp", order, "rn", "n", chunks = 3,
      None, chunkRowLimit = 12).collect().toSet
    assert(got === expected)
  }
}
