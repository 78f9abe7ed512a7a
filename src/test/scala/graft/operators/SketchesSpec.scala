package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sketch-gated exact operators: the load-bearing invariant is
  * ONE-SIDEDNESS — the sketch gate may pass extra rows (removed by the
  * exact second pass) but can never drop a row the plain exact query
  * returns, so each operator's result must be IDENTICAL to its ungated
  * equivalent. Every test here compares against that equivalent. */
class SketchesSpec extends SparkSpec {

  test("estimateEquiJoinSize: exact at wide width, one-sided always") {
    import spark.implicits._
    val a = (Seq.fill(2)("x") ++ Seq("y")).map(Tuple1(_)).toDF("k")
    val b = (Seq.fill(3)("x") ++ Seq.fill(5)("z") :+ null)
      .map(Tuple1(_)).toDF("k")
    // exact = 2·3 = 6 (y and z match nothing; null excluded)
    val r = Sketches.estimateEquiJoinSize(a, "k", b, "k")
      .as[(Long, Long, Boolean)].head()
    assert(r._1 === 6L && r._3)
    assert(r._2 === 6L, // 3 keys in 8192 buckets: no collisions
      s"estimate ${r._2} should be exact at this width")
    // narrow width: collisions inflate, never deflate
    val narrow = Sketches.estimateEquiJoinSize(a, "k", b, "k", width = 1)
      .as[(Long, Long, Boolean)].head()
    assert(narrow._1 === 6L && narrow._2 === 3L * 8L && narrow._3)
    // estimate-only mode returns the single-column frame
    assert(Sketches.estimateEquiJoinSize(a, "k", b, "k", exactToo = false)
      .columns.toSeq === Seq("est_pairs"))
  }

  import spark.implicits._

  // key k appears k times (k = 1..30) plus nulls — skew and a null group
  private def skewedDf = {
    val rows = (1 to 30).flatMap(k => Seq.fill(k)(Option(k.toLong))) ++
      Seq.fill(40)(Option.empty[Long])
    rows.toDF("k")
  }

  test("frequentItems == plain groupBy+HAVING (one-sided CMS gate)") {
    val got = Sketches.frequentItems(skewedDf, "k", minCount = 12)
      .as[(Long, Long)].collect().sorted.toSeq
    val expect = skewedDf.filter(col("k").isNotNull)
      .groupBy(col("k").as("key")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 12)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === expect)
    assert(got.nonEmpty && got.forall(_._2 >= 12))
  }

  test("frequentItems: null keys are excluded by documented contract") {
    // 40 nulls >= minCount 35, but the contract (scaladoc'd) excludes them
    val got = Sketches.frequentItems(skewedDf, "k", minCount = 35)
    assert(got.filter(col("key").isNull).count() === 0)
  }

  test("frequentItems rejects lossy key types loudly (doubles)") {
    val dbls = Seq(2.1, 2.9).toDF("d")
    val ex = intercept[IllegalArgumentException] {
      Sketches.frequentItems(dbls, "d", minCount = 1)
    }
    assert(ex.getMessage.contains("integral or string"))
  }

  test("bloomSemiJoin == plain left-semi join, all columns intact") {
    val large = (1L to 2000L).map(i => (i, i % 97, s"payload-$i"))
      .toDF("id", "key", "payload")
    val small = Seq(3L, 5L, 7L, 11L, 13L).toDF("dim_key")
    val got = Sketches.bloomSemiJoin(large, small, "key", "dim_key")
      .as[(Long, Long, String)].collect().sorted.toSeq
    val expect = large.join(small, large("key") === small("dim_key"), "left_semi")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("bloomSemiJoin: explicit and HLL-derived sizing agree; int keys work") {
    val large = (1 to 500).map(i => (i, i % 13)).toDF("id", "key") // ints
    val small = Seq(1, 2, 3).toDF("dim_key")
    val sized = Sketches.bloomSemiJoin(large, small, "key", "dim_key",
      expectedItems = 3L).as[(Int, Int)].collect().sorted.toSeq
    val derived = Sketches.bloomSemiJoin(large, small, "key", "dim_key")
      .as[(Int, Int)].collect().sorted.toSeq
    val expect = large.join(small, large("key") === small("dim_key"), "left_semi")
      .as[(Int, Int)].collect().sorted.toSeq
    assert(sized === expect)
    assert(derived === expect)
  }

  test("frequentItems over STRING keys == plain groupBy+HAVING") {
    // token k repeats k times — string keys probe the sketch by UTF-8 bytes
    val rows = (1 to 25).flatMap(k => Seq.fill(k)(s"tok-$k"))
    val df = rows.toDF("term")
    val got = Sketches.frequentItems(df, "term", minCount = 10)
      .as[(String, Long)].collect().sorted.toSeq
    val expect = df.groupBy(col("term").as("key")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10).as[(String, Long)].collect().sorted.toSeq
    assert(got === expect)
    assert(got.map(_._1) === (10 to 25).map(k => s"tok-$k"))
  }

  test("bloomAntiJoin == plain left-anti join; null keys kept") {
    val large = ((1L to 2000L).map(i => (i, Option(i % 97), s"p-$i")) ++
      Seq((9001L, Option.empty[Long], "null-key"))) // anti-join keeps null keys
      .toDF("id", "key", "payload")
    val small = Seq(3L, 5L, 7L, 11L, 13L).toDF("dim_key")
    val got = Sketches.bloomAntiJoin(large, small, "key", "dim_key")
      .as[(Long, Option[Long], String)].collect().sortBy(_._1).toSeq
    val expect = large.join(small, large("key") === small("dim_key"), "left_anti")
      .as[(Long, Option[Long], String)].collect().sortBy(_._1).toSeq
    assert(got === expect)
    assert(got.exists(_._2.isEmpty), "the null-key row must be kept")
    // completeness both ways: semi ∪ anti == large, disjoint
    val semi = Sketches.bloomSemiJoin(large.filter(col("key").isNotNull),
      small, "key", "dim_key").count()
    assert(semi + got.size === large.count())
  }

  test("bloomAntiJoin over STRING keys == plain left-anti") {
    val large = (1 to 600).map(i => (i, s"host${i % 37}.com")).toDF("id", "host")
    val block = Seq("host3.com", "host11.com", "host20.com").toDF("bad")
    val got = Sketches.bloomAntiJoin(large, block, "host", "bad")
      .as[(Int, String)].collect().sorted.toSeq
    val expect = large.join(block, large("host") === block("bad"), "left_anti")
      .as[(Int, String)].collect().sorted.toSeq
    assert(got === expect)
    assert(got.nonEmpty && !got.exists(r => Set("host3.com", "host11.com",
      "host20.com").contains(r._2)))
  }

  test("persisted bloom: save + merge delta + load covers the union; joins stay exact") {
    withTempDir("graft-bloom-spec") { dir =>
      val dest = dir.toString + "/f.bloom"
      val sliceA = Seq(3L, 5L, 7L).toDF("dim_key")
      val sliceB = Seq(11L, 13L).toDF("dim_key")
      Sketches.saveBloomFilter(sliceA, "dim_key", dest, expectedItems = 100)
      Sketches.mergeIntoBloomFilter(sliceB, "dim_key", dest)
      val bytes = Sketches.loadBloomFilter(spark, dest)
      // no false negatives across BOTH slices after the merge
      val union = Seq(3L, 5L, 7L, 11L, 13L).toDF("k")
      assert(union.filter(
        graft.functions.Sketch.bloomContains(col("k"), bytes)).count() === 5)

      val large = (1L to 2000L).map(i => (i, i % 97)).toDF("id", "key")
      val full = sliceA.unionByName(sliceB)
      // WithFilter joins against the full key table == plain joins
      val semi = Sketches.bloomSemiJoinWithFilter(large, full, "key", "dim_key", bytes)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(semi === large.join(full, large("key") === full("dim_key"), "left_semi")
        .as[(Long, Long)].collect().sorted.toSeq)
      val anti = Sketches.bloomAntiJoinWithFilter(large, full, "key", "dim_key", bytes)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(anti === large.join(full, large("key") === full("dim_key"), "left_anti")
        .as[(Long, Long)].collect().sorted.toSeq)
      // SUPERSET filter (grown past the current key table) stays exact for
      // the anti shape: extra false positives are kept by the exact pass
      val antiSubset = Sketches.bloomAntiJoinWithFilter(large, sliceA, "key",
          "dim_key", bytes).as[(Long, Long)].collect().sorted.toSeq
      assert(antiSubset === large.join(sliceA, large("key") === sliceA("dim_key"),
        "left_anti").as[(Long, Long)].collect().sorted.toSeq)
    }
  }

  test("persisted bloom: string keys merge and probe by the same bytes") {
    withTempDir("graft-bloom-str") { dir =>
      val dest = dir.toString + "/f.bloom"
      val a = Seq("host1.com", "host2.com").toDF("h")
      val b = Seq("host3.com").toDF("h")
      Sketches.saveBloomFilter(a, "h", dest, expectedItems = 50)
      Sketches.mergeIntoBloomFilter(b, "h", dest)
      val bytes = Sketches.loadBloomFilter(spark, dest)
      val probes = Seq("host1.com", "host2.com", "host3.com").toDF("h")
      assert(probes.filter(
        graft.functions.Sketch.bloomContains(col("h"), bytes)).count() === 3)
    }
  }

  test("bloomSemiJoin rejects non-integral keys (no silent lossy cast)") {
    val large = Seq(2.1, 2.9).toDF("d")
    val small = Seq(2L).toDF("k")
    // doubles 2.1 and 2.9 both truncate to long 2 — the loud failure is
    // the fix for exactly that spurious-match class
    intercept[IllegalArgumentException] {
      Sketches.bloomSemiJoin(large, small, "d", "k")
    }
    intercept[IllegalArgumentException] {
      Sketches.bloomSemiJoin(small, large, "k", "d")
    }
  }

  test("bloom joins reject CROSS-CLASS key pairs (string vs integral)") {
    // a filter built from longs probed with strings (or vice versa)
    // hashes differently → false NEGATIVES → silently wrong results;
    // both sides must be in the same key class, checked loudly
    val longs = (1L to 100L).map(i => (i, i % 7)).toDF("id", "key")
    val strs = Seq("3", "5").toDF("dim_key")
    val ex = intercept[IllegalArgumentException] {
      Sketches.bloomSemiJoin(longs, strs, "key", "dim_key")
    }
    assert(ex.getMessage.contains("false negatives"))
    intercept[IllegalArgumentException] {
      Sketches.bloomAntiJoin(strs, longs, "dim_key", "key")
    }
    // the pre-built-filter overloads guard the same way
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
      bf.putLong(3L); bf.writeTo(out); out.toByteArray
    }
    intercept[IllegalArgumentException] {
      Sketches.bloomSemiJoinWithFilter(longs, strs, "key", "dim_key", bytes)
    }
    intercept[IllegalArgumentException] {
      Sketches.bloomAntiJoinWithFilter(longs, strs, "key", "dim_key", bytes)
    }
  }

  test("bloom saturation: writers report observed fpp; merge past capacity degrades it") {
    withTempDir("graft-bloom-sat") { dir =>
      val dest = dir.toString + "/f.bloom"
      // lifetime-sized for 20 keys at 1% — observed fpp starts near design
      val small = (1L to 10L).toDF("k")
      val fppAtSave = Sketches.saveBloomFilter(small, "k", dest,
        expectedItems = 20, fpp = 0.01)
      assert(fppAtSave < 0.05, s"fresh filter should be near design fpp, got $fppAtSave")
      // merge 100x the capacity: geometry can't grow, fpp must ratchet up
      val flood = (100L to 2100L).toDF("k")
      val fppAfter = Sketches.mergeIntoBloomFilter(flood, "k", dest)
      assert(fppAfter > 0.5, s"past-capacity merge must report saturation, got $fppAfter")
      assert(fppAfter > fppAtSave)
      // maxFpp turns saturation into a loud failure BEFORE overwriting
      val ex = intercept[IllegalArgumentException] {
        Sketches.mergeIntoBloomFilter((3000L to 3100L).toDF("k"), "k", dest,
          maxFpp = 0.1)
      }
      assert(ex.getMessage.contains("saturated"))
      // results stay EXACT even saturated (the filter only gates)
      val bytes = Sketches.loadBloomFilter(spark, dest)
      val large = (1L to 3000L).map(i => (i, i % 500)).toDF("id", "key")
      val full = small.unionByName(flood)
      val anti = Sketches.bloomAntiJoinWithFilter(large, full, "key", "k", bytes)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(anti === large.join(full, large("key") === full("k"), "left_anti")
        .as[(Long, Long)].collect().sorted.toSeq)
    }
  }

  test("frequentItems with a cache StorageLevel returns identical results") {
    import org.apache.spark.storage.StorageLevel
    val plain = Sketches.frequentItems(skewedDf, "k", minCount = 12)
      .as[(Long, Long)].collect().sorted.toSeq
    val cached = Sketches.frequentItems(skewedDf, "k", minCount = 12,
        cache = Some(StorageLevel.MEMORY_AND_DISK))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(cached === plain)
    spark.catalog.clearCache() // caller-releases contract (scaladoc'd)
  }

  test("HLL ledger: save + O(delta) merges estimate the union; overlap " +
      "does not double-count; string keys; null keys ignored") {
    import org.apache.spark.sql.functions.col
    withTempDir("graft-hll") { tmpDir =>
      val dir = tmpDir.toString
      val dest = s"$dir/ledger.hll"
      // day 1: users 0..999; day 2: 500..1499 (50% overlap)
      val day1 = spark.range(0, 1000).select(col("id").as("u"))
      val day2 = spark.range(500, 1500).select(col("id").as("u"))
      Sketches.saveHllSketch(day1, "u", dest)
      Sketches.mergeIntoHllSketch(day2, "u", dest)
      val est = Sketches.hllEstimate(spark, dest)
      // true union = 1500; lgK=12 error ~1.6% — assert a loose 5% band,
      // which also proves the overlap was not double-counted (2000 would
      // be 33% off)
      assert(math.abs(est - 1500L) <= 75L, s"estimate $est")
      // a second identical merge is idempotent within the sketch (same keys
      // add no new registers)
      Sketches.mergeIntoHllSketch(day2, "u", dest)
      assert(Sketches.hllEstimate(spark, dest) === est)
      // string keys + nulls
      val dest2 = s"$dir/strings.hll"
      val strs = Seq(Some("a"), Some("b"), Some("c"), None)
        .toDF("k")
      Sketches.saveHllSketch(strs, "k", dest2)
      val est2 = Sketches.hllEstimate(spark, dest2)
      assert(est2 === 3L) // tiny cardinalities are exact in HLL
    }
  }

  test("approxIntersection: overlap inside the stated bound; clamp; nulls") {
    import spark.implicits._
    val a = (1L to 1000L).toDF("k")
    val b = (500L to 1500L).toDF("k")
    val row = Sketches.approxIntersection(a, "k", b, "k").head()
    val est = row.getAs[Long]("est_intersect")
    val bound = row.getAs[Double]("err_bound")
    assert(math.abs(est - 501.0) <= bound,
      s"est $est vs exact 501, bound $bound")
    assert(row.getAs[Long]("est_union") > 0)
    // disjoint sets: inclusion-exclusion may go negative -> clamped 0
    val dis = Sketches.approxIntersection(
      (1L to 50L).toDF("k"), "k", (1000L to 1050L).toDF("k"), "k").head()
    assert(dis.getAs[Long]("est_intersect") >= 0)
    // null keys are not values on either side
    val withNulls = Seq(Some(1L), Some(2L), None).toDF("k")
    val n = Sketches.approxIntersection(withNulls, "k", withNulls, "k").head()
    assert(n.getAs[Long]("est_a") === 2L)
    assert(n.getAs[Long]("est_intersect") === 2L)
  }

  test("kmvJaccard: identical sets -> 1, disjoint -> 0, small union exact") {
    import spark.implicits._
    val a = (1L to 300L).toDF("k")
    val same = Sketches.kmvJaccard(a, "k", a, "k", k = 64).head()
    assert(same.getAs[Double]("est_jaccard") === 1.0)
    assert(same.getAs[Double]("exact_jaccard") === 1.0)
    val dis = Sketches.kmvJaccard(a, "k", (1000L to 1300L).toDF("k"), "k",
      k = 64).head()
    assert(dis.getAs[Double]("est_jaccard") === 0.0)
    assert(dis.getAs[Double]("exact_jaccard") === 0.0)
    // union smaller than k: the sketch IS the set -> est == exact
    val b = (26L to 75L).toDF("k") // |A∩B| = 25, |A∪B| = 75 with A=1..50
    val sm = Sketches.kmvJaccard((1L to 50L).toDF("k"), "k", b, "k",
      k = 1024).head()
    assert(sm.getAs[Long]("k_used") === 75L)
    assert(sm.getAs[Double]("est_jaccard") ===
      sm.getAs[Double]("exact_jaccard"))
    assert(sm.getAs[Double]("exact_jaccard") === 25.0 / 75)
    // estimate lands near the truth at moderate k
    val big = Sketches.kmvJaccard((1L to 2000L).toDF("k"), "k",
      (1001L to 3000L).toDF("k"), "k", k = 512).head()
    val est = big.getAs[Double]("est_jaccard")
    val ex = big.getAs[Double]("exact_jaccard")
    assert(math.abs(est - ex) < 5.0 / math.sqrt(512),
      s"est $est vs exact $ex")
  }

  test("approxQuantileGate: exact within bound on uniform + heavy ties; guards") {
    import spark.implicits._
    val uniform = (1 to 1000).map(_.toDouble).toDF("v")
    val got = graft.operators.Sketches
      .approxQuantileGate(uniform, "v", Seq(0.5, 0.9, 0.99))
      .as[(Double, Long, Long, Long, Boolean)].collect()
    assert(got.length === 3)
    assert(got.forall(_._5), s"bound violated: ${got.mkString(", ")}")
    assert(got.map(_._3).toSeq === Seq(500L, 900L, 990L)) // ceil(p*n)
    // heavy ties: one value occupies ranks 1..999 — the INTERVAL check
    // must pass where an upper-rank-only check would false-alarm
    val ties = ((1 to 999).map(_ => 5.0) :+ 9.0).toDF("v")
    val t = graft.operators.Sketches
      .approxQuantileGate(ties, "v", Seq(0.5))
      .as[(Double, Long, Long, Long, Boolean)].collect().head
    assert(t._5 && t._4 === 999L)
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.approxQuantileGate(uniform, "v", Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.approxQuantileGate(
        Seq(Option.empty[Double]).toDF("v"), "v", Seq(0.5))
    }
  }
}
