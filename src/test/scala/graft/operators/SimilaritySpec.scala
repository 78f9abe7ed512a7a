package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 4-dim toy corpus with known geometry
  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(1.0f, 0.0f, 0.0f, 0.01f))
  ).toDF("vec_id", "embedding")

  test("dot/norm/cosine column functions") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"),
        Similarity.norm(col("a")).as("n"))
    val r = df.head()
    assert(r.getDouble(0) === 11.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(5)) < 1e-12)
  }

  test("bruteForceTopK: identical vector ranks first with cosine 1") {
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("query_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, queries, 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(top.map(_._3) === Seq(0L, 4L, 1L)) // exact, ~exact, near
    assert(top.head._4 === 1.0)
    assert(top(1)._4 > 0.999)
  }

  // corpus with labels: ids 0,1,4 point +x (label 0 except 4), 2 +y, 3 +z
  private def labeled = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), Some(0)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), Some(0)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), Some(1)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f), Some(2)),
    (4L, Array(1.0f, 0.0f, 0.0f, 0.01f), Some(1)),
    (5L, Array(0.95f, 0.05f, 0.0f, 0.0f), None) // null label: excluded
  ).toDF("vec_id", "embedding", "label")

  test("hardNegatives: nearest different-label vectors, same-label and " +
      "null-label rows excluded") {
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0))
      .toDF("query_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled, queries, 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    // label-0 ids 0,1 excluded; null-label id 5 excluded;
    // nearest negatives: 4 (≈1.0, label 1), then 2 and 3 (orthogonal)
    assert(out.map(_._3) === Seq(4L, 2L, 3L))
    assert(out.head._4 > 0.999)
    assert(out.forall(r => r._3 != 0L && r._3 != 1L && r._3 != 5L))
  }

  test("hardNegatives: null-label query is dropped entirely") {
    val queries = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f), Some(0)),
      (101L, Array(0.0f, 1.0f, 0.0f, 0.0f), None))
      .toDF("query_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled, queries, 2)
    assert(out.select("query_id").distinct().as[Long].collect().toSeq === Seq(100L))
  }

  test("hardNegatives: string labels compare correctly; fractional labels fail loud") {
    val strLabeled = Seq(
      (0L, Array(1.0f, 0.0f), "cat"),
      (1L, Array(0.9f, 0.1f), "cat"),
      (2L, Array(0.8f, 0.2f), "dog")).toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, Array(1.0f, 0.0f), "cat"))
      .toDF("query_id", "embedding", "label")
    val out = Similarity.hardNegatives(strLabeled, queries, 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(out.map(_._3) === Seq(2L)) // only the dog is a negative
    val badLabels = Seq((0L, Array(1.0f), 0.5)).toDF("vec_id", "embedding", "label")
    val badQ = Seq((1L, Array(1.0f), 0.5)).toDF("query_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(badLabels, badQ, 1)
    }
    assert(ex.getMessage.contains("integral or string"))
  }

  test("hardNegativesIvf matches exact hardNegatives on well-separated data") {
    // big enough for a real cell structure; labels alternate within
    // tight clusters so every query has close negatives
    val n = 400
    val rows = (0 until n).map { i =>
      val c = i % 4
      val base = Array.fill(8)(0.0f)
      base(c * 2) = 1.0f
      base(c * 2 + 1) = 0.01f * (i / 4 % 25)
      (i.toLong, base, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val queries = rows.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val exact = Similarity.hardNegatives(rows, queries, 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    // 1 cell ⇒ shortlist is global ⇒ must equal the exact answer
    val ivf = Similarity.hardNegativesIvf(rows, queries, 3,
        oversample = 4, numCells = 1, nProbe = 1)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(ivf === exact)
  }

  test("sqTopK: self-recovery and exact-rerank ordering on known geometry") {
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("query_id", "embedding")
    val top = Similarity.sqTopK(corpus, queries, 3, rerankFactor = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    // rerank is exact → same order as brute force on these vectors
    assert(top.map(_._3) === Seq(0L, 4L, 1L))
    assert(top.head._4 === 1.0)
  }

  test("sqTopK with a generous shortlist equals exact brute force") {
    val n = 300
    val rows = (0 until n).map { i =>
      val v = Array.tabulate(8)(j =>
        (math.sin(i * 0.37 + j * 1.13) * 3 + j * 0.1).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = rows.filter(col("vec_id") % 60 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(rows, queries, 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    // shortlist = 4·75 = n ⇒ every candidate survives to the exact
    // rerank ⇒ the answer must be identical to brute force
    val sq = Similarity.sqTopK(rows, queries, 4, rerankFactor = 75)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(sq === exact)
  }

  test("sqTopK: constant dimension (zero range) quantizes without dividing by zero") {
    val rows = Seq(
      (0L, Array(1.0f, 5.0f, 0.0f)),
      (1L, Array(0.9f, 5.0f, 0.1f)),
      (2L, Array(0.0f, 5.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((9L, Array(1.0f, 5.0f, 0.0f))).toDF("query_id", "embedding")
    val top = Similarity.sqTopK(rows, queries, 2, rerankFactor = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(top.map(_._3) === Seq(0L, 1L))
    assert(top.head._4 === 1.0)
  }

  test("lshTopK recovers the exact-duplicate neighbor via bucket join") {
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("query_id", "embedding")
    val top = Similarity.lshTopK(corpus, queries, 2, numPlanes = 8)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(top.nonEmpty)
    assert(top.head._3 === 0L && top.head._4 === 1.0)
  }

  test("ivfTopK with one cell degenerates to exact brute force") {
    val queries = corpus.limit(3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ivf = Similarity.ivfTopK(corpus, queries, 3, numCells = 1, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = Similarity.bruteForceTopK(corpus, queries, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.sorted.toSeq === brute.sorted.toSeq)
  }

  test("ivfTopK self-recovery: each in-corpus query probes its own cell") {
    val queries = corpus
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rank1 = Similarity.ivfTopK(corpus, queries, 2, numCells = 3, nProbe = 1)
      .filter(col("rank") === 1).collect()
    assert(rank1.length === 5)
    rank1.foreach { r =>
      assert(r.getLong(2) === r.getLong(0), "rank-1 neighbor must be self")
      assert(r.getDouble(3) === 1.0)
    }
  }

  test("cosinePairs finds planted near-duplicate embeddings") {
    // cosine(v0,v1)=0.9939, cosine(v0,v4)≈1.0 → 0.999 isolates the plant
    val pairs = Similarity.cosinePairs(corpus, 0.999, lit(0))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)) === Seq((0L, 4L)))
    val lshPairs = Similarity.lshCosinePairs(corpus, 0.999, numPlanes = 8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(lshPairs.map(p => (p._1, p._2)).contains((0L, 4L)))
  }

  test("trainKMeans + kmeansAssign recover well-separated planted clusters") {
    // 3 tight clusters far apart in R^4: center c at (10c, 10c, 10c, 10c)
    // with ±0.1 jitter — any sane Lloyd run separates them perfectly
    val vecs = (for {
      c <- 0 until 3
      i <- 0 until 40
    } yield {
      val base = 10f * c
      val j = (i % 5) * 0.02f
      ((c * 40 + i).toLong,
        Array(base + j, base - j, base + 2 * j, base))
    }).toDF("vec_id", "embedding")

    val centroids = Similarity.trainKMeans(vecs, numCells = 3, iters = 5)
    assert(centroids.length === 3)
    val assigned = Similarity.kmeansAssign(vecs, centroids)
      .as[(Long, Int)].collect().toMap
    // each planted cluster maps to exactly one cell; cells are distinct
    val cellsByCluster = (0 until 3).map { c =>
      val cells = (0 until 40).map(i => assigned((c * 40 + i).toLong)).toSet
      assert(cells.size === 1, s"planted cluster $c split across cells $cells")
      cells.head
    }
    assert(cellsByCluster.toSet.size === 3, "clusters collapsed into one cell")
    // identical vectors always agree (the consistency the driver gate pins)
    assert(assigned(0L) === assigned(5L)) // same jitter pattern i%5
  }

  test("persisted IVF index returns exactly the direct ivfTopK results") {
    val n = 2000
    val vecs = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        expr("transform(sequence(1, 8), " +
          "i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))
    val queries = vecs.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    withTempDir("graft-ivf-ix") { dir =>
      val dest = dir.toString
      Similarity.buildIvfIndex(vecs, dest, numCells = 8)
      val direct = Similarity.ivfTopK(vecs, queries, 5, numCells = 8, nProbe = 3)
      val fromIx = Similarity.ivfTopKFromIndex(spark, dest, queries, 5, nProbe = 3)
      assert(fromIx.exceptAll(direct).isEmpty && direct.exceptAll(fromIx).isEmpty)
      // the store really is cell-partitioned (one directory per cell)
      val cells = new java.io.File(s"$dest/vectors").listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell=")).toSeq
      assert(cells.nonEmpty && cells.size <= 8)
      // rebuilding over the same dest overwrites cleanly (same results)
      Similarity.buildIvfIndex(vecs, dest, numCells = 8)
      val again = Similarity.ivfTopKFromIndex(spark, dest, queries, 5, nProbe = 3)
      assert(again.exceptAll(direct).isEmpty && direct.exceptAll(again).isEmpty)
    }
  }

  test("appendToIvfIndex: delta probes through the frozen codebook; " +
      "census counts the appended rows") {
    val n = 2000
    val vecs = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        expr("transform(sequence(1, 8), " +
          "i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))
    val old = vecs.filter(col("vec_id") % 2 === 0)
    val delta = vecs.filter(col("vec_id") % 2 === 1)
    withTempDir("graft-ivf-app") { dir =>
      val dest = dir.toString
      Similarity.buildIvfIndex(old, dest, numCells = 8)
      val census = Similarity.appendToIvfIndex(delta, dest)
      assert(census.values.sum === n / 2) // every delta row landed in a cell
      // appended vectors self-recover through the store: their argmin cell
      // under the OLD codebook is exactly the first cell the probe checks
      val queries = vecs.filter(col("vec_id") % 400 === 1) // odd = appended
        .select(col("vec_id").as("query_id"), col("embedding"))
      val got = Similarity.ivfTopKFromIndex(spark, dest, queries, 1, nProbe = 2)
        .filter(col("rank") === 1)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSeq
      assert(got.nonEmpty && got.forall { case (q, nn) => q === nn })
      // old vectors unaffected
      val oldQ = vecs.filter(col("vec_id") % 400 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val gotOld = Similarity.ivfTopKFromIndex(spark, dest, oldQ, 1, nProbe = 2)
        .filter(col("rank") === 1)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSeq
      assert(gotOld.nonEmpty && gotOld.forall { case (q, nn) => q === nn })
    }
  }

  test("rebuildIvfIndexIfSkewed: skip below threshold, generation swap above, " +
      "failed attempt leaves the live index untouched") {
    val n = 2000
    val vecs = spark.range(n).toDF("vec_id")
      .withColumn("embedding",
        expr("transform(sequence(1, 8), " +
          "i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))
    withTempDir("graft-ivf-rb") { tmpDir =>
      val dest = tmpDir.toString
      Similarity.buildIvfIndex(vecs.filter(col("vec_id") % 4 === 0), dest,
        numCells = 8)
      Similarity.appendToIvfIndex(vecs.filter(col("vec_id") % 4 =!= 0), dest)
      val queries = vecs.filter(col("vec_id") % 200 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val before = Similarity.ivfTopKFromIndex(spark, dest, queries, 3,
        nProbe = 3)

      // an absurdly high threshold skips: returns false, store untouched
      assert(!Similarity.rebuildIvfIndexIfSkewed(spark, dest,
        skewThreshold = 1e9))
      assert(Similarity.resolveIvfDir(spark, dest) === dest)

      // FAILED-ATTEMPT ATOMICITY: a died rebuild = partial gen dir with
      // no COMMITTED marker (simulate one), even with a stale CURRENT
      // pointing at it — the resolver must keep serving the old layout
      val carcass = new java.io.File(s"$dest/gen-7/vectors"); carcass.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dest/CURRENT"), "gen-7")
      assert(Similarity.resolveIvfDir(spark, dest) === dest)
      val during = Similarity.ivfTopKFromIndex(spark, dest, queries, 3,
        nProbe = 3)
      assert(during.exceptAll(before).isEmpty && before.exceptAll(during).isEmpty)

      // threshold 1.0 always fires: new generation must be COMMITTED,
      // CURRENT swung past the carcass (attempt-unique: gen-8, not gen-7),
      // and the carcass swept
      assert(Similarity.rebuildIvfIndexIfSkewed(spark, dest,
        skewThreshold = 1.0, numCells = 8))
      assert(Similarity.resolveIvfDir(spark, dest) === s"$dest/gen-8")
      assert(new java.io.File(s"$dest/gen-8/COMMITTED").exists())
      assert(!new java.io.File(s"$dest/gen-7").exists(), "carcass not swept")

      // post-rebuild recall parity vs brute force: the rebuilt codebook
      // serves at least as well as the stale pre-rebuild one
      val exact = Similarity.bruteForceTopK(vecs, queries, 3)
      def recall(approx: org.apache.spark.sql.DataFrame): Double =
        Similarity.recallAtK(approx, exact)
          .select("recall").as[Double].collect().head
      val after = Similarity.ivfTopKFromIndex(spark, dest, queries, 3,
        nProbe = 3)
      assert(recall(after) >= recall(before))
      // self-recovery invariant holds through the new generation
      val r1 = after.filter(col("rank") === 1)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSeq
      assert(r1.nonEmpty && r1.forall { case (q, nn) => q === nn })

      // appends now land in the LIVE generation, not the legacy dir
      Similarity.appendToIvfIndex(
        vecs.select(col("vec_id") + 100000L as "vec_id", col("embedding"))
          .limit(10), dest)
      val genRows = spark.read.parquet(s"$dest/gen-8/vectors").count()
      assert(genRows === n + 10)

      // SECOND rebuild with keepGenerations = 1: gen-9 commits, CURRENT
      // swings, and the retention sweep deletes gen-8 (beyond the window)
      assert(Similarity.rebuildIvfIndexIfSkewed(spark, dest,
        skewThreshold = 1.0, numCells = 8, keepGenerations = 1))
      assert(Similarity.resolveIvfDir(spark, dest) === s"$dest/gen-9")
      assert(!new java.io.File(s"$dest/gen-8").exists(),
        "retention kept a generation beyond the window")
      assert(spark.read.parquet(s"$dest/gen-9/vectors").count() === n + 10)
      // probes keep serving through the newest generation
      val afterTwo = Similarity.ivfTopKFromIndex(spark, dest, queries, 1,
        nProbe = 2).filter(col("rank") === 1)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSeq
      assert(afterTwo.nonEmpty && afterTwo.forall { case (q, nn) => q === nn })
    }
  }

  test("centroidDrift: identical slices cosine exactly 1; an opposed " +
      "slice drags below; norms exact") {
    // slice 0 and 1 both at centroid (1, 0); slice 2 at (-1, 0):
    // global centroid sums cancel slice 2 against one of the others
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)), (4L, Array(1.0f, 0.0f)),
      (2L, Array(-1.0f, 0.0f)), (5L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
      .withColumn("sl", col("vec_id") % 3)
    val got = Similarity.centroidDrift(vecs, "sl")
      .as[(Long, Long, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // slices 0, 1 = {(1,0), (1,0)}: norm 1, global sum = (2e6, 0) -> cos 1
    assert(got(0L) === ((0L, 2L, 1.0, Some(1.0))))
    assert(got(1L) === ((1L, 2L, 1.0, Some(1.0))))
    // slice 2 = {(-1,0), (-1,0)}: norm 1, cos vs (2e6, 0) = -1 exactly
    assert(got(2L) === ((2L, 2L, 1.0, Some(-1.0))))
  }

  test("rebuild claim protocol: an interleaved concurrent attempt's " +
      "generation is never co-written (atomic disjoint claims)") {
    import org.apache.hadoop.fs.Path
    withTempDir("graft-ivf") { tmp =>
      val dest = Files.createDirectory(tmp.resolve("ivf-claim"))
        .toString
      val root = new Path(dest)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // claims are atomic (create-no-overwrite) and disjoint: a rival's
      // claim landing on the obvious next number forces ours PAST it —
      // the exact interleaving that used to let two rebuilds co-write
      // one gen dir before either COMMITTED marker
      val g1 = graft.core.Generations.claim(fs, root)
      assert(g1 === 1L)
      fs.create(new Path(root, s"gen-${g1 + 1}/CLAIM"), false).close()
      val g2 = graft.core.Generations.claim(fs, root)
      assert(g2 === g1 + 2, "claim did not skip the rival's held number")
      // re-creating a held claim file throws, never silently wins
      intercept[java.io.IOException] {
        fs.create(new Path(root, s"gen-$g2/CLAIM"), false).close()
      }

      // end-to-end: with a rival's claimed-but-unfinished attempt
      // present, a rebuild claims a FRESH generation, commits there, and
      // the rival's dir gains none of our data files
      val n = 400
      val vecs = spark.range(n).toDF("vec_id")
        .withColumn("embedding",
          expr("transform(sequence(1, 8), " +
            "i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))
      val store = Files.createDirectory(tmp.resolve("ivf-claim2"))
        .toString
      Similarity.buildIvfIndex(vecs, store, numCells = 4)
      val storeRoot = new Path(store)
      val sfs = storeRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rival = graft.core.Generations.claim(sfs, storeRoot) // holds gen-1
      assert(Similarity.rebuildIvfIndexIfSkewed(spark, store,
        skewThreshold = 1.0, numCells = 4))
      assert(Similarity.resolveIvfDir(spark, store) === s"$store/gen-${rival + 1}")
      assert(new java.io.File(s"$store/gen-${rival + 1}/COMMITTED").exists())
      // the rival's claimed dir was never co-written: claim file only
      // (it is then swept as an uncommitted carcass by our GC — the
      // documented single-GC-owner contract)
      val rivalDir = new java.io.File(s"$store/gen-$rival")
      assert(!rivalDir.exists() ||
        rivalDir.listFiles().map(_.getName).toSet.subsetOf(Set("CLAIM")))
    }
  }

  test("hierarchical codebook: two-level assignment is consistent and flatten-aligned") {
    // 4 well-separated planted clusters in R^4
    val vecs = (for {
      c <- 0 until 4
      i <- 0 until 50
    } yield {
      val base = 20f * c
      val j = (i % 5) * 0.02f
      ((c * 50 + i).toLong, Array(base + j, base - j, base + 2 * j, base))
    }).toDF("vec_id", "embedding")

    val cb = Similarity.trainKMeansHier(vecs, numCells = 16, iters = 5,
      trainSample = 1000)
    // structure: ~sqrt(16)=4 coarse cells, jagged fine tables, global ids
    // dense in [0, numCells)
    assert(cb.coarse.length === 4)
    assert(cb.offsets.head === 0)
    assert(cb.numCells === cb.fine.map(_.length).sum)
    assert(cb.flatten.length === cb.numCells)
    // flatten alignment: the centroid at index cellOf(v) IS the fine
    // centroid the two-level argmin picked
    val probe = Array(20.02f, 19.98f, 20.04f, 20f)
    val cell = cb.cellOf(probe)
    assert(cell >= 0 && cell < cb.numCells)
    val c = cb.offsets.lastIndexWhere(_ <= cell)
    assert(cb.flatten(cell).toSeq === cb.fine(c)(cell - cb.offsets(c)).toSeq)

    val assigned = Similarity.kmeansAssignHier(vecs, cb)
      .as[(Long, Int)].collect().toMap
    // identical vectors always agree (same coarse argmin, same fine argmin)
    assert(assigned(0L) === assigned(5L)) // same jitter pattern i%5
    // far-apart planted clusters never share a cell
    val byCluster = (0 until 4).map { cl =>
      (0 until 50).map(i => assigned((cl * 50 + i).toLong)).toSet
    }
    for (a <- 0 until 4; b <- a + 1 until 4)
      assert((byCluster(a) & byCluster(b)).isEmpty,
        s"clusters $a/$b share cells ${byCluster(a) & byCluster(b)}")
  }

  test("ivfTopK hierarchical path self-recovers and ranks true neighbors") {
    // 4 tight planted clusters; queries are corpus members — rank 1 must
    // be the query itself (cosine 1.0) and the rest of top-k same-cluster
    val vecs = (for {
      c <- 0 until 4
      i <- 0 until 40
    } yield {
      val ang = c * math.Pi / 2 + i * 0.002 // all vectors DISTINCT: the
      // rank-1 cosine-1.0 hit is uniquely the query itself
      ((c * 40 + i).toLong,
        Array(math.cos(ang).toFloat * 10, math.sin(ang).toFloat * 10,
          (c + 1).toFloat, 1f))
    }).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.ivfTopK(vecs, queries, 5, numCells = 32, nProbe = 3,
        trainSample = 1000, hierarchicalAbove = 8) // force the hier path
      .collect()
    val r1 = top.filter(_.getAs[Int]("rank") == 1)
    assert(r1.length === 8)
    r1.foreach { r =>
      assert(r.getAs[Long]("nn_id") === r.getAs[Long]("query_id"),
        s"rank-1 must be the query itself: $r")
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    // every top-5 neighbor of a cluster-c query is from cluster c
    top.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("nn_id")
      assert(q / 40 === n / 40, s"cross-cluster neighbor: $r")
    }
  }

  test("PQ codebook: encode is the per-subspace argmin, ADC of own code is the global minimum") {
    val vecs = (0L until 400L).map { i =>
      (i, Array.tabulate(8)(d =>
        (math.sin(i * 0.37 + d * 1.7) * 5).toFloat))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.trainPq(vecs, m = 4, trainSample = 1000)
    assert(cb.m === 4 && cb.subDim === 2 && cb.dim === 8)
    // ADC(q, encode(q)) = Σ_s min_k d(q_s, c_k) — no other code can beat
    // it (the self-recovery invariant's arithmetic core), checked against
    // random other codes
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { t =>
      val q = Array.tabulate(8)(d => (math.sin(t * 0.91 + d) * 5).toFloat)
      val lut = cb.lut(q)
      val own = cb.adc(lut, cb.encode(q))
      (0 until 20).foreach { _ =>
        val other = Array.fill(4)((rnd.nextInt(cb.sub(0).length)).toByte)
        assert(own <= cb.adc(lut, other) + 1e-6f)
      }
    }
  }

  test("ivfPqTopK: codes-only candidate join still self-recovers after exact rerank") {
    // same distinct planted clusters as the hier test — rank 1 must be
    // the query itself at cosine 1.0, neighbors cluster-local
    val vecs = (for {
      c <- 0 until 4
      i <- 0 until 40
    } yield {
      val ang = c * math.Pi / 2 + i * 0.002
      ((c * 40 + i).toLong,
        Array(math.cos(ang).toFloat * 10, math.sin(ang).toFloat * 10,
          (c + 1).toFloat, 1f))
    }).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // default rerankSize (auto: max(k, p95 cell population) from the
    // code-frame histogram) — the derived shortlist must cover the
    // 40-member planted clusters without a manual knob
    val top = Similarity.ivfPqTopK(vecs, queries, 5, numCells = 8,
        nProbe = 3, m = 2, trainSample = 1000)
      .collect()
    val r1 = top.filter(_.getAs[Int]("rank") == 1)
    assert(r1.length === 8)
    r1.foreach { r =>
      assert(r.getAs[Long]("nn_id") === r.getAs[Long]("query_id"),
        s"rank-1 must be the query itself: $r")
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    top.foreach { r =>
      assert(r.getAs[Long]("query_id") / 40 === r.getAs[Long]("nn_id") / 40,
        s"cross-cluster neighbor: $r")
    }
  }

  test("semanticDedup hierarchical path keeps the planted-dup invariant") {
    // 200 base vectors on DISTINCT hypercube corners (sign pattern = the
    // id's bits) — pairwise cosine ≤ 6/8 = 0.75, far under threshold —
    // plus exact copies of every 10th: regardless of cell structure, each
    // copy shares its original's cell and only copies drop (min-id rule)
    val base = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => if (((i >> d) & 1) == 1) 1f else -1f))
    }
    val plants = base.filter(_._1 % 10 == 0)
      .map { case (id, v) => (id + 1000L, v) }
    val rows = (base ++ plants).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(rows, 0.9999, numCells = 64,
        trainSample = 1000, hierarchicalAbove = 8) // force the hier path
      .select("vec_id").as[Long].collect().toSet
    assert(kept === base.map(_._1).toSet,
      "exactly the planted copies must drop through the hierarchical codebook")
  }

  test("semanticDedup drops within-cluster near-dups, keeps min-id first") {
    // two far-apart clusters; within cluster 0: ids 0 and 1 are IDENTICAL,
    // id 2 is a near-dup of 0 (cos > 0.999), id 3 is distinct (orthogonal
    // jitter, cos < threshold); cluster 1 has no dups
    val rows = Seq(
      0L -> Array(1f, 2f, 3f, 4f),
      1L -> Array(1f, 2f, 3f, 4f),                  // exact dup of 0
      2L -> Array(1.0001f, 2.0002f, 3.0001f, 4f),   // near-dup of 0
      3L -> Array(4f, 3f, 2f, 1f),                  // same region, different direction
      10L -> Array(100f, 100f, 100f, 100f),         // far region...
      11L -> Array(-100f, 100f, -100f, 100f)        // ...orthogonal mate (cos 0)
    ).toDF("vec_id", "embedding")
    // NOTE the only >= 0.999 pairs are (0,1)/(0,2)/(1,2), and identical/
    // near-identical vectors co-cluster under ANY k-means outcome — the
    // expected keep set is robust to how the far points split
    val kept = Similarity.semanticDedup(rows, 0.999, numCells = 2,
        trainSample = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 3L, 10L, 11L),
      s"expected min-id survivors per near-dup group, got $kept")
  }

  test("principalComponent recovers a planted dominant axis") {
    // variance 100× larger along (1,1,0,0)/√2 than any other direction
    val axis = Array(1f, 1f, 0f, 0f).map(_ / math.sqrt(2.0).toFloat)
    val rows = (0 until 200).map { i =>
      val a = (i % 21 - 10).toFloat // -10..10 along the axis
      val noise = ((i * 7) % 5 - 2) * 0.01f
      (i.toLong, Array(a * axis(0) + noise, a * axis(1) - noise,
        noise, -noise))
    }.toDF("vec_id", "embedding")
    val (mu, v, lambda) = Similarity.principalComponent(rows, "embedding")
    // direction aligns with the planted axis (sign is deterministic but
    // axis-alignment is the invariant worth asserting)
    val cosAxis = math.abs(v(0) * axis(0) + v(1) * axis(1) +
      v(2) * axis(2) + v(3) * axis(3))
    assert(cosAxis > 0.999, s"direction ${v.toSeq} vs axis ${axis.toSeq}")
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12) // unit norm
    assert(lambda > 10.0, s"dominant eigenvalue $lambda")
    assert(mu.length === 4)
  }

  test("principalComponents: deflation finds orthogonal axes in order") {
    // variance 100 along e1, 25 along e2, ~0 elsewhere
    val rows = (0 until 200).map { i =>
      val a = (i % 21 - 10).toFloat
      val b = ((i * 3) % 11 - 5).toFloat * 0.5f
      (i.toLong, Array(a, b, 0.001f * (i % 3), 0f))
    }.toDF("vec_id", "embedding")
    val (_, dirs, lambdas) = Similarity.principalComponents(rows, 2, "embedding")
    assert(lambdas(0) > lambdas(1) && lambdas(1) > 0)
    assert(math.abs(dirs(0)(0)) > 0.999, s"pc1 ${dirs(0).toSeq}") // e1
    assert(math.abs(dirs(1)(1)) > 0.999, s"pc2 ${dirs(1).toSeq}") // e2
    val dot = (0 until 4).map(i => dirs(0)(i) * dirs(1)(i)).sum
    assert(math.abs(dot) < 1e-6, s"components not orthogonal: $dot")
    // pcaScoresM column shape
    val sc = Similarity.pcaScoresM(rows, 2)
    assert(sc.columns.toSeq === Seq("vec_id", "pc1", "pc2"))
    intercept[IllegalArgumentException] {
      Similarity.principalComponents(rows, 5, "embedding") // m > d
    }
  }

  test("pcaScores == manual centered projection; null vectors drop from fit") {
    val rows = Seq(
      (0L, Some(Array(1f, 0f))), (1L, Some(Array(3f, 0f))),
      (2L, Some(Array(5f, 1f))), (3L, Option.empty[Array[Float]])
    ).toDF("vec_id", "embedding")
    val (mu, v, _) = Similarity.principalComponent(rows, "embedding")
    val got = Similarity.pcaScores(rows.na.drop(), "vec_id", "embedding")
      .as[(Long, Double)].collect().toMap
    val vecs = Map(0L -> Array(1f, 0f), 1L -> Array(3f, 0f),
      2L -> Array(5f, 1f))
    vecs.foreach { case (id, x) =>
      val manual = (0 until 2).map(i => (x(i).toDouble - mu(i)) * v(i)).sum
      assert(math.abs(got(id) - manual) < 1e-12, s"id $id")
    }
    // the fit ignored the null row: mean is over the 3 real vectors
    assert(math.abs(mu(0) - 3.0) < 1e-12)
    intercept[IllegalArgumentException] {
      Similarity.principalComponent(
        Seq(Option.empty[Array[Float]]).toDF("embedding"), "embedding")
    }
  }

  test("silhouette: on-centroid 1, equidistant 0, misassigned negative, exact means") {
    import spark.implicits._
    val cs = Array(Array(0f, 0f), Array(10f, 10f))
    // exactly ON centroid 0 -> a=0, b=sqrt(200) -> s = 1; midpoint
    // (5,5) -> a=b -> s = 0; near centroid 1 -> s close to 1
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(5f, 5f)), (3L, Array(10f, 10f)))
      .toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity.silhouetteRows(vecs, cs)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(rows(1L) === ((0, 1.0)))
    assert(rows(2L) === ((0, 0.0))) // tie -> lowest index, s = 0
    assert(rows(3L) === ((1, 1.0)))
    // duplicates get the IDENTICAL row (the determinism contract)
    val dup = vecs.unionAll(Seq((11L, Array(0f, 0f)))
      .toDF("vec_id", "embedding"))
    val dr = graft.operators.Similarity.silhouetteRows(dup, cs)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(dr(11L) === dr(1L))
    // report: exact quantized means per cell
    val rep = graft.operators.Similarity.silhouetteReport(vecs, cs)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(rep(0) === ((2L, 0.5)) && rep(1) === ((1L, 1.0)))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.silhouetteRows(vecs, Array(Array(0f, 0f)))
    }
  }

  test("recallAtK: hand overlap, missing-query pooled penalty, dup-proof, perfect one") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "nn_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "nn_id")
    val r = graft.operators.Similarity.recallAtK(approx, exact)
      .as[(Long, Long, Long, Double)].collect().head
    assert(r === ((2L, 4L, 3L, 0.75)))
    // a query the approx side missed entirely still counts its exact k
    // in the pooled denominator
    val miss = Seq((1L, 10L), (1L, 11L)).toDF("query_id", "nn_id")
    assert(graft.operators.Similarity.recallAtK(miss, exact)
      .as[(Long, Long, Long, Double)].collect().head === ((2L, 4L, 2L, 0.5)))
    assert(graft.operators.Similarity.recallAtK(exact, exact)
      .as[(Long, Long, Long, Double)].collect().head._4 === 1.0)
    // duplicate (query, item) rows in the approx frame must not count
    // a hit twice (recall could exceed 1.0 before the dedup)
    val dup = exact.union(exact)
    assert(graft.operators.Similarity.recallAtK(dup, exact)
      .as[(Long, Long, Long, Double)].collect().head === ((2L, 4L, 4L, 1.0)))
  }

  test("mmdCosine: hand kernels on orthogonal bases; separation; guard") {
    import spark.implicits._
    val x = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val y = Seq((10L, Array(1f, 0f)), (20L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // cos 0 -> k = exp(-2) -> 135335 micro; cos 1 -> 1000000 micro
    val k0 = math.round(math.exp((0.0 - 1.0) / 0.5) * 1e6)
    val kxx = k0.toDouble / 1000000.0       // one within-pair
    val kxy = (2L * 1000000L + 2L * k0).toDouble / (4L * 1000000L)
    val got = Similarity.mmdCosine(x, y)
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    assert(got === ((2L, 2L, r6(kxx), r6(kxx), r6(kxy),
      r6(kxx + kxx - 2.0 * kxy))))
    // identical samples: unbiased mmd2 is NEGATIVE (cross pairs include
    // the self matches the within terms exclude)
    assert(got._6 < 0.0)
    // disjoint directions separate: mmd2 clearly positive
    val z = Seq((30L, Array(-1f, 0f)), (40L, Array(0f, -1f)))
      .toDF("vec_id", "embedding")
    val sep = Similarity.mmdCosine(x, z)
      .as[(Long, Long, Double, Double, Double, Double)].collect().head
    assert(sep._6 > 0.1, s"separated samples should drift: ${sep._6}")
    // quadratic gate fails loud
    val e = intercept[IllegalArgumentException] {
      Similarity.mmdCosine(x, y, maxRows = 1L)
    }
    assert(e.getMessage.contains("maxRows") ||
      e.getMessage.contains("quadratic"))
  }

  test("bitextMine: hub penalty, margins vs a hand replay, threshold") {
    import spark.implicits._
    // src a=(1,0), b=(0,1); tgt: ta=(1,0) matches a specifically,
    // hub=(0.8,0.6) is "close to everything" — raw cosine ranks hub
    // high for both sources, the margin demotes it where a specific
    // match exists
    val src = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val tgt = Seq((10L, Array(1f, 0f)), (20L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    def cos6(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        na += x(i).toDouble * x(i).toDouble
        nb += y(i).toDouble * y(i).toDouble; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (a, b) = (Array(1f, 0f), Array(0f, 1f))
    val (ta, hub) = (Array(1f, 0f), Array(0.8f, 0.6f))
    // neighborhood means over k=2 (both targets / both sources kept)
    val axA = (cos6(a, ta) + cos6(a, hub)) / 2.0
    val axB = (cos6(b, ta) + cos6(b, hub)) / 2.0
    val ayTa = (cos6(a, ta) + cos6(b, ta)) / 2.0
    val ayHub = (cos6(a, hub) + cos6(b, hub)) / 2.0
    val mATa = r6(cos6(a, ta) / ((axA + ayTa) / 2.0))
    val mBHub = r6(cos6(b, hub) / ((axB + ayHub) / 2.0))
    val got = Similarity.bitextMine(src, tgt, k = 2, threshold = 1.0)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 10L, cos6(a, ta), mATa),   // a keeps its exact match...
      (2L, 20L, cos6(b, hub), mBHub))) // ...b's best is honestly the hub
    assert(mATa > r6(cos6(a, hub) / ((axA + ayHub) / 2.0)),
      "the margin must demote the hub where a specific match exists")
    // a higher threshold drops the weaker pair
    val strict = Similarity.bitextMine(src, tgt, k = 2,
      threshold = (mATa + mBHub) / 2.0)
      .as[(Long, Long, Double, Double)].collect()
    assert(strict.map(_._1).toSeq === Seq(1L))
  }
}
