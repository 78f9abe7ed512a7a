package graft.operators

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCounter

import graft.SparkSpec

/** The persisted IVF store's lifecycle cost: a deterministic one-stage
  * Lloyd, writes rebalanced on the cell, typed store reads, the
  * probed-cell set riding the probe cut, and stores written in the older
  * layout. */
class IvfStoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int): DataFrame = spark.range(n).toDF("vec_id")
    .withColumn("embedding",
      expr("transform(sequence(1, 8), " +
        "i -> cast(pmod(xxhash64(vec_id, i), 1000) / 1000.0 - 0.5 as float))"))

  private def queries(df: DataFrame): DataFrame =
    df.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))

  private def bits(cs: Array[Array[Float]]): Seq[Seq[Int]] =
    cs.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select("query_id", "rank", "nn_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq

  /** Parquet data files per `cell=` dir of `vectorsDir`. */
  private def filesPerCell(vectorsDir: String): Map[String, Int] =
    new File(vectorsDir).listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap

  /** Lloyd recomputed over `parts` parallelize slices of `corpus`, which
    * is all sample (fewer rows than trainSample), ranked by (seeded hash,
    * id): per-slice sums folded in slice order. */
  private def refLloyd(corpus: DataFrame, parts: Int, k: Int, iters: Int,
                       seed: Long): Array[Array[Float]] = {
    val sample = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .sortBy { case (id, _) =>
        (graft.core.EsMurmur3.hash(id.toString + seed).toLong, id) }
    val slices = spark.sparkContext.parallelize(sample.toSeq, parts).glom()
      .collect()
    var cents = sample.take(k).map(_._2)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(null: Array[Double])
      val cnt = new Array[Long](k)
      slices.foreach { slice =>
        val acc = Array.fill(k)(null: Array[Double])
        val pc = new Array[Long](k)
        slice.foreach { case (_, v) =>
          val c = Similarity.nearest(cents, v)
          if (acc(c) == null) acc(c) = new Array[Double](v.length)
          for (i <- v.indices) acc(c)(i) += v(i)
          pc(c) += 1
        }
        for (c <- 0 until k if acc(c) != null) {
          if (sums(c) == null) sums(c) = acc(c)
          else for (i <- sums(c).indices) sums(c)(i) += acc(c)(i)
          cnt(c) += pc(c)
        }
      }
      cents = cents.indices.map { c =>
        if (cnt(c) > 0) sums(c).map(s => (s / cnt(c)).toFloat) else cents(c)
      }.toArray
    }
    cents
  }

  test("InOrderFold merges in index order and holds only early results") {
    val fold = new InOrderFold[String]((a, b) => s"$a,$b")
    val held = Seq(2, 0, 4, 3, 1).map { i => fold.add(i, s"r$i"); fold.held }
    assert(held === Seq(1, 1, 2, 3, 0))
    assert(fold.result === "r0,r1,r2,r3,r4")
    val gap = new InOrderFold[String]((a, b) => s"$a,$b")
    gap.add(1, "r1")
    assert(intercept[IllegalArgumentException](gap.result).getMessage
      .contains("result 0 has not arrived"))
  }

  test("trainKMeans over a multi-partition sample is deterministic and " +
      "folds the per-partition sums in partition order") {
    val n = 3000
    val corpus = vecs(n)
    val a = Similarity.trainKMeans(corpus, 6, 4, 42L)
    val b = Similarity.trainKMeans(corpus, 6, 4, 42L)
    assert(bits(a) === bits(b))
    val parts = math.min(spark.sparkContext.defaultParallelism, n / 1024 + 1)
    assert(parts >= 2, "the sample must span several partitions")
    assert(bits(a) === bits(refLloyd(corpus, parts, 6, 4, 42L)))
  }

  test("trainKMeans over a sample under 1024 rows runs one job, the " +
      "sample scan, and folds it as one slice") {
    val corpus = vecs(600).cache()
    corpus.count()
    val jc = new JobCounter(spark.sparkContext)
    val cents = try {
      val c = Similarity.trainKMeans(corpus, 5, 3, 42L)
      assert(jc.jobNames.size === 1, jc.jobNames)
      c
    } finally jc.close()
    assert(bits(cents) === bits(refLloyd(corpus, 1, 5, 3, 42L)))
    corpus.unpersist(blocking = true)
  }

  test("build, append and rebuild each write one file per cell") {
    val all = vecs(2000)
    for (numCells <- Seq(2, 8)) withTempDir("graft-ivf-cells") { dir =>
      val dest = dir.toString
      // four input partitions: a plain partitionBy write would give each
      // cell one file per input partition that holds it
      Similarity.buildIvfIndex(all.filter(col("vec_id") % 4 === 0)
        .repartition(4), dest, numCells = numCells)
      val built = filesPerCell(s"$dest/vectors")
      assert(built.nonEmpty && built.values.forall(_ == 1), built)

      Similarity.appendToIvfIndex(all.filter(col("vec_id") % 4 =!= 0)
        .repartition(4), dest)
      val appended = filesPerCell(s"$dest/vectors")
      assert(appended.forall { case (cell, m) =>
        m - built.getOrElse(cell, 0) <= 1 }, appended)

      assert(Similarity.rebuildIvfIndexIfSkewed(spark, dest,
        skewThreshold = 1.0, numCells = numCells))
      val live = Similarity.resolveIvfDir(spark, dest)
      val rebuilt = filesPerCell(s"$live/vectors")
      assert(rebuilt.nonEmpty && rebuilt.values.forall(_ == 1), rebuilt)
      assert(spark.read.parquet(s"$live/vectors").count() === 2000L)
    }
  }

  test("an append that lands in one hot cell is split over several writers") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(key)
    withTempDir("graft-ivf-skew") { dir =>
      val dest = dir.toString
      Similarity.buildIvfIndex(vecs(400), dest, numCells = 4)
      // 4000 copies of one vector under fresh ids: every row takes one cell
      val hot = vecs(1).select("embedding").head().getSeq[Float](0).toArray
      val delta = spark.range(1000000L, 1004000L, 1, 4).toDF("vec_id")
        .withColumn("embedding", typedLit(hot))
      spark.conf.set(key, "4096")
      val census = try Similarity.appendToIvfIndex(delta, dest)
        finally before match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      assert(census.values.toSeq === Seq(4000L), census)
      val cell = s"cell=${census.keys.head}"
      val hotFiles = new File(s"$dest/vectors/$cell").listFiles()
        .count(_.getName.endsWith(".parquet"))
      // one file from the build, and more than one from the split append
      assert(hotFiles >= 3, s"$cell holds $hotFiles files")
      assert(spark.read.parquet(s"$dest/vectors").count() === 4400L)
    }
  }

  test("probe and rebuild run no schema-inference, count or distinct job") {
    val all = vecs(2000)
    withTempDir("graft-ivf-jobs") { dir =>
      val dest = dir.toString
      Similarity.buildIvfIndex(all.filter(col("vec_id") % 4 === 0), dest,
        numCells = 8)
      Similarity.appendToIvfIndex(all.filter(col("vec_id") % 4 =!= 0), dest)
      // the query frame is materialized first so that only the probe's
      // own jobs are counted
      val q = queries(all).collect().toSeq
      val qdf = spark.createDataFrame(spark.sparkContext.parallelize(q, 2),
        queries(all).schema)

      // a schema-inference job runs while a plain parquet read is
      // analysed, outside any SQL execution, under a "parquet at" site
      val schemaJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val schemaListener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val site = j.stageInfos.maxBy(_.stageId).name
          if (j.properties.getProperty("spark.sql.execution.id") == null &&
              site.startsWith("parquet at")) schemaJobs.add(site)
        }
      }
      def names(f: => Unit): Seq[String] = {
        schemaJobs.clear()
        spark.sparkContext.addSparkListener(schemaListener)
        val jc = new JobCounter(spark.sparkContext)
        try { f; jc.jobNames } // the read drains both listeners
        finally { jc.close(); spark.sparkContext.removeSparkListener(schemaListener) }
      }

      // two jobs: the codebook read and the probe cut, which also carries
      // the probed-cell set that a distinct().collect() used to fetch
      val probe = names {
        Similarity.ivfTopKFromIndex(spark, dest, qdf, 3, nProbe = 2)
      }
      assert(schemaJobs.isEmpty, schemaJobs)
      assert(probe.size === 2, probe)
      assert(probe.count(_.startsWith("collect at")) === 1, probe)
      assert(probe.count(_.startsWith("localCheckpoint at")) === 1, probe)

      val rebuild = names {
        assert(Similarity.rebuildIvfIndexIfSkewed(spark, dest,
          skewThreshold = 1.0, numCells = 8))
      }
      assert(schemaJobs.isEmpty, schemaJobs)
      assert(rebuild.nonEmpty)
      assert(!rebuild.exists(n => n.startsWith("count at") ||
        n.startsWith("takeOrdered at") || n.startsWith("first at")), rebuild)
    }
  }

  test("a store written in the older layout (several files per cell) " +
      "appends, rebuilds and probes with the same results") {
    val all = vecs(2000)
    val base = all.filter(col("vec_id") % 4 === 0)
    val delta = all.filter(col("vec_id") % 4 =!= 0)
    val qs = queries(all)
    withTempDir("graft-ivf-legacy") { dir =>
      val current = s"$dir/current"
      val legacy = s"$dir/legacy"
      Similarity.buildIvfIndex(base, current, numCells = 8)
      // the older writer: the same rows, plain partitionBy("cell") over
      // several input partitions, so each cell has several files
      spark.read.parquet(s"$current/centroids")
        .write.parquet(s"$legacy/centroids")
      spark.read.parquet(s"$current/vectors").repartition(3)
        .write.partitionBy("cell").parquet(s"$legacy/vectors")
      assert(filesPerCell(s"$legacy/vectors").values.exists(_ > 1))

      assert(rows(Similarity.ivfTopKFromIndex(spark, legacy, qs, 3)) ===
        rows(Similarity.ivfTopKFromIndex(spark, current, qs, 3)))
      assert(Similarity.appendToIvfIndex(delta, legacy) ===
        Similarity.appendToIvfIndex(delta, current))
      assert(rows(Similarity.ivfTopKFromIndex(spark, legacy, qs, 3)) ===
        rows(Similarity.ivfTopKFromIndex(spark, current, qs, 3)))
      for (d <- Seq(legacy, current))
        assert(Similarity.rebuildIvfIndexIfSkewed(spark, d,
          skewThreshold = 1.0, numCells = 8))
      val centsOf = (d: String) =>
        spark.read.parquet(s"${Similarity.resolveIvfDir(spark, d)}/centroids")
          .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
      assert(bits(centsOf(legacy)) === bits(centsOf(current)))
      assert(rows(Similarity.ivfTopKFromIndex(spark, legacy, qs, 3)) ===
        rows(Similarity.ivfTopKFromIndex(spark, current, qs, 3)))
    }
  }
}
