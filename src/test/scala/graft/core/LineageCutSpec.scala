package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}

/**
 * The engine-wide lineage-cut reliability contract: every operator that
 * truncates lineage through [[LineageCut]] must produce BIT-IDENTICAL
 * results whether the cut lands executor-local (local-mode default) or
 * on a reliable checkpoint dir (the cluster mode that survives executor
 * loss). One Dedup path and one Similarity path prove the routing —
 * the Graph module's equivalent test lives in GraphSpec.
 */
class LineageCutSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy dog near the creek"),
    (3L, "an entirely different document about training data pipelines"),
    (4L, "the quick brown fox jumps over the lazy dog near the river"),
    (5L, "short text"),
    (6L, "an entirely different document about training data pipelines!")
  ).toDF("doc_id", "text")

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.0f, 0.9f, 0.2f)),
    (5L, Array(0.0f, 0.0f, 1.0f)), (6L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  /** Run `f` twice — default mode, then with reliable cuts OPTED IN
   *  (session conf) against a checkpoint dir — and require identical
   *  results; also require the reliable run actually wrote checkpoint
   *  files, and that a merely-configured dir WITHOUT the opt-in stays
   *  local (the no-ambient-state contract). */
  private def bothModes(f: => Set[String]): Unit = {
    val local = f
    try withTempDir("graft-cut-spec") { dir =>
      spark.sparkContext.setCheckpointDir(dir.toString)
      // setCheckpointDir scaffolds an empty subdir immediately — count
      // regular FILES, the evidence of an actual checkpoint write
      def filesWritten(): Long = {
        val s = java.nio.file.Files.walk(dir)
        try s.filter(p => java.nio.file.Files.isRegularFile(p)).count()
        finally s.close()
      }
      // dir configured, no opt-in: cuts must stay executor-local
      val ambient = f
      assert(ambient === local)
      assert(filesWritten() === 0L,
        "a configured checkpoint dir alone must not flip cuts to " +
          "reliable mode (explicit opt-in only)")
      spark.conf.set(LineageCut.ReliableConfKey, "true")
      val reliable = f
      assert(reliable === local)
      assert(filesWritten() > 0L,
        "reliable mode wrote nothing under the checkpoint dir")
    } finally {
      spark.conf.unset(LineageCut.ReliableConfKey)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("reliable opt-in without a checkpoint dir fails loud") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = Seq((1L, "a")).toDF("id", "t")
    val ex = intercept[IllegalArgumentException] {
      LineageCut.cut(df, reliable = true)
    }
    assert(ex.getMessage.contains("checkpoint dir"))
  }

  test("cutWitnessed: the witness rides the cut's one job, in both modes") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000, 1, 4).toDF("id")
      .filter(col("id") % 3 === 0)
      .select(col("id"), (col("id") % 5).as("m"))
    val jc = new org.apache.spark.sql.graft.JobCounter(spark.sparkContext)
    val (c, w) = try {
      val r = LineageCut.cutWitnessed(df, "spec_witness")(
        count(lit(1)).as("n"), collect_set(col("m")).as("ms"))
      assert(jc.jobs === 1, jc.jobNames)
      r
    } finally jc.close()
    assert(w("n") === 334L)
    assert(w("ms").asInstanceOf[scala.collection.Seq[Long]].sorted === (0L to 4L))
    assert(c.count() === 334L)
    bothModes {
      val (cut, wr) = LineageCut.cutWitnessed(df, "spec_witness_modes")(
        sum(col("id")).as("s"))
      Set(s"sum=${wr("s")}", s"rows=${cut.count()}")
    }
  }

  test("Dedup.dedupe survivors identical under both cut modes") {
    bothModes {
      Dedup.dedupe(docs, "doc_id", "text", jaccardThreshold = 0.8)
        .select("doc_id").as[Long].collect().toSet.map((x: Long) => x.toString)
    }
  }

  test("Dedup.similarityJoinExact pairs identical under both cut modes") {
    bothModes {
      Dedup.similarityJoinExact(docs, "doc_id", "text", threshold = 0.5)
        .collect().map(_.toString).toSet
    }
  }

  test("Similarity.lshCosinePairs identical under both cut modes") {
    // lshCosinePairs cuts its signature frame — a REAL Similarity cut
    // site. (semanticDedup's flat path has none: the r10 version of
    // this case only passed its write check because Files.walk counted
    // the empty scaffold subdir setCheckpointDir creates — the check
    // now counts regular files, which that path never writes.)
    bothModes {
      Similarity.lshCosinePairs(vecs, threshold = 0.9,
          idCol = "vec_id", vecCol = "embedding")
        .collect().map(_.toString).toSet
    }
  }

  test("Dedup.winnowAdmitDelta admissions identical under both cut modes") {
    // the r11 incremental path: persisted-index read + five cut sites
    val corpus = docs.limit(4)
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river"),
      (11L, "a wholly new delta document about something else entirely"),
      (12L, "a wholly new delta document about something else entirely")
    ).toDF("doc_id", "text")
    withTempDir("graft-cut-widx") { idx =>
      Dedup.writeWinnowIndex(corpus, idx.toString, "doc_id", "text")
      bothModes {
        Dedup.winnowAdmitDelta(corpus, delta, idx.toString,
            "doc_id", "text", maxDist = 0)
          .select("doc_id").as[Long].collect().toSet
          .map((x: Long) => x.toString)
      }
    }
  }

  test("Similarity.semanticDedup keepers identical under both cut modes") {
    val local = Similarity.semanticDedup(vecs, threshold = 0.9,
        numCells = 2, idCol = "vec_id", vecCol = "embedding")
      .select("vec_id").as[Long].collect().toSet
    try withTempDir("graft-cut-spec") { dir =>
      spark.sparkContext.setCheckpointDir(dir.toString)
      spark.conf.set(LineageCut.ReliableConfKey, "true")
      val reliable = Similarity.semanticDedup(vecs, threshold = 0.9,
          numCells = 2, idCol = "vec_id", vecCol = "embedding")
        .select("vec_id").as[Long].collect().toSet
      assert(reliable === local) // parity only: this path has no cut site
    } finally {
      spark.conf.unset(LineageCut.ReliableConfKey)
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
