package graft.sinks

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * The repo's live generation (`index.latest` → `index-N`) is read and
 * published in one place, and every consumer fails loudly on a state it
 * cannot read instead of guessing a generation: appends, reads and GC
 * name the broken file, and a failed publish leaves readers on the
 * previous generation.
 */
class SnapshotRepoStateSpec extends SparkSpec {

  private def append(dest: String, ids: Range, name: String,
                     index: String = "events", overwrite: Boolean = false): Unit =
    EsSnapshot.write(
      Ingest.fromColumns(spark.range(ids.start, ids.end).toDF("event_id"),
        index, "event_id", 2),
      dest, ShardConfig(2), Some(name), overwrite = overwrite)

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def assertNames(e: Throwable, file: String): Unit =
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains(file)),
      s"no cause of $e names $file")

  /** Name → bytes of `index.latest` and every `index-N` under `root`. */
  private def stateFiles(root: JPath): Map[String, Seq[Byte]] =
    Files.list(root).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n == SnapshotLayout.IndexLatest || n.startsWith("index-"))
      .map(n => n -> Files.readAllBytes(root.resolve(n)).toSeq).toMap

  private def latestGen(root: JPath): Long =
    SnapshotLayout.parseIndexLatest(
      Files.readAllBytes(root.resolve(SnapshotLayout.IndexLatest)))

  test("a torn index.latest fails append, read and GC by name; overwrite resets") {
    withTempDir("graft-torn") { dir =>
      val dest = dir.toString
      (0 until 3).foreach(i => append(dest, i * 10 until i * 10 + 10, s"snap_$i"))
      val latest = dir.resolve(SnapshotLayout.IndexLatest)
      Files.write(latest, Files.readAllBytes(latest).take(4))
      // the local file system's checksum sidecar would flag the cut
      // before the length check sees it; a torn write has none to match
      Files.deleteIfExists(dir.resolve(".index.latest.crc"))
      val before = stateFiles(dir)

      assertNames(intercept[Exception](append(dest, 30 until 40, "snap_3")),
        SnapshotLayout.IndexLatest)
      assert(stateFiles(dir) === before, "a failed append must not touch the repo state")
      assertNames(intercept[Exception](EsSnapshot.readTable(spark, dest).count()),
        SnapshotLayout.IndexLatest)
      assertNames(intercept[IllegalStateException](
        EsSnapshot.deleteSnapshot(spark, dest, "snap_0")), SnapshotLayout.IndexLatest)
      assertNames(intercept[IllegalStateException](
        EsSnapshot.compactRepo(spark, dest, keep = 1)), SnapshotLayout.IndexLatest)
      assert(stateFiles(dir) === before)

      // overwrite ignores prior state: the documented reset still works
      append(dest, 100 until 105, "snap_reset", overwrite = true)
      assert(latestGen(dir) === 0L)
      assert(EsSnapshot.readTable(spark, dest).count() === 5)
    }
  }

  test("an unknown snapshot selector fails; names and uuids still select") {
    withTempDir("graft-selector") { dir =>
      val dest = dir.toString
      (0 until 3).foreach(i => append(dest, i * 10 until i * 10 + 10, s"snap_$i"))
      val e = intercept[Exception](
        EsSnapshot.readTable(spark, dest, Some("snap_9")).count())
      val bad = causes(e).collectFirst { case c: IllegalArgumentException => c }
      assert(bad.exists(c => (Seq("snap_9") ++ (0 until 3).map(i => s"snap_$i"))
        .forall(c.getMessage.contains)), s"unexpected failure: $e")

      val uuid1 = SnapshotLayout.parseGenerationSnapshots(
        Files.readString(dir.resolve(SnapshotLayout.generationFile(latestGen(dir)))))
        .collectFirst { case ("snap_1", u) => u }.get
      for (sel <- Seq("snap_1", uuid1)) {
        val ids = EsSnapshot.readTable(spark, dest, Some(sel))
          .select(get_json_object(col("json"), "$.event_id").cast("long"))
          .collect().map(_.getLong(0)).toSet
        assert(ids === (10L until 20L).toSet, s"selector $sel")
      }
    }
  }

  test("snapshot-scoped reads see only the snapshot's own indexes") {
    withTempDir("graft-scoped") { dir =>
      val dest = dir.toString
      append(dest, 0 until 10, "s1", index = "idx_a")
      append(dest, 0 until 5, "s2", index = "idx_b")
      def perIndex(sel: Option[String]): Map[String, Long] =
        EsSnapshot.readTable(spark, dest, sel).groupBy("index").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perIndex(None) === Map("idx_b" -> 5L))
      assert(perIndex(Some("s2")) === Map("idx_b" -> 5L))
      assert(perIndex(Some("s1")) === Map("idx_a" -> 10L))
      // a snapshot of no rows contains no index, so it reads as empty
      append(dest, 0 until 0, "s3", index = "idx_a")
      assert(perIndex(None) === Map.empty)
      assert(perIndex(Some("s1")) === Map("idx_a" -> 10L))
    }
  }

  test("a publish that fails on index.latest leaves the previous generation live") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfail.impl", classOf[FailingLatestFileSystem].getName)
    withTempDir("graft-publish-fail") { dir =>
      val dest = s"graftfail://$dir"
      append(dest, 0 until 40, "snap_a")
      FailingLatestFileSystem.armed = true
      val e = try intercept[Exception](append(dest, 40 until 80, "snap_b"))
        finally FailingLatestFileSystem.armed = false
      assertNames(e, SnapshotLayout.IndexLatest)

      // readers stay on generation 0: the first snapshot, in full
      assert(latestGen(dir) === 0L)
      val ids = EsSnapshot.readTable(spark, dest)
        .select(get_json_object(col("json"), "$.event_id").cast("long"))
        .collect().map(_.getLong(0)).toSet
      assert(ids === (0L until 40L).toSet)

      // the DSv2 abort removed the failed write's data files: each shard
      // holds exactly what snap_a's manifest lists
      val uuidA = SnapshotLayout.parseGenerationSnapshots(
        Files.readString(dir.resolve("index-0"))).head._2
      (0 until 2).foreach { s =>
        val shard = dir.resolve("indices")
          .resolve(SnapshotLayout.indexId("events")).resolve(s.toString)
        val docs = Files.list(shard).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("docs-")).toSet
        assert(docs === SnapshotLayout.parseShardSnapFiles(
          Files.readAllBytes(shard.resolve(SnapshotLayout.snapDat(uuidA)))).toSet)
      }

      // the next append builds on generation 0 and publishes generation 1
      append(dest, 80 until 90, "snap_c")
      assert(latestGen(dir) === 1L)
      assert(SnapshotLayout.parseGenerationSnapshots(
        Files.readString(dir.resolve("index-1"))).map(_._1) === Seq("snap_a", "snap_c"))
      assert(EsSnapshot.readTable(spark, dest).count() === 10)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_a")).count() === 40)
    }
  }
}
