package graft.sinks

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * Transport-agnosticism proof (SURVEY §2 S8-S11): the sink claims ONE
 * Hadoop `FileSystem` path replaces the reference's per-transport classes
 * (S3SnapshotTransport.java:49-193, HDFSSnapshotTransport.java:53-111,
 * LocalFSSnapshotTransport.java). This spec runs the FULL build → commit →
 * generations → read-back cycle against a second, non-`file` registered
 * scheme — any java.io/file:// shortcut in the write or read path would
 * either crash on the foreign URI or bypass the counted FileSystem.
 */
class SecondSchemeTransportSpec extends SparkSpec {

  test("snapshot build + overwrite + read-back over a non-file scheme") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftmock.impl", classOf[MockSchemeFileSystem].getName)
    withTempDir("graft-scheme") { dir =>
      val localDir = dir.toString
      val dest = s"graftmock://$localDir"
      val numShards = 4

      // the URI must resolve to OUR FileSystem, not fall back to file://
      val resolved = new org.apache.hadoop.fs.Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(resolved.isInstanceOf[MockSchemeFileSystem],
        s"scheme resolved to ${resolved.getClass}, not the registered transport")

      val first = Ingest.fromColumns(
        spark.range(100).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(first, dest, ShardConfig(numShards), Some("snap_a"))

      // the upload landed as a real directory tree on the backing store
      val root = Paths.get(localDir)
      assert(Files.exists(root.resolve(SnapshotLayout.IndexLatest)))
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve(SnapshotLayout.IndexLatest))) === 0L)
      (0 until numShards).foreach { s =>
        assert(Files.isDirectory(
          root.resolve("indices").resolve(SnapshotLayout.indexId("events"))
            .resolve(s.toString)), s"missing shard dir $s")
      }

      // second write to the same foreign-scheme repo: generation bump +
      // manifest overwrite (the S9/S10 semantics the reference codes per
      // transport: upload dir, then replace the manifest atomically)
      val manifest1 = EsSnapshot.readManifest(spark, dest).collect()
      val second = Ingest.fromColumns(
        spark.range(100, 160).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(second, dest, ShardConfig(numShards), Some("snap_b"))
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve(SnapshotLayout.IndexLatest))) === 1L)
      val manifest2 = EsSnapshot.readManifest(spark, dest).collect()
      assert(manifest2.map(_.getString(1)).toSet.size === 1,
        "manifest must be overwritten by the latest commit, not appended")
      assert(manifest1.map(_.getString(1)).toSet
        !== manifest2.map(_.getString(1)).toSet)

      // read path goes through the same scheme: both snapshots restorable
      assert(EsSnapshot.readTable(spark, dest).count() === 60)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_a")).count() === 100)
      // every snapshot the live generation lists still reads in full
      assert(Seq("snap_a", "snap_b")
        .map(n => EsSnapshot.readTable(spark, dest, Some(n)).count()).sum === 160)
    }
  }
}
