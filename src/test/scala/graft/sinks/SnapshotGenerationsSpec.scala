package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * Snapshot repos accumulate: each write commits a NEW snapshot and
 * publishes the next generation (`index.latest` increments, `index-N`
 * lists every snapshot — the reference repo shape,
 * BaseTransport.java:169-201), and earlier snapshots stay restorable:
 * the commit sweep must never delete a file manifested by a prior
 * snapshot's snap-*.dat.
 */
class SnapshotGenerationsSpec extends SparkSpec {

  test("two writes → two generations, both snapshots restorable") {
    withTempDir("graft-gens") { dir =>
      val dest = dir.toString
      val numShards = 4

      val first = Ingest.fromColumns(
        spark.range(100).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(first, dest, ShardConfig(numShards), Some("snap_a"))

      val second = Ingest.fromColumns(
        spark.range(100, 160).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(second, dest, ShardConfig(numShards), Some("snap_b"))

      val root = Paths.get(dest)
      // generation bumped; the live index-N lists BOTH snapshots in order
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve("index.latest"))) === 1L)
      val genBody = Files.readString(root.resolve("index-1"))
      val snaps = SnapshotLayout.parseGenerationSnapshots(genBody)
      assert(snaps.map(_._1) === Seq("snap_a", "snap_b"))
      val Seq((_, uuidA), (_, uuidB)) = snaps
      assert(uuidA !== uuidB)
      // the index maps to both containing snapshots
      val indices = SnapshotLayout.parseGenerationIndices(genBody).toMap
      assert(indices("events") === Seq(uuidA, uuidB))
      // root metadata for both snapshots coexists
      assert(Files.exists(root.resolve(s"snap-$uuidA.dat")))
      assert(Files.exists(root.resolve(s"snap-$uuidB.dat")))

      // default read = latest snapshot only
      assert(EsSnapshot.readTable(spark, dest).count() === 60)
      // select by name: each snapshot reads back exactly its own docs
      assert(EsSnapshot.readTable(spark, dest, Some("snap_a")).count() === 100)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_b")).count() === 60)
      // select by uuid works too
      assert(EsSnapshot.readTable(spark, dest, Some(uuidA)).count() === 100)

      // the second commit's sweep preserved every file the first snapshot
      // manifests (spot-check shard 0)
      val shard0 = Paths.get(SnapshotLayout.shardDir(dest, "events", 0))
      val manifestedA = SnapshotLayout.parseShardSnapFiles(
        Files.readAllBytes(shard0.resolve(s"snap-$uuidA.dat")))
      manifestedA.foreach(f =>
        assert(Files.exists(shard0.resolve(f)), s"snap_a file $f must survive"))

      // shard placement invariant holds across both snapshots
      val misplaced = EsSnapshot.readTable(spark, dest, Some("snap_a"))
        .select(get_json_object(col("json"), "$.event_id").as("id"), col("shard"))
        .collect()
        .count(r => graft.core.EsMurmur3.shard(r.getString(0), numShards) != r.getInt(1))
      assert(misplaced === 0)
    }
  }

  test("deleteSnapshot garbage-collects one snapshot, the rest stays restorable") {
    withTempDir("graft-del") { dir =>
      val dest = dir.toString
      val numShards = 3
      val a = Ingest.fromColumns(
        spark.range(60).toDF("event_id"), "events", "event_id", numShards)
      val b = Ingest.fromColumns(
        spark.range(60, 100).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(a, dest, ShardConfig(numShards), Some("snap_a"))
      EsSnapshot.write(b, dest, ShardConfig(numShards), Some("snap_b"))

      assert(EsSnapshot.deleteSnapshot(spark, dest, "snap_a"))
      assert(!EsSnapshot.deleteSnapshot(spark, dest, "snap_a")) // already gone

      val root = Paths.get(dest)
      // a THIRD generation published, listing only snap_b
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve("index.latest"))) === 2L)
      val snaps = SnapshotLayout.parseGenerationSnapshots(
        Files.readString(root.resolve("index-2")))
      assert(snaps.map(_._1) === Seq("snap_b"))
      val uuidB = snaps.head._2

      // snap_b fully readable; snap_a unselectable and its files gone
      assert(EsSnapshot.readTable(spark, dest).count() === 40)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_b")).count() === 40)
      // per-shard: exactly snap_b's manifest remains, and only the data
      // files it lists survived the GC
      val indexDir = root.resolve("indices").resolve(SnapshotLayout.indexId("events"))
      (0 until numShards).foreach { s =>
        import scala.jdk.CollectionConverters._
        val names = Files.list(indexDir.resolve(s.toString)).iterator().asScala
          .map(_.getFileName.toString).toList
        assert(names.filter(_.startsWith("snap-")) === List(s"snap-$uuidB.dat"))
        val bFiles = SnapshotLayout.parseShardSnapFiles(Files.readAllBytes(
          indexDir.resolve(s.toString).resolve(s"snap-$uuidB.dat"))).toSet
        assert(names.filter(_.startsWith("docs-")).toSet === bFiles)
      }

      // deleting the last snapshot empties the repo listing
      assert(EsSnapshot.deleteSnapshot(spark, dest, "snap_b"))
      assert(EsSnapshot.readTable(spark, dest).count() === 0)
    }
  }

  test("GC fails CLOSED: a corrupt surviving manifest protects its data files") {
    withTempDir("graft-gc-closed") { dir =>
      val dest = dir.toString
      val numShards = 2
      val a = Ingest.fromColumns(
        spark.range(40).toDF("event_id"), "events", "event_id", numShards)
      val b = Ingest.fromColumns(
        spark.range(40, 80).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(a, dest, ShardConfig(numShards), Some("snap_a"))
      EsSnapshot.write(b, dest, ShardConfig(numShards), Some("snap_b"))

      val root = Paths.get(dest)
      val snaps = SnapshotLayout.parseGenerationSnapshots(
        Files.readString(root.resolve("index-1")))
      val uuidB = snaps.find(_._1 == "snap_b").get._2
      val indexDir = root.resolve("indices").resolve(SnapshotLayout.indexId("events"))

      // record both snapshots' shard-0 manifests, then corrupt the
      // SURVIVOR's (one flipped byte — the CRC32 frame makes this
      // detectable instead of silently parsing garbage)
      val uuidA = snaps.find(_._1 == "snap_a").get._2
      val shard0 = indexDir.resolve("0")
      val bManifest = shard0.resolve(s"snap-$uuidB.dat")
      val bFiles = SnapshotLayout.parseShardSnapFiles(Files.readAllBytes(bManifest))
      val aFiles = SnapshotLayout.parseShardSnapFiles(
        Files.readAllBytes(shard0.resolve(s"snap-$uuidA.dat")))
      assert(bFiles.nonEmpty && aFiles.nonEmpty,
        "fixture needs both snapshots' data in shard 0")
      val corrupt = Files.readAllBytes(bManifest)
      corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x40).toByte
      Files.write(bManifest, corrupt)

      // deleting snap_a: with the survivor's manifest unreadable there is NO
      // proof any shard-0 data file is unreferenced, so the sweep must
      // delete NOTHING in shard 0 — the victim's files leak (recoverable)
      // rather than risk deleting files the corrupt manifest references
      // (the fail-open behavior this pins down deleted aFiles here)
      assert(EsSnapshot.deleteSnapshot(spark, dest, "snap_a"))
      (bFiles ++ aFiles).foreach(f => assert(Files.exists(shard0.resolve(f)),
        s"fail-closed GC must leave shard-0 data file $f in place"))
      // the victim's metadata still goes away everywhere, and in shards
      // with a healthy surviving manifest its data files ARE collected
      assert(!Files.exists(shard0.resolve(s"snap-$uuidA.dat")))
      assert(!Files.exists(root.resolve(s"snap-$uuidA.dat")))
      val shard1 = indexDir.resolve("1")
      import scala.jdk.CollectionConverters._
      val shard1Docs = Files.list(shard1).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("docs-")).toSet
      val bShard1 = SnapshotLayout.parseShardSnapFiles(
        Files.readAllBytes(shard1.resolve(s"snap-$uuidB.dat"))).toSet
      assert(shard1Docs === bShard1,
        "healthy shard must GC the victim's files down to the survivor's set")
    }
  }

  test("compactRepo keeps the newest snapshots and collapses the generation chain") {
    withTempDir("graft-compact") { dir =>
      val dest = dir.toString
      val numShards = 2
      for (i <- 0 until 4) {
        val docs = Ingest.fromColumns(
          spark.range(i * 50, i * 50 + 50).toDF("event_id"),
          "events", "event_id", numShards)
        EsSnapshot.write(docs, dest, ShardConfig(numShards), Some(s"snap_$i"))
      }
      assert(EsSnapshot.compactRepo(spark, dest, keep = 2) === 2)

      val root = Paths.get(dest)
      // exactly ONE generation file remains, and index.latest points at it
      import scala.jdk.CollectionConverters._
      val genFiles = Files.list(root).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("index-")).toList
      val gen = SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve("index.latest")))
      assert(genFiles === List(s"index-$gen"))
      // survivors: the two newest, in order, still fully readable
      val snaps = SnapshotLayout.parseGenerationSnapshots(
        Files.readString(root.resolve(s"index-$gen")))
      assert(snaps.map(_._1) === Seq("snap_2", "snap_3"))
      assert(EsSnapshot.readTable(spark, dest, Some("snap_2")).count() === 50)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_3")).count() === 50)
      assert(EsSnapshot.readTable(spark, dest).count() === 50) // latest
      // victims' root metadata is gone
      assert(!Files.list(root).iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        snaps.map(_._2).forall(u => !n.contains(u)) &&
          (n.startsWith("snap-") || n.startsWith("meta-"))
      })
      // data-file GC: only the survivors' manifested files remain per shard
      val indexDir = root.resolve("indices").resolve(SnapshotLayout.indexId("events"))
      val surviving = snaps.map(_._2).toSet
      (0 until numShards).foreach { s =>
        val names = Files.list(indexDir.resolve(s.toString)).iterator().asScala
          .map(_.getFileName.toString).toList
        val manifested = names.filter(_.startsWith("snap-"))
          .map(_.stripPrefix("snap-").stripSuffix(".dat")).toSet
        assert(manifested === surviving)
        val referenced = manifested.flatMap(u =>
          SnapshotLayout.parseShardSnapFiles(
            Files.readAllBytes(indexDir.resolve(s.toString).resolve(s"snap-$u.dat"))))
        assert(names.filter(_.startsWith("docs-")).toSet === referenced)
      }
      // compacting an already-compact repo is a no-op
      assert(EsSnapshot.compactRepo(spark, dest, keep = 2) === 0)
    }
  }
}
