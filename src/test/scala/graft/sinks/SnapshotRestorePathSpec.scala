package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * Golden walk of the RESTORE-read path over a committed snapshot, step by
 * step as the reference performs it (so a consumer that follows the
 * reference's discovery logic finds every file where it expects it):
 *
 *  1. `index.latest` is an 8-byte big-endian generation number and names
 *     the live `index-N` file (BaseTransport.java:169-179,
 *     getLatestIndexFilename: "index-" + bytesToLong(blob)).
 *  2. `index-N` carries `snapshots[0].uuid` and `indices[<name>].id`
 *     (BaseTransport.java:186-201, getSnapshotMetadata via ObjectMapper —
 *     parsed here with the same Jackson API).
 *  3. Root `snap-<uuid>.dat` / `meta-<uuid>.dat` follow the
 *     makeSnapshotFilename/makeMetadataFilename patterns
 *     (BaseTransport.java:329-335).
 *  4. EVERY shard 0..n-1 of the index exists as a directory — the
 *     missing-shard backfill contract (BaseTransport.java:144-167
 *     placeMissingShards) — each with its own per-shard `snap-<uuid>.dat`
 *     under the ONE stitched snapshot uuid (IndexingPostProcessor.java:
 *     195-216 renames per-reducer snap files to the base uuid; this sink
 *     writes them born-stitched).
 *  5. Every data file named by a per-shard snap manifest exists in that
 *     shard's directory, and manifest doc counts sum to the input count.
 *
 * The `.dat` BODIES are SMILE-encoded (the wire format a live ES 5.x
 * restore parses — `:)\n` header pinned below), decoded here with the
 * repo's subset reader. The remaining byte-level delta vs a live repo is
 * the field SCHEMA inside the SMILE trees and the Lucene segment payloads
 * (layout mode) — tracked in README's compatibility matrix.
 */
class SnapshotRestorePathSpec extends SparkSpec {

  test("restore-read walk discovers the snapshot exactly like the reference") {
    withTempDir("graft-restore") { dir =>
      val dest = dir.toString
      val numShards = 6
      // few docs over many shards → at least one shard is likely empty; the
      // walk below asserts ALL shard dirs exist regardless
      val src = spark.range(40).toDF("event_id")
        .withColumn("payload", concat(lit("doc-"), col("event_id")))
      val docs = Ingest.fromColumns(src, "idx_restore", "event_id", numShards)
      EsSnapshot.write(docs, dest, ShardConfig(numShards), Some("restore_snap"))

      val root = Paths.get(dest)
      val mapper = new ObjectMapper()

      // step 1: index.latest → generation → index-N name
      val genBytes = Files.readAllBytes(root.resolve("index.latest"))
      assert(genBytes.length === 8, "index.latest must be an 8-byte long")
      val gen = java.nio.ByteBuffer.wrap(genBytes).getLong
      val genFile = root.resolve(s"index-$gen")
      assert(Files.exists(genFile), s"generation file index-$gen must exist")

      // step 2: snapshots[0].uuid + indices[name].id, via Jackson like the
      // reference's getSnapshotMetadata
      val tree = mapper.readTree(Files.readAllBytes(genFile))
      val snapshots = tree.get("snapshots")
      assert(snapshots.isArray && snapshots.size() === 1)
      assert(snapshots.get(0).get("state").asText() === "SUCCESS")
      val uuid = snapshots.get(0).get("uuid").asText()
      assert(uuid.nonEmpty)
      val indexInfo = tree.get("indices").get("idx_restore")
      assert(indexInfo != null, "indices map must key by index NAME")
      val indexId = indexInfo.get("id").asText()
      assert(indexId === SnapshotLayout.indexId("idx_restore"))
      assert(indexInfo.get("snapshots").get(0).asText() === uuid)

      // step 3: root metadata under the reference's file-name patterns
      assert(Files.exists(root.resolve(s"snap-$uuid.dat")))
      assert(Files.exists(root.resolve(s"meta-$uuid.dat")))

      // step 4: every shard dir exists (missing-shard backfill) with a
      // per-shard snap under the single stitched uuid
      val indexDir = root.resolve("indices").resolve(indexId)
      assert(Files.exists(indexDir.resolve(s"meta-$uuid.dat")))
      var totalDocs = 0L
      for (shard <- 0 until numShards) {
        val shardDir = indexDir.resolve(shard.toString)
        assert(Files.isDirectory(shardDir), s"shard $shard dir must exist")
        val snapFile = shardDir.resolve(s"snap-$uuid.dat")
        assert(Files.exists(snapFile), s"shard $shard snap-$uuid.dat must exist")

        // step 5: data files named in the shard manifest are all present
        // (shard snap bodies are SMILE — decode with the subset reader)
        import graft.sinks.essnapshot.Smile
        val shardTree = Smile.read(graft.sinks.essnapshot.SnapshotLayout
          .datSmileBody(Files.readAllBytes(snapFile)))
        // ES 5.x BlobStoreIndexShardSnapshot field tree: "name" is the
        // snapshot name; data files are FileInfo objects under "files"
        // with the on-disk name in "physical_name" and its byte length
        assert(Smile.str(shardTree, "name").contains("restore_snap"))
        totalDocs += Smile.long(shardTree, "doc_count").getOrElse(0L)
        val fileInfos = Smile.arr(shardTree, "files")
          .collect { case o: Smile.SObj => o }
        assert(Smile.long(shardTree, "number_of_files")
          .contains(fileInfos.size.toLong))
        fileInfos.zipWithIndex.foreach { case (fi, i) =>
          assert(Smile.str(fi, "name").contains(s"__$i"))
          val phys = Smile.str(fi, "physical_name").get
          assert(Smile.long(fi, "length").exists(_ ==
            Files.size(shardDir.resolve(phys))))
        }
        val listed = fileInfos.map(fi => Smile.str(fi, "physical_name").get)
        listed.foreach(f => assert(Files.exists(shardDir.resolve(f)),
          s"manifested data file $f must exist in shard $shard"))
        // and nothing but manifested data files survives the commit sweep
        val onDisk = Files.list(shardDir).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("docs-")).toSet
        assert(onDisk === listed.toSet)
      }
      assert(totalDocs === 40L)

      // root snap-<uuid>.dat: ES 5.x SnapshotInfo — one top-level
      // "snapshot" object with name/uuid/version_id/indices/state/shard
      // totals (the tree a real 5.x _restore parses first)
      {
        import graft.sinks.essnapshot.{Smile, SnapshotLayout}
        val rootTree = Smile.read(SnapshotLayout.datSmileBody(
          Files.readAllBytes(root.resolve(s"snap-$uuid.dat"))))
        val info = Smile.field(rootTree, "snapshot").get
        assert(Smile.str(info, "name").contains("restore_snap"))
        assert(Smile.str(info, "uuid").contains(uuid))
        assert(Smile.long(info, "version_id")
          .contains(SnapshotLayout.EsVersionId))
        assert(Smile.str(info, "state").contains("SUCCESS"))
        assert(Smile.long(info, "total_shards").contains(numShards.toLong))
        assert(Smile.long(info, "successful_shards").contains(numShards.toLong))
        assert(Smile.arr(info, "indices")
          .collect { case Smile.SStr(s) => s } === Seq("idx_restore"))
      }

      // index meta-<uuid>.dat: ES 5.x IndexMetaData — the index NAME keys
      // one object carrying flat index.* settings and mappings as a real
      // parsed tree (one array entry), not a quoted JSON string
      {
        import graft.sinks.essnapshot.{Smile, SnapshotLayout}
        val metaTree = Smile.read(SnapshotLayout.datSmileBody(
          Files.readAllBytes(indexDir.resolve(s"meta-$uuid.dat"))))
        val im = Smile.field(metaTree, "idx_restore").get
        assert(Smile.str(im, "state").contains("open"))
        val settings = Smile.field(im, "settings").get
        assert(Smile.str(settings, "index.number_of_shards")
          .contains(numShards.toString))
        assert(Smile.str(settings, "index.version.created")
          .contains(SnapshotLayout.EsVersionId.toString))
        assert(Smile.arr(im, "mappings").size === 1)
        val inSync = Smile.field(im, "in_sync_allocations").get
          .asInstanceOf[Smile.SObj]
        assert(inSync.fields.map(_._1) === (0 until numShards).map(_.toString))
        // root meta-<uuid>.dat: ES 5.x MetaData snapshot-context tree
        val rootMeta = Smile.read(SnapshotLayout.datSmileBody(
          Files.readAllBytes(root.resolve(s"meta-$uuid.dat"))))
        val md = Smile.field(rootMeta, "meta-data").get
        assert(Smile.str(md, "cluster_uuid").contains("graft"))
        assert(Smile.field(md, "templates").contains(Smile.SObj(Seq.empty)))
      }

      // .dat blobs are CodecUtil-framed SMILE: the frame verifies (magics +
      // CRC32) under its ES 5.x codec name, and the body inside leads with
      // the ":)\n" SMILE magic + flags byte a real restore expects to parse
      import graft.sinks.essnapshot.LuceneFrame
      for ((datPath, codec) <- Seq(
          root.resolve(s"snap-$uuid.dat") -> LuceneFrame.SnapshotCodec,
          root.resolve(s"meta-$uuid.dat") -> LuceneFrame.MetadataCodec,
          indexDir.resolve(s"meta-$uuid.dat") -> LuceneFrame.IndexMetadataCodec,
          indexDir.resolve("0").resolve(s"snap-$uuid.dat")
            -> LuceneFrame.SnapshotCodec)) {
        val body = LuceneFrame.unwrapExpecting(codec, Files.readAllBytes(datPath))
        val head = body.take(4)
        assert(head === Array[Byte](0x3A, 0x29, 0x0A, 0x00),
          s".dat bodies are SMILE-encoded (got ${head.mkString(",")} in $datPath)")
      }
    }
  }
}
