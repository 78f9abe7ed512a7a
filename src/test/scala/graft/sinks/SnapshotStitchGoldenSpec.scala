package graft.sinks

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * Byte-exact golden tree for the BASE-UUID stitch contract on a 2-shard
 * fixture.
 *
 * In the reference, each reducer snapshots under its own uuid and the
 * post-processor then copies every shard's `snap-<reducerUUID>.dat` to
 * `snap-<baseUUID>.dat` so the repo reads under ONE snapshot
 * (IndexingPostProcessor.java:195-216 — the copySrc/subFolder loop over
 * makeSnapshotFilename). This sink writes the same end state BORN-stitched.
 * The contract a restore (or the reference's own post-processor re-run)
 * depends on is therefore:
 *
 *   (a) exactly one snapshot uuid appears anywhere in the repo;
 *   (b) every shard dir holds `snap-<baseUUID>.dat` — the rewrite's
 *       post-condition — and NO foreign-uuid snap file — the rewrite's
 *       input already consumed;
 *   (c) the whole tree, uuid-normalized, is byte-for-byte deterministic
 *       for a fixed fixture.
 *
 * `.dat` bodies are SMILE (pinned in SnapshotRestorePathSpec); remaining
 * deltas vs a live ES 5.x repo stay pinned in README.md's matrix.
 */
class SnapshotStitchGoldenSpec extends SparkSpec {

  private def walk(root: JPath): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString)
      // Hadoop LocalFileSystem checksum sidecars — a local-transport
      // artifact, not part of the repo contract (absent on S3/HDFS)
      .filterNot(_.split('/').last.startsWith("."))
      .toSeq.sorted

  test("2-shard fixture: stitched tree matches the golden layout byte-for-byte") {
    withTempDir("graft-golden") { dir =>
      val dest = dir.toString
      val numShards = 2
      // fixed doc ids → fixed murmur3 placement → deterministic per-shard
      // doc counts and a deterministic (normalized) tree
      val src = spark.range(10).toDF("event_id")
        .withColumn("payload", concat(lit("gold-"), col("event_id")))
      val docs = Ingest.fromColumns(src, "idx_gold", "event_id", numShards)
      EsSnapshot.write(docs, dest, ShardConfig(numShards), Some("gold_snap"))

      val root = Paths.get(dest)
      val mapper = new ObjectMapper()
      val gen = mapper.readTree(Files.readAllBytes(root.resolve("index-0")))
      val baseUuid = gen.get("snapshots").get(0).get("uuid").asText()
      val indexId = SnapshotLayout.indexId("idx_gold")

      // (a) ONE uuid repo-wide: every snap-/meta- file name carries it
      val uuidRe = "(snap|meta)-([0-9a-f-]{36})\\.dat".r
      val allFiles = walk(root)
      val uuidsSeen = allFiles.flatMap(f =>
        uuidRe.findAllMatchIn(f).map(_.group(2))).toSet
      assert(uuidsSeen === Set(baseUuid),
        s"stitch contract broken: uuids $uuidsSeen, expected only $baseUuid")

      // (b) the rewrite's post-condition per shard; no foreign snap remains
      for (s <- 0 until numShards) {
        val shardDir = root.resolve("indices").resolve(indexId).resolve(s.toString)
        val snaps = Files.list(shardDir).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("snap-")).toSeq
        assert(snaps === Seq(s"snap-$baseUuid.dat"),
          s"shard $s must hold exactly the base-uuid snap file, got $snaps")
      }

      // (c) golden tree: normalize the two random components (snapshot uuid,
      // per-task writer uuid in data file names) and compare EXACTLY
      val normalized = allFiles.map(_
        .replace(baseUuid, "UUID")
        .replaceAll("docs-p\\d+-t\\d+-[0-9a-f-]{36}-\\d+", "DOCS"))
        .map(_.replace(indexId, "INDEXID"))
      val golden = Seq(
        "_SUMMARY.json",
        "index-0",
        "index.latest",
        s"indices/INDEXID/0/DOCS.ndjson.gz",
        s"indices/INDEXID/0/snap-UUID.dat",
        s"indices/INDEXID/1/DOCS.ndjson.gz",
        s"indices/INDEXID/1/snap-UUID.dat",
        s"indices/INDEXID/meta-UUID.dat",
        "manifest.txt",
        "meta-UUID.dat",
        "snap-UUID.dat").sorted
      assert(normalized.sorted === golden)

      // byte-exact spot checks on the deterministic bytes themselves:
      // index.latest is the 8-byte BE generation 0
      assert(Files.readAllBytes(root.resolve("index.latest")).toSeq
        === Seq[Byte](0, 0, 0, 0, 0, 0, 0, 0))
      // shard snap bodies: CodecUtil("snapshot")-framed SMILE, field-exact,
      // and byte-exact re-encodable — unwrap verifies both magics + the CRC32
      // footer, and Smile.write(Smile.read(body)) == body proves the writer's
      // canonical token choices (the deterministic field order the golden
      // tree needs)
      import graft.sinks.essnapshot.{LuceneFrame, Smile}
      val blobs = Seq("0", "1").map { s =>
        Files.readAllBytes(root.resolve("indices").resolve(indexId)
          .resolve(s).resolve(s"snap-$baseUuid.dat"))
      }
      val bodies = blobs.map(LuceneFrame.unwrapExpecting(LuceneFrame.SnapshotCodec, _))
      val trees = bodies.map(Smile.read)
      assert(bodies.zip(trees).forall { case (b, t) =>
        java.util.Arrays.equals(b, Smile.write(t)) },
        "shard snap SMILE bodies must round-trip byte-exactly")
      assert(trees.map(Smile.long(_, "doc_count").get).sum === 10L)
      // ES 5.x BlobStoreIndexShardSnapshot: snapshot name under "name",
      // FileInfo objects under "files" with __i virtual names
      assert(trees.forall(Smile.str(_, "name").contains("gold_snap")))
      assert(trees.forall(t => Smile.arr(t, "files").zipWithIndex.forall {
        case (fi, i) => Smile.str(fi, "name").contains(s"__$i") &&
          Smile.str(fi, "physical_name").exists(_.startsWith("docs-"))
      }))
    }
  }
}
