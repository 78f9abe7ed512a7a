package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.{EsMurmur3, ShardConfig}
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/** End-to-end topology test in the reference's own input shape
  * (FIXTURES.md §2: NDJSON with a configurable id field), plus
  * re-run idempotency — the property that replaces the reference's
  * "speculative execution off" safety switch. */
class SnapshotE2ESpec extends SparkSpec {

  private val orgIds = Seq(
    "ed1121bf-5e61-4ac5-ad99-c24f8c4f79db",
    "b8864a7e-98d9-4bef-af1e-54c8bea7ae40",
    "decccc4f-2c96-4f4c-890f-eb1433ff4c90",
    "1650943b-b125-41cf-9729-3bd3e164da16",
    "005a22cc-afbb-4bbe-97e9-6f1447293ed7")

  test("NDJSON with customer_id field → snapshot, fixture shard placement") {
    withTempDir("graft-e2e") { dir =>
      val srcDir = Files.createDirectory(dir.resolve("src"))
      val lines = orgIds.zipWithIndex.map { case (id, i) =>
        s"""{"customer_id": "$id", "name": "cust$i", "value": $i}"""
      }
      Files.writeString(srcDir.resolve("input.json"), lines.mkString("\n"))
      val dest = dir.resolve("snap").toString

      val raw = Ingest.ndjsonRaw(spark, Seq(srcDir.toString))
      val docs = Ingest.toIndexable(raw, "customers", "customer_id", numShards = 5)
      EsSnapshot.write(docs, dest, ShardConfig(5), Some("fixture_snap"))

      val back = EsSnapshot.readTable(spark, dest).collect()
      assert(back.length === orgIds.length)
      back.foreach { r =>
        val json = r.getAs[String]("json")
        val id = orgIds.find(json.contains).get
        assert(r.getAs[Int]("shard") === EsMurmur3.shard(id, 5), s"misplaced $id")
        assert(lines.contains(json), "payload not byte-exact")
      }
    }
  }

  test("re-running with overwrite is idempotent: history and stale files swept") {
    withTempDir("graft-rerun") { dir =>
      val dest = dir.toString
      val src = spark.range(100).toDF("event_id")
      val docs = Ingest.fromColumns(src, "rerun", "event_id", 4)
      EsSnapshot.write(docs, dest, ShardConfig(4))
      // full re-run in overwrite mode: the new snapshot becomes the repo's
      // ONLY one (append mode would add a second generation instead —
      // SnapshotGenerationsSpec)
      EsSnapshot.write(docs, dest, ShardConfig(4), overwrite = true)

      assert(EsSnapshot.readTable(spark, dest).count() === 100)
      // repo restarts at generation 0 with a single snapshot entry
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(Paths.get(dest, "index.latest"))) === 0L)
      assert(SnapshotLayout.parseGenerationSnapshots(
        Files.readString(Paths.get(dest, "index-0"))).size === 1)
      val indexDir = Paths.get(dest, "indices", SnapshotLayout.indexId("rerun"))
      (0 until 4).foreach { s =>
        val shardDir = indexDir.resolve(s.toString)
        val names = Files.list(shardDir).iterator().asScala
          .map(_.getFileName.toString).toList
        val snapDats = names.filter(_.startsWith("snap-"))
        assert(snapDats.size === 1) // run 1's snap manifest swept with its files
        // exactly the one snapshot's data files survive: run 1's are gone
        assert(names.filter(_.startsWith("docs-")).toSet ===
          SnapshotLayout.parseShardSnapFiles(
            Files.readAllBytes(shardDir.resolve(snapDats.head))).toSet)
      }
    }
  }
}
