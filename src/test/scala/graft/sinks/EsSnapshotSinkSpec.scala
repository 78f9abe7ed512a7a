package graft.sinks

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{EsMurmur3, ShardConfig}
import graft.sinks.essnapshot.{EsSnapshotBatchWrite, EsSnapshotSink, ShardCommitMessage,
  ShardFileCommit, Smile, SnapshotLayout}
import graft.sources.Ingest

class EsSnapshotSinkSpec extends SparkSpec {

  private def readGzLines(p: JPath): Seq[String] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(p)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  test("end-to-end: envelope → clustered write → stitched snapshot layout") {
    withTempDir("graft-snap") { dir =>
      val dest = dir.toString
      val numShards = 8
      val src = spark.range(300).toDF("event_id")
        .withColumn("payload", concat(lit("row-"), col("event_id")))
      val docs = Ingest.fromColumns(src, "events", "event_id", numShards)
      EsSnapshot.write(docs, dest, ShardConfig(numShards), Some("snap_test"),
        mappings = Some("""{"properties":{"payload":{"type":"keyword"}}}"""))

      // root metadata
      val root = Paths.get(dest)
      assert(Files.exists(root.resolve(SnapshotLayout.IndexLatest)))
      assert(SnapshotLayout.parseIndexLatest(
        Files.readAllBytes(root.resolve(SnapshotLayout.IndexLatest))) === 0L)
      assert(Files.exists(root.resolve("index-0")))
      val gen = Files.readString(root.resolve("index-0"))
      assert(gen.contains("\"snap_test\"") && gen.contains(SnapshotLayout.indexId("events")))
      assert(Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .exists(_.matches("snap-[0-9a-f-]+\\.dat")))

      // every shard dir exists with a snap-*.dat, even if empty (A4 backfill)
      val indexDir = root.resolve("indices").resolve(SnapshotLayout.indexId("events"))
      (0 until numShards).foreach { s =>
        val dir = indexDir.resolve(s.toString)
        assert(Files.isDirectory(dir), s"missing shard dir $s")
        assert(Files.list(dir).iterator().asScala
          .exists(_.getFileName.toString.startsWith("snap-")), s"no snap dat in shard $s")
      }

      // data fidelity: every doc landed in its ES-murmur3 shard; nothing lost
      var total = 0
      (0 until numShards).foreach { s =>
        val dir = indexDir.resolve(s.toString)
        val dataFiles = Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.startsWith("docs-")).toList
        val lines = dataFiles.flatMap(readGzLines)
        total += lines.size
        lines.foreach { line =>
          val id = line.replaceAll(""".*"event_id":(\d+).*""", "$1")
          assert(EsMurmur3.shard(id, numShards) === s,
            s"doc $id misplaced in shard $s")
        }
      }
      assert(total === 300)

      // manifest: one line per POPULATED shard, all with the same snapshot uuid
      val manifest = EsSnapshot.readManifest(spark, dest).collect()
      assert(manifest.length > 0 && manifest.length <= numShards)
      assert(manifest.map(_.getString(1)).toSet.size === 1, "stitching broke: multiple uuids")
      assert(manifest.map(_.getString(0)).toSet === Set("events"))
      assert(manifest.map(_.getString(2)).toSet === Set(SnapshotLayout.indexId("events")))

      // summary metrics
      val summary = Files.readString(root.resolve(SnapshotLayout.SummaryFile))
      assert(summary.contains("\"index_doc_created\":300"))

      // restore path: read-back sees every doc in its ES-murmur3 shard
      val back = EsSnapshot.readTable(spark, dest)
      assert(back.count() === 300)
      val misplaced = back.select(
          org.apache.spark.sql.functions.get_json_object(
            org.apache.spark.sql.functions.col("json"), "$.event_id").as("id"),
          org.apache.spark.sql.functions.col("shard"))
        .collect()
        .count(r => EsMurmur3.shard(r.getString(0), numShards) != r.getInt(1))
      assert(misplaced === 0)
    }
  }

  test("DSv2 read: one partition per shard, shard-filter pruning") {
    withTempDir("graft-snap-read") { dir =>
      val dest = dir.toString
      val numShards = 8
      val docs = Ingest.fromColumns(
        spark.range(300).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(docs, dest, ShardConfig(numShards))

      val table = EsSnapshot.readTable(spark, dest)
      assert(table.columns.toSeq === Seq("index", "shard", "json"))
      assert(table.count() === 300)
      val populated = table.select("shard").distinct().count()
      assert(table.rdd.getNumPartitions === populated)

      // shard pruning: exactly one input partition scanned
      val one = table.filter(col("shard") === 3)
      assert(one.rdd.getNumPartitions === 1)
      // ... and it reads exactly the doc count shard 3's manifest records
      val shard3 = Paths.get(SnapshotLayout.shardDir(dest, "events", 3))
      val Seq(snapDat) = Files.list(shard3).iterator().asScala
        .filter(_.getFileName.toString.startsWith("snap-")).toSeq
      val expected = Smile.long(Smile.read(
        SnapshotLayout.datSmileBody(Files.readAllBytes(snapDat))), "doc_count").get
      assert(expected > 0 && one.count() === expected)

      // index-name pruning resolves ids through the generation file
      assert(table.filter(col("index") === "events").count() === 300)
      assert(table.filter(col("index") === "nope").rdd.getNumPartitions === 0)
    }
  }

  test("batch.docs / batch.bytes roll data files; every roll is manifested") {
    val numShards = 4
    withTempDir("graft-snap-roll") { dir =>
      val dest = dir.resolve("docs").toString
      val docs = Ingest.fromColumns(
        spark.range(400).toDF("event_id"), "events", "event_id", numShards)
      EsSnapshot.write(docs, dest, ShardConfig(numShards),
        options = Map("batch.docs" -> "25"))

      val indexDir = Paths.get(dest, "indices",
        SnapshotLayout.indexId("events"))
      var sawRoll = false
      for (shard <- 0 until numShards) {
        val files = Files.list(indexDir.resolve(shard.toString)).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("docs-")).toList
        // ~100 docs/shard at 25-doc rolls → several files
        if (files.size > 1) sawRoll = true
        files.foreach { f =>
          // every rolled file carries a distinct writer seq, no overwrites
          assert(files.count(_ == f) === 1)
        }
      }
      assert(sawRoll, "roll threshold must produce multiple files per shard")
      assert(EsSnapshot.readTable(spark, dest).count() === 400)
      // a tiny byte threshold also rolls
      val dest2 = dir.resolve("bytes").toString
      EsSnapshot.write(docs, dest2, ShardConfig(numShards),
        options = Map("batch.bytes" -> "512"))
      assert(EsSnapshot.readTable(spark, dest2).count() === 400)
    }
  }

  test("compression=none and leveled gzip both round-trip through the read path") {
    val numShards = 4
    val docs = Ingest.fromColumns(
      spark.range(200).toDF("event_id"), "events", "event_id", numShards)

    withTempDir("graft-snap-codec") { dir =>
      val plain = dir.resolve("plain").toString
      EsSnapshot.write(docs, plain, ShardConfig(numShards),
        options = Map("compression" -> "none"))
      // data files are bare .ndjson (no .gz) holding every doc as plain
      // text, and the read path discovers and reads them
      val plainFiles = Files.walk(Paths.get(plain)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("docs-")).toList
      assert(plainFiles.nonEmpty &&
        plainFiles.forall(_.getFileName.toString.endsWith(".ndjson")))
      assert(plainFiles.map(Files.readAllLines(_).size).sum === 200)
      assert(EsSnapshot.readTable(spark, plain).count() === 200)

      val tight = dir.resolve("gz9").toString
      EsSnapshot.write(docs, tight, ShardConfig(numShards),
        options = Map("compression" -> "gzip", "compression.level" -> "9"))
      val gzFiles = Files.walk(Paths.get(tight)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("docs-")).toList
      assert(gzFiles.nonEmpty && gzFiles.forall(_.endsWith(".ndjson.gz")))
      assert(EsSnapshot.readTable(spark, tight).count() === 200)
    }
  }

  test("multi-byte UTF-8 payloads round-trip byte-exact; bytes_written counts UTF-8 bytes") {
    import spark.implicits._
    val numShards = 4
    // 2-, 3- and 4-byte UTF-8 sequences in every payload
    val payloads = (0 until 40).map(i =>
      s"""{"id":"d$i","t":"café ${"日本語" * (i % 3)} 😀 $i"}""")
    val expectedBytes = payloads.map(_.getBytes(UTF_8).length + 1L).sum
    val docs = Ingest.toIndexable(
      payloads.toDF("json"), "intl", "id", numShards)
    for (codec <- Seq("gzip", "none")) withTempDir(s"graft-snap-utf8-$codec") { dir =>
      val dest = dir.toString
      // 2-doc rolls close many files through the writer's buffer
      EsSnapshot.write(docs, dest, ShardConfig(numShards),
        options = Map("compression" -> codec, "batch.docs" -> "2"))
      val back = EsSnapshot.readTable(spark, dest).select("json")
        .collect().map(_.getString(0))
      assert(back.sorted.map(_.getBytes(UTF_8).toSeq) ===
        payloads.sorted.map(_.getBytes(UTF_8).toSeq), s"$codec payloads differ")
      val summary = Files.readString(Paths.get(dest, SnapshotLayout.SummaryFile))
      assert(summary.contains(s""""bytes_written":$expectedBytes"""), summary)
      val files = """"writer_files":(\d+)""".r.findFirstMatchIn(summary).get.group(1).toInt
      assert(files >= payloads.size / 2, s"$codec: only $files files for 2-doc rolls")
    }
  }

  test("many shards on tiny data: empty shards backfilled, none populated twice") {
    withTempDir("graft-snap64") { dir =>
      val dest = dir.toString
      val n = 64
      val src = spark.range(20).toDF("event_id")
      val docs = Ingest.fromColumns(src, "tiny", "event_id", n)
      EsSnapshot.write(docs, dest, ShardConfig(n))
      val indexDir = Paths.get(dest, "indices", SnapshotLayout.indexId("tiny"))
      val populated = (0 until n).count { s =>
        Files.list(indexDir.resolve(s.toString)).iterator().asScala
          .exists(_.getFileName.toString.startsWith("docs-"))
      }
      assert(populated <= 20)
      assert((0 until n).forall(s => Files.isDirectory(indexDir.resolve(s.toString))))
      // doc_count 0 recorded for at least one empty shard
      val emptyShard = (0 until n).find { s =>
        !Files.list(indexDir.resolve(s.toString)).iterator().asScala
          .exists(_.getFileName.toString.startsWith("docs-"))
      }.get
      val snapDat = Files.list(indexDir.resolve(emptyShard.toString)).iterator().asScala
        .find(_.getFileName.toString.startsWith("snap-")).get
      assert(graft.sinks.essnapshot.Smile.long(
        graft.sinks.essnapshot.Smile.read(graft.sinks.essnapshot.SnapshotLayout
          .datSmileBody(Files.readAllBytes(snapDat))),
        "doc_count").contains(0L))
    }
  }

  test("multi-index write with per-index shard override") {
    withTempDir("graft-snap-multi") { dir =>
      val dest = dir.toString
      val a = Ingest.fromColumns(spark.range(50).toDF("event_id"), "alpha", "event_id", 4)
      val b = Ingest.fromColumns(spark.range(50).toDF("event_id"), "beta", "event_id", 2)
      EsSnapshot.write(a.union(b), dest,
        ShardConfig(defaultShards = 4, perIndex = Map("beta" -> 2)))
      assert(Files.isDirectory(Paths.get(dest, "indices", SnapshotLayout.indexId("alpha"), "3")))
      assert(Files.isDirectory(Paths.get(dest, "indices", SnapshotLayout.indexId("beta"), "1")))
      assert(!Files.exists(Paths.get(dest, "indices", SnapshotLayout.indexId("beta"), "2")))
      val manifest = EsSnapshot.readManifest(spark, dest).collect()
      assert(manifest.map(_.getString(0)).toSet === Set("alpha", "beta"))
    }
  }

  test("_SUMMARY.json times sum the files' nanoseconds before rounding to ms") {
    withTempDir("graft-summary-ms") { dir =>
      val write = new EsSnapshotBatchWrite(new org.apache.spark.sql.types.StructType(),
        dir.toString, Map(EsSnapshotSink.ShardsDefaultOption -> "4"))
      // 40 files of 0.6 ms indexing and 0.3 ms flushing each: 24 ms and 12 ms
      val files = (0 until 40).map(i => ShardFileCommit("events", i % 4, f"docs-$i%04d.json.gz",
        docCount = 1, bytes = 10, indexingNanos = 600000L, flushNanos = 300000L))
      write.commit(files.grouped(10).map(ShardCommitMessage(_)).toArray)
      val summary = Files.readString(dir.resolve(SnapshotLayout.SummaryFile))
      assert(summary.contains("\"time_spent_indexing_ms\":24"), summary)
      assert(summary.contains("\"time_spent_flushing_ms\":12"), summary)
      assert(summary.contains("\"writer_files\":40"), summary)
    }
  }
}
