package graft.sinks

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.core.{IndexableDoc, ShardConfig}
import graft.sinks.essnapshot.{ShardDocWriter, SnapshotLayout}
import graft.sources.Ingest

/**
 * The writer's input is not sorted: a task's rows for its shards arrive
 * interleaved, and it keeps one stream per shard open side by side, up to
 * [[ShardDocWriter.MaxOpenStreams]]. Rolls, evictions and failures must
 * still leave exactly the manifested files, each shard's docs in order.
 */
class ShardDocWriterSpec extends SparkSpec {
  import spark.implicits._

  /** `rows` docs of index `ix`, doc i on shard i % shards, in one partition
    * in that order, so each writer task sees its shards interleaved. */
  private def interleaved(ix: String, shards: Int, rows: Int): Seq[IndexableDoc] =
    (0 until rows).map(i => IndexableDoc(ix, s"d$i", s"r$i", i % shards,
      s"""{"id":$i,"t":"é€😀 ${"x" * (i % 7)}"}"""))

  private def ds(rows: Seq[IndexableDoc]): Dataset[IndexableDoc] =
    rows.toDS().coalesce(1)

  private def lines(p: JPath): Seq[String] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(p)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  private val DocsSeq = """docs-.*-(\d+)\.ndjson\.gz""".r

  /** A shard dir's `docs-*` files in write order (writer, then seq). */
  private def docsFiles(dir: JPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("docs-")).toSeq
      .sortBy { case n @ DocsSeq(seq) => (n.stripSuffix(s"-$seq.ndjson.gz"), seq.toInt) }

  /** The files the shard's only `snap-*.dat` lists. */
  private def manifested(dir: JPath): Set[String] = {
    val Seq(dat) = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("snap-")).toSeq
    SnapshotLayout.parseShardSnapFiles(Files.readAllBytes(dat)).toSet
  }

  private def shardDir(root: JPath, ix: String, shard: Int): JPath =
    Paths.get(SnapshotLayout.shardDir(root.toString, ix, shard))

  test("interleaved rows with 2-doc rolls: each shard's files hold its docs in order, all manifested") {
    withTempDir("graft-writer-rolls") { dir =>
      val shards = 4
      val rows = interleaved("rolls", shards, 40)
      EsSnapshot.write(ds(rows), dir.toString, ShardConfig(shards),
        options = Map("batch.docs" -> "2"))
      for (s <- 0 until shards) {
        val sd = shardDir(dir, "rolls", s)
        val files = docsFiles(sd)
        assert(files.size === 5 && files.toSet === manifested(sd), s"shard $s: $files")
        assert(files.map(f => lines(sd.resolve(f)).size) === Seq.fill(5)(2))
        assert(files.flatMap(f => lines(sd.resolve(f))) ===
          rows.filter(_.shard == s).map(_.json), s"shard $s content")
      }
      assert(EsSnapshot.readTable(spark, dir.toString).select("json").as[String]
        .collect().sorted.toSeq === rows.map(_.json).sorted)
    }
  }

  test("more shards per task than the open-stream cap: extra files, all manifested, exact read-back") {
    withTempDir("graft-writer-cap") { dir =>
      // two writer tasks of cap + 1 shards each, visited round-robin, so
      // the least recently written stream is always the next one needed
      val shards = 2 * (ShardDocWriter.MaxOpenStreams + 1)
      val rows = interleaved("wide", shards, 3 * shards)
      EsSnapshot.write(ds(rows), dir.toString, ShardConfig(shards))
      var files = 0
      for (s <- 0 until shards) {
        val sd = shardDir(dir, "wide", s)
        val fs = docsFiles(sd)
        assert(fs.nonEmpty && fs.toSet === manifested(sd), s"shard $s: $fs")
        assert(fs.flatMap(f => lines(sd.resolve(f))) ===
          rows.filter(_.shard == s).map(_.json), s"shard $s content")
        files += fs.size
      }
      assert(files > shards, s"$files files for $shards shards: no stream was evicted")
      assert(Files.readString(dir.resolve(SnapshotLayout.SummaryFile))
        .contains(s""""writer_files":$files,"""))
      val back = EsSnapshot.readTable(spark, dir.toString)
        .select($"shard", $"json").as[(Int, String)].collect().sorted.toSeq
      assert(back === rows.map(r => (r.shard, r.json)).sorted)
    }
  }

  test("a data-file create that fails mid-task leaves no docs file and the repo state as it was") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfail.impl", classOf[FailingLatestFileSystem].getName)
    withTempDir("graft-writer-fail") { dir =>
      val dest = s"graftfail://$dir"
      def append(lo: Long, name: String): Unit = EsSnapshot.write(
        Ingest.fromColumns(spark.range(lo, lo + 400).toDF("event_id"), "events", "event_id", 4),
        dest, ShardConfig(4), Some(name))
      def dataFiles = Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("docs-")).map(dir.relativize).toSet
      def state = Files.list(dir).iterator().asScala
        .filter(f => f.getFileName.toString == SnapshotLayout.IndexLatest ||
          f.getFileName.toString.startsWith("index-"))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

      append(0, "snap_a")
      val (filesBefore, stateBefore) = (dataFiles, state)
      // each task's second data file fails, with its first stream open
      val opened = ConcurrentHashMap.newKeySet[String]()
      FailingLatestFileSystem.failCreate = p => p.getName.startsWith("docs-") &&
        !opened.add(p.getName.replaceAll("""-\d+\.ndjson\.gz$""", ""))
      val e = try intercept[Exception](append(400, "snap_b"))
        finally FailingLatestFileSystem.armed = false
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.startsWith("injected failure")),
        s"unexpected failure: $e")

      // a task killed after the job failed may still be aborting
      eventually(timeout(10.seconds), interval(50.millis)) {
        assert(dataFiles === filesBefore, "the failed write left data files")
      }
      assert(state === stateBefore, "the failed write touched index.latest or index-N")
      assert(EsSnapshot.readTable(spark, dest).count() === 400)
    }
  }
}
