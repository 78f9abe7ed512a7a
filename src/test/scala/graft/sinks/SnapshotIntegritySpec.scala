package graft.sinks

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.util.SerializableConfiguration

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.{EsSnapshotScan, ShardInputPartition, ShardReaderFactory, SnapshotLayout}
import graft.sources.Ingest

/**
 * Without Hadoop's `.crc` sidecar, the blobs' own checksums are what
 * catch damage: the CodecUtil footer of a `.dat` blob and the gzip
 * trailer of a data file. A damaged blob must fail the read; it must
 * never read back as fewer or other rows.
 */
class SnapshotIntegritySpec extends SparkSpec {

  private def append(dest: String, lo: Long, n: Int, name: String, shards: Int): Unit =
    EsSnapshot.write(
      Ingest.fromColumns(spark.range(lo, lo + n).toDF("event_id"), "events", "event_id", shards),
      dest, ShardConfig(shards), Some(name))

  private def shardDir(root: JPath, shard: Int): JPath =
    root.resolve("indices").resolve(SnapshotLayout.indexId("events")).resolve(shard.toString)

  private def named(dir: JPath, prefix: String): Seq[JPath] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix)).toSeq.sortBy(_.toString)

  private def assertNoSidecar(f: JPath): Unit =
    assert(!Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"sidecar beside $f")

  private def conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

  /** Writes `bytes` with byte `i` xor `mask` to `f`, runs `body`, then
    * restores `bytes`. */
  private def withFlipped[T](f: JPath, bytes: Array[Byte], i: Int, mask: Int)(body: => T): T = {
    val bad = bytes.clone()
    bad(i) = (bad(i) ^ mask).toByte
    Files.write(f, bad)
    try body finally Files.write(f, bytes)
  }

  test("any flipped byte of a shard snap-<uuid>.dat fails the read of its snapshot") {
    withTempDir("graft-snapdat-flip") { dir =>
      val dest = dir.toString
      append(dest, 0, 300, "snap_a", 2)
      val Seq(dat) = named(shardDir(dir, 0), "snap-")
      assertNoSidecar(dat)
      val bytes = Files.readAllBytes(dat)
      def plan() = new EsSnapshotScan(dest, conf, Array.empty).planInputPartitions()
      assert(plan().length === 2)
      for (mask <- Seq(0x01, 0x80, 0xFF); i <- bytes.indices)
        withFlipped(dat, bytes, i, mask) {
          assert(Try(plan()).isFailure, s"byte $i xor $mask planned a read")
        }
      for (i <- Seq(0, bytes.length / 2, bytes.length - 1))
        withFlipped(dat, bytes, i, 0xFF) {
          intercept[Exception](EsSnapshot.readTable(spark, dest).count())
        }
      assert(EsSnapshot.readTable(spark, dest).count() === 300)
    }
  }

  test("a damaged prior shard manifest keeps the next append's sweep from deleting in that dir") {
    withTempDir("graft-snapdat-sweep") { dir =>
      val dest = dir.toString
      append(dest, 0, 300, "snap_a", 2)
      val Seq(dat) = named(shardDir(dir, 0), "snap-")
      val bytes = Files.readAllBytes(dat)
      val dataA = (0 until 2).flatMap(s => named(shardDir(dir, s), "docs-"))
      // a failed attempt's leftovers in both shard dirs
      val strays = (0 until 2).map { s =>
        Files.write(shardDir(dir, s).resolve("docs-stray-0.ndjson.gz"), Array[Byte](1))
      }

      withFlipped(dat, bytes, bytes.length / 2, 0xFF) {
        append(dest, 300, 100, "snap_b", 2)
        // shard 0 could not prove what snap_a references: nothing there
        // goes; shard 1 swept its stray as usual
        assert(dataA.forall(Files.exists(_)), "the sweep deleted snap_a's data files")
        assert(Files.exists(strays(0)) && !Files.exists(strays(1)))
      }
      assert(EsSnapshot.readTable(spark, dest, Some("snap_a")).count() === 300)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_b")).count() === 100)
    }
  }

  test("a truncated or corrupted gzip data file fails the read, never drops rows") {
    withTempDir("graft-gzip-damage") { dir =>
      val dest = dir.toString
      append(dest, 0, 60, "snap_a", 1)
      val Seq(gz) = named(shardDir(dir, 0), "docs-")
      assertNoSidecar(gz)
      val bytes = Files.readAllBytes(gz)
      val part = ShardInputPartition("events", 0, Seq(gz.toUri.toString))
      def rows(): Seq[String] = {
        val r = new ShardReaderFactory(conf).createReader(part)
        try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getString(2)).toList
        finally r.close()
      }
      val all = rows()
      assert(all.size === 60)

      // the trailer's CRC does not cover the 10-byte header, and readers
      // ignore its FTEXT flag, MTIME, XFL and OS bytes, so damage there may
      // read back; it must read back whole. Damage past it always fails.
      for (mask <- Seq(0x01, 0xFF); i <- bytes.indices)
        withFlipped(gz, bytes, i, mask) {
          Try(rows()).foreach(got =>
            assert(got === all && i < 10, s"byte $i xor $mask read ${got.size} rows"))
        }
      for (len <- 0 until bytes.length) {
        Files.write(gz, bytes.take(len))
        assert(Try(rows()).isFailure, s"truncated to $len bytes read back")
      }

      for (damage <- Seq(bytes.take(bytes.length / 2),
          bytes.updated(bytes.length / 2, (bytes(bytes.length / 2) ^ 0xFF).toByte))) {
        Files.write(gz, damage)
        intercept[Exception](EsSnapshot.readTable(spark, dest).count())
      }
      Files.write(gz, bytes)
      assert(EsSnapshot.readTable(spark, dest).count() === 60)
    }
  }
}
