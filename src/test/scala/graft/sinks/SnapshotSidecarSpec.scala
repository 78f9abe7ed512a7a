package graft.sinks

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * A `file:` repo holds Hadoop `.crc` sidecars only beside the files that
 * carry no checksum of their own: gzip data files and CodecUtil-framed
 * `.dat` blobs are written without one, as an ES repository holds none.
 */
class SnapshotSidecarSpec extends SparkSpec {

  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def files(root: JPath): Seq[JPath] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  test("an append leaves sidecars beside the unframed files only") {
    withTempDir("graft-sidecars") { dir =>
      val dest = dir.toString
      def append(lo: Long, name: String, options: Map[String, String]): Unit =
        EsSnapshot.write(
          Ingest.fromColumns(spark.range(lo, lo + 200).toDF("event_id"), "events", "event_id", 4),
          dest, ShardConfig(4), Some(name), options = options)
      append(0, "snap_gz", Map.empty)
      append(200, "snap_plain", Map("compression" -> "none"))

      val (crcs, blobs) = files(dir).partition(_.getFileName.toString.endsWith(".crc"))
      val names = blobs.map(_.getFileName.toString)
      val selfChecked = blobs.filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".ndjson.gz") || n.endsWith(".dat")
      }
      assert(names.count(_.endsWith(".ndjson.gz")) === 4 &&
        names.count(_.endsWith(".ndjson")) === 4, names)
      // 4 shard manifests per snapshot, one index and one root pair each
      assert(selfChecked.count(_.getFileName.toString.endsWith(".dat")) === 2 * (4 + 1 + 2))
      for (f <- selfChecked) assert(!Files.exists(sidecar(f)), s"sidecar beside $f")

      val unframed = blobs.filterNot(selfChecked.contains)
      assert(unframed.map(_.getFileName.toString).toSet ===
        Set("index-0", "index-1", SnapshotLayout.IndexLatest, SnapshotLayout.ManifestFile,
          SnapshotLayout.SummaryFile) ++ names.filter(_.endsWith(".ndjson")))
      for (f <- unframed) assert(Files.exists(sidecar(f)), s"no sidecar beside $f")
      // no stray sidecar: each names a file that is there
      assert(crcs.toSet === unframed.map(sidecar).toSet)

      assert(EsSnapshot.readTable(spark, dest).count() === 200)
      assert(EsSnapshot.readTable(spark, dest, Some("snap_gz")).count() === 200)

      // the cached shared instance was never switched off
      val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
      SnapshotLayout.writeBytes(fs, new Path(dest, "probe"), Array[Byte](1, 2, 3))
      assert(Files.exists(sidecar(dir.resolve("probe"))))
    }
  }
}
