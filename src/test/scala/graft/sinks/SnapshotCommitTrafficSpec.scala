package graft.sinks

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sources.Ingest

/**
 * Pins an append's file-system traffic, counted over every thread: the
 * commit writes its metadata from a pool, so a count on the driver thread
 * alone would show calls moving, not calls going away.
 */
class SnapshotCommitTrafficSpec extends SparkSpec {

  test("an append creates shards + indexes + 6 metadata files and opens 2 + shards x k") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftcount.impl", classOf[CountingMockFileSystem].getName)
    withTempDir("graft-traffic") { dir =>
      val dest = s"graftcount://$dir"
      val shardsPerIndex = 3
      val indexes = Seq("ev", "other")
      val shards = shardsPerIndex * indexes.size
      def append(k: Int): Seq[(String, String)] = {
        val rows = spark.range(k * 100, k * 100 + 100).toDF("id")
        CountingMockFileSystem.reset()
        EsSnapshot.write(
          indexes.map(Ingest.fromColumns(rows, _, "id", shardsPerIndex)).reduce(_ union _),
          dest, ShardConfig(shardsPerIndex), Some(s"snap_$k"))
        CountingMockFileSystem.calls.map { case (op, p) => op -> p.getName }
      }
      append(0)
      for (k <- 1 to 2) { // the repo holds k snapshots before the append
        val calls = append(k)
        def count(op: String) = calls.count(_._1 == op)
        val metaCreates = calls.filter { case (op, n) => op == "create" && !n.startsWith("docs-") }
        assert(metaCreates.size === shards + indexes.size + 6, s"k=$k creates: $metaCreates")
        // index.latest and index-N, then each shard dir's k prior manifests
        assert(count("open") === 2 + shards * k, s"k=$k")
        assert(count("listStatus") === shards, s"k=$k")
        assert(count("delete") === 0, s"k=$k")
      }
    }
  }
}
