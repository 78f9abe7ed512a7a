package graft.sinks

import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sinks.essnapshot.{EsSnapshotSink, SnapshotLayout}
import graft.sources.Ingest

/**
 * Writer slots: a write runs one writer task per core (at most one per
 * shard of the widest index), and every task owns an even share of every
 * index's shards. The session is `local[2]`, so two slots.
 */
class WriterSlotsSpec extends SparkSpec {

  private val WriterOf = """docs-p(\d+)-.*""".r

  /** (index, shard) → the partition ids of the tasks that wrote its files. */
  private def writersByShard(root: JPath, shards: Map[String, Int]): Map[(String, Int), Set[Int]] =
    (for ((index, n) <- shards.toSeq; shard <- 0 until n) yield {
      val dir = Paths.get(SnapshotLayout.shardDir(root.toString, index, shard))
      (index, shard) -> Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).collect { case WriterOf(p) => p.toInt }.toSet
    }).toMap

  private def summaryLong(root: JPath, field: String): Long =
    s""""$field":(\\d+)""".r
      .findFirstMatchIn(Files.readString(root.resolve(SnapshotLayout.SummaryFile)))
      .get.group(1).toLong

  private def docs(index: String, shards: Int, rows: Long = 2000) =
    Ingest.fromColumns(spark.range(rows).toDF("event_id"), index, "event_id", shards)

  test("the key table sends slot s to partition s for every n in 1..64, as Spark hashes") {
    for (n <- 1 to 64) {
      val keys = EsSnapshotSink.writerKeys(n)
      assert(keys.length === n)
      def partition(k: Int): Int =
        HashPartitioning(Seq(Literal(k)), n).partitionIdExpression.eval(null).asInstanceOf[Int]
      keys.zipWithIndex.foreach { case (k, s) =>
        assert(partition(k) === s, s"n = $n: key $k of slot $s")
        assert((0 until k).forall(partition(_) != s), s"n = $n: key $k of slot $s is not the smallest")
      }
    }
  }

  test("writerSlots: one per core, at most the widest index's shard count, at least 1") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores === 2)
    assert(EsSnapshotSink.writerSlots(spark, ShardConfig(16)) === 2)
    assert(EsSnapshotSink.writerSlots(spark, ShardConfig(1)) === 1)
    assert(EsSnapshotSink.writerSlots(spark, ShardConfig(1, Map("wide" -> 8))) === 2)
    assert(EsSnapshotSink.writerSlots(spark, ShardConfig(0)) === 1)
  }

  test("16 shards: 2 writer tasks of 8 shards each, every shard from one task") {
    withTempDir("graft-slots16") { dir =>
      EsSnapshot.write(docs("events", 16), dir.toString, ShardConfig(16))
      val writers = writersByShard(dir, Map("events" -> 16))
      assert(writers.values.forall(_.size == 1), s"a shard written by several tasks: $writers")
      val perTask = writers.values.map(_.head).groupBy(identity).view.mapValues(_.size).toMap
      assert(perTask.keySet === Set(0, 1))
      assert(perTask.values.toSeq === Seq(8, 8))
      assert(summaryLong(dir, "writer_tasks") === 2)
      assert(EsSnapshot.readTable(spark, dir.toString).count() === 2000)
    }
  }

  test("5 shards split 3/2 over the two tasks") {
    withTempDir("graft-slots5") { dir =>
      EsSnapshot.write(docs("events", 5), dir.toString, ShardConfig(5))
      val writers = writersByShard(dir, Map("events" -> 5))
      assert(writers.values.forall(_.size == 1), s"a shard written by several tasks: $writers")
      assert(writers.values.map(_.head).groupBy(identity).values.map(_.size).toSeq.sorted
        === Seq(2, 3))
      assert(summaryLong(dir, "writer_tasks") === 2)
    }
  }

  test("two indexes: each index's shards spread within one per task") {
    withTempDir("graft-slots2ix") { dir =>
      val shards = Map("idx_a" -> 5, "idx_b" -> 3)
      EsSnapshot.write(docs("idx_a", 5).union(docs("idx_b", 3)), dir.toString,
        ShardConfig(5, Map("idx_b" -> 3)))
      val writers = writersByShard(dir, shards)
      assert(writers.values.forall(_.size == 1), s"a shard written by several tasks: $writers")
      for (index <- shards.keys) {
        val counts = Seq(0, 1).map(p => writers.count { case ((ix, _), w) => ix == index && w == Set(p) })
        assert(counts.sum === shards(index) && (counts.max - counts.min) <= 1,
          s"$index shards per task: $counts")
      }
      assert(summaryLong(dir, "writer_tasks") === 2)
    }
  }

  test("the sink rejects input without the writer key, naming the column and the facade") {
    withTempDir("graft-slots-nokey") { dir =>
      val e = intercept[IllegalArgumentException](
        docs("events", 4).toDF().write.format("es-snapshot")
          .option("path", dir.toString).option(EsSnapshotSink.ShardsDefaultOption, 4)
          .mode("append").save())
      assert(e.getMessage.contains(EsSnapshotSink.WriterKeyColumn) &&
        e.getMessage.contains("EsSnapshot.write"), e.getMessage)
    }
  }
}
