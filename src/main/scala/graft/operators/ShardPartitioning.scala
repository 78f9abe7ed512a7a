package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame

/**
 * Exact shard→partition placement (SURVEY.md §2.3 X1; reference:
 * src/main/java/com/simondata/elasticfreight/util/ShardPartitioner.java:34-39).
 *
 * `df.repartition(n, col)` is NOT sufficient: Spark re-hashes the column
 * with its own murmur3 (seed 42), so shard s lands on an arbitrary
 * partition. The offline-index topology requires partition i == shard i
 * (one writer builds exactly one output shard), which only a custom RDD
 * [[Partitioner]] guarantees.
 *
 * Scale note (100 TB): this is the job's single required shuffle — the
 * same movement the reference does once per record (IndexingJob.java:119).
 * The Row round-trip costs one serialization per record, on par with the
 * shuffle write itself; there is no second shuffle downstream because the
 * sink consumes partitions as-is.
 */
object ShardPartitioning {

  /** Identity partitioner over precomputed shard ids ∈ [0, numShards). */
  final class ShardPartitioner(val numShards: Int) extends Partitioner {
    override def numPartitions: Int = numShards
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(other: Any): Boolean = other match {
      case p: ShardPartitioner => p.numShards == numShards
      case _ => false
    }
    override def hashCode(): Int = numShards
  }

  /**
   * Placement proof at histogram cost: routes rows through the
   * [[ShardPartitioner]] but carries only the shard id — map-side combine collapses each input partition to
   * ≤ numShards (shard, count) pairs before the shuffle, so the proof
   * moves O(partitions·shards) rows instead of the full payload (the
   * full-envelope variant serialized every row to JSON first: ~50×
   * heavier for a query whose output is 8 rows).
   *
   * Output: (shard, partition, n) — correct placement ⇔ all rows on the
   * diagonal shard == partition.
   */
  def placementHistogram(df: DataFrame, shardCol: String, numShards: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(shardCol).rdd
      .map(r => (r.getInt(0), 1L))
      .reduceByKey(new ShardPartitioner(numShards), _ + _)
      .mapPartitionsWithIndex { case (pid, it) =>
        it.map { case (shard, n) => (shard, pid, n) }
      }
      .toDF("shard", "partition", "n")
  }
}
