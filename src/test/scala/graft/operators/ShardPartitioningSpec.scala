package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.EsMurmur3
import graft.sources.Ingest

class ShardPartitioningSpec extends SparkSpec {
  import spark.implicits._

  test("partition i holds exactly the rows with shard == i (X1)") {
    val n = 7
    val df = spark.range(500).select(col("id").cast("string").as("doc_id"))
      .withColumn("shard", graft.functions.EsHash.esShard(col("doc_id"), n))
    val hist = ShardPartitioning.placementHistogram(df, "shard", n)
    assert(hist.rdd.getNumPartitions === n)
    val rows = hist.as[(Int, Int, Long)].collect()
    rows.foreach { case (shard, p, _) => assert(shard === p) }
    // no rows lost or duplicated by the shuffle
    assert(rows.map(_._3).sum === 500L)
  }

  test("envelopes land on their own shard's partition (5 shards)") {
    val src = spark.range(200).toDF("event_id")
      .withColumn("payload", concat(lit("v"), col("event_id")))
    val docs = Ingest.fromColumns(src, "idx", "event_id", 5)
    val expected = docs.toDF().select("docId").as[String].collect()
      .groupBy(EsMurmur3.shard(_, 5)).map { case (s, ids) => (s, ids.length.toLong) }
    val rows = ShardPartitioning.placementHistogram(docs.toDF(), "shard", 5)
      .as[(Int, Int, Long)].collect()
    rows.foreach { case (shard, p, _) => assert(shard === p) }
    assert(rows.map { case (s, _, k) => (s, k) }.toMap === expected)
  }

  test("empty shards still materialize as empty partitions (A4 precondition)") {
    val df = spark.range(1).select(lit("0").as("doc_id"),
      lit(EsMurmur3.shard("0", 64)).as("shard"))
    val hist = ShardPartitioning.placementHistogram(df, "shard", 64)
    assert(hist.rdd.getNumPartitions === 64)
    val s = EsMurmur3.shard("0", 64)
    assert(hist.as[(Int, Int, Long)].collect().toSeq === Seq((s, s, 1L)))
  }
}
