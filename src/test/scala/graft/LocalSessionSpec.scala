package org.apache.spark.sql.graft
// In an org.apache.spark subpackage on purpose: the block manager, which
// answers "which blocks are still stored?", is private[spark].

import org.apache.spark.SparkEnv
import org.apache.spark.storage.StorageLevel

import graft.{LocalSession, SparkSpec}

class LocalSessionSpec extends SparkSpec {

  test("dropCaches returns only once no block of a persisted RDD is stored") {
    val sc = spark.sparkContext
    // many disk blocks, so that removals left in flight would show
    val rdds = (1 to 32).map { i =>
      val r = sc.parallelize(1 to 16000, 8).map(_ * i)
        .persist(StorageLevel.DISK_ONLY)
      r.count()
      r
    }
    // local mode: the driver's block manager holds every block (its
    // block table and its disk files both list a disk block)
    def stored = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD)
      .filter(b => rdds.exists(r => b.asRDDId.exists(_.rddId == r.id))).distinct
    assert(stored.size === 256)
    LocalSession.dropCaches(spark)
    assert(stored.isEmpty)
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
