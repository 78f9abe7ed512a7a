package graft

import scala.jdk.CollectionConverters._

/** Guards the driver's t1 smoke gate: entry() must return rows at
  * sf0.001, and every query must have matching oracle column names
  * discipline (oracle keys ⊆ query keys). */
class SparkEntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a corresponding query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("select returns the named queries in name order and names every unknown one") {
    assert(SparkEntry.select(Seq("q1_pricing", "ef_ingest_ids", "q1_pricing")).map(_._1)
      === Seq("ef_ingest_ids", "q1_pricing"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q1_pricing", "q1_pricng", "ef_ingest_id"))
    }
    assert(e.getMessage.endsWith("unknown queries: ef_ingest_id, q1_pricng"))
  }

  test("every query runs and returns rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned 0 rows at sf0.001")
    }
  }

  test("snapshot queries write under the scratch root, not the JVM temp dir") {
    withTempDir("graft-entry-events") { in =>
      spark.range(200).selectExpr("id AS event_id", "id % 7 AS user_id", "id * 1000 AS ts")
        .write.parquet(in.resolve("events.parquet").toString)
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      def snapDirs = java.nio.file.Files.list(tmp).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("graft-snap-")).toSet
      val before = snapDirs
      for (_ <- 1 to 2) {
        val rows = SparkEntry.queries("ef_snapshot_build")(spark, in.toString).collect()
        assert(rows.map(r => (r.getAs[Long]("populated_shards"), r.getAs[Long]("docs"))).toSeq
          === Seq((8L, 200L)))
      }
      assert(snapDirs === before)
    }
  }
}
