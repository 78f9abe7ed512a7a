package graft

import org.apache.spark.sql.SparkSession

/** The local session that every driver and tool runs on: `local[cpus]`
  * with one shuffle partition per core, UTC, Kryo, and epoch-nanos reads
  * of parquet `TIMESTAMP(NANOS)` columns. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // testdata events.ts is parquet TIMESTAMP(NANOS): read as epoch-nanos long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warmup: JVM/codegen infra and the parquet footers of every
    * table in `sfDir`, so the first timed query pays no query-unrelated
    * start-up. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings",
      "nation", "region").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }

  /** Frees per-query scratch caches (sketch-frame localCheckpoints and
    * cached frames). Call it between queries, or hundreds of runs' cached
    * RDDs pile up in one JVM and GC pressure poisons later timings. The
    * removals are blocking, so a `spark.stop()` right after it finds no
    * block removal still pending. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
