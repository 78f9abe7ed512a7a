package graft.jobs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.ShardConfig
import graft.sinks.EsSnapshot
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * The reference's CLI job (`hadoop jar … esIndex …`, reference:
 * src/main/java/com/simondata/example/IndexingJob.java:38-108 arg surface,
 * README.md:27-62) as a spark-submit main: NDJSON in → routed envelope →
 * clustered snapshot build → manifest out.
 *
 * Usage (positional, mirroring the reference's argument order):
 * {{{
 * spark-submit --class graft.jobs.EsIndexJob <jar> \
 *   <inputPaths(pipe-separated globs)> <snapshotDest> <indexName> \
 *   <docIdField> <numShards> [snapshotName] [mappingsFile] [templateFile]
 * }}}
 *
 * The reference's bulk-batching knobs (batchSize/batchMb/flushSec,
 * IndexingJob.java:64-75) collapse into the sink's stream-flush
 * granularity (`batch.bytes` option); its ramdisk/working-dir args are
 * obsolete (writers stream straight to the destination FS).
 */
object EsIndexJob {

  final case class Args(inputPaths: Seq[String], dest: String, index: String,
                        docIdField: String, numShards: Int,
                        snapshotName: Option[String], mappings: Option[String],
                        template: Option[String], failFast: Boolean = false,
                        overwrite: Boolean = false)

  def parse(argv: Array[String]): Args = {
    require(argv.length >= 5,
      "usage: <inputPaths(|-sep)> <dest> <indexName> <docIdField> <numShards> " +
        "[snapshotName] [mappingsFile] [templateFile] [failfast|permissive] " +
        "[overwrite|append]")
    Args(
      inputPaths = argv(0).split('|').toSeq.filter(_.nonEmpty), // README.md:30-31
      dest = argv(1).stripSuffix("/"), // IndexingJob.java:94
      index = argv(2),
      docIdField = argv(3),
      numShards = argv(4).toInt,
      snapshotName = argv.lift(5),
      mappings = argv.lift(6),
      template = argv.lift(7),
      // the reference always fails fast (BaseESReducer.java:284-293);
      // permissive-with-counter is this engine's default
      failFast = argv.lift(8).contains("failfast"),
      // append (default) adds a snapshot generation to the repo;
      // overwrite makes this run's snapshot the repo's only one
      overwrite = argv.lift(9).contains("overwrite"))
  }

  def run(spark: SparkSession, args: Args): Long = {
    val mappings = args.mappings.map(Ingest.readConfigFile(spark, _))
    val template = args.template.map(Ingest.readConfigFile(spark, _))
    val raw = Ingest.ndjsonRaw(spark, args.inputPaths)
    val (docs, ingestObs) = Ingest.toIndexableObserved(
      raw, args.index, args.docIdField, args.numShards, failFast = args.failFast)
    EsSnapshot.write(docs, args.dest, ShardConfig(args.numShards),
      args.snapshotName, mappings, template, overwrite = args.overwrite)
    // INDEXING_DOC_FAIL counter next to the sink's _SUMMARY.json — silent
    // drops become a visible number in the committed snapshot
    val m = ingestObs.get
    val body = SnapshotLayout.jsonObj(
      "input_docs" -> m("input_docs").toString,
      "rejected_docs" -> m("rejected_docs").toString,
      "mode" -> SnapshotLayout.jsonStr(
        if (args.failFast) "failfast" else "permissive"))
    val fs = new Path(args.dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLayout.writeBytes(fs, new Path(args.dest, "_INGEST.json"),
      body.getBytes(StandardCharsets.UTF_8))
    // populated shards = manifest lines; a small driver-side read, no job
    SnapshotLayout.readString(fs, new Path(args.dest, SnapshotLayout.ManifestFile))
      .linesIterator.count(_.nonEmpty).toLong
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .appName(s"graft-es-index-${args.index}")
      .config("spark.sql.session.timeZone", "UTC") // Driver.java:28-29
      .getOrCreate()
    val populatedShards = run(spark, args)
    // the reference's final console signal: the manifest location
    println(s"[es-index] snapshot committed: ${args.dest} " +
      s"($populatedShards populated shards; manifest at ${args.dest}/manifest.txt)")
    spark.stop()
  }
}
