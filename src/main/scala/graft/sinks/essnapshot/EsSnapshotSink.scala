package graft.sinks.essnapshot

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util
import java.util.UUID
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.{Concurrently, ShardConfig}

/**
 * DataSource-V2 batch sink `es-snapshot` — the Spark-native re-expression of
 * the reference's reducer+post-processor pipeline (SURVEY.md §2.1 S5-S12).
 *
 * Topology mapping:
 *  - reducer per shard (BaseESReducer.java:208-320)  → per-partition
 *    [[ShardDocWriter]] (handles any number of shards per partition; the
 *    engine clusters rows by (index, shard) via
 *    [[RequiresDistributionAndOrdering]], so one shard's rows are never
 *    split across writers)
 *  - manifest lines on HDFS (BaseESReducer.java:317-319) → typed
 *    [[ShardCommitMessage]]s through the DSv2 commit protocol
 *  - IndexingPostProcessor.execute (IndexingPostProcessor.java:144-246)
 *    → driver-side [[EsSnapshotBatchWrite.commit]]: winner-file sweep,
 *    missing-shard backfill (A4), base-UUID stitching, root metadata,
 *    manifest, metrics summary
 *  - speculative-execution hazard (IndexingJob.java:121) → solved
 *    structurally: writers stage under unique file names; only files named
 *    in committed messages are kept, everything else is swept.
 *
 * Scale design: one shuffle (the required clustering), no driver data
 * movement (only O(#shards) commit messages), Hadoop FS streams straight to
 * the destination (file://, hdfs://, s3a:// — one code path replacing the
 * reference's three transports, SnapshotTransportStrategy.java:26-61).
 */
class EsSnapshotDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "es-snapshot"
  // read path: spark.read.format("es-snapshot").load(dest) infers the scan
  // schema; the write path passes the envelope schema in via external
  // metadata (getTable's schema argument), so one Table serves both.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EsSnapshotRead.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new EsSnapshotTable(schema, properties)
  override def supportsExternalMetadata(): Boolean = true
}

object EsSnapshotSink {
  /** The IndexableDoc envelope, as the sink's fixed input schema. */
  val Schema: StructType = StructType(Seq(
    StructField("index", StringType, nullable = false),
    StructField("docId", StringType, nullable = false),
    StructField("routing", StringType, nullable = false),
    StructField("shard", IntegerType, nullable = false),
    StructField("json", StringType, nullable = false)))

  val SnapshotNameOption = "snapshot.name"
  val ShardsDefaultOption = "shards.default"
  val ShardsPerIndexPrefix = "shards.index." // shards.index.<name> = n
  val MappingsOption = "index.mappings"
  val TemplateOption = "index.template"
  val TemplateNameOption = "index.template.name"
  // Flush/roll triggers, mirroring the reference's bulk knobs
  // (IndexingJob.java:64-75 exposes docs=20k / MB=10 / seconds=60): a
  // shard's output rolls to a fresh data file when either threshold is
  // crossed, bounding single-file size and retry cost. The time trigger
  // is n/a here by design: the reference buffers docs in a live indexer
  // (flushSec bounds its latency); this writer streams straight to the
  // destination with only a 64 KB buffer, and in streaming mode the
  // micro-batch interval plays that role (Streams.streamToSnapshots).
  val BatchBytesOption = "batch.bytes" // roll file after N payload bytes
  val BatchDocsOption = "batch.docs" // roll file after N docs (0 = off)
  // Payload codec: "gzip" (default) or "none". The reference's throughput
  // bottleneck analogue is one single-threaded stream per shard, so the
  // deflate level is a first-class knob; default 1 (BEST_SPEED) — level 6
  // costs ~4× CPU on the only non-parallelizable stage for ~15% size.
  val CompressionOption = "compression"
  val CompressionLevelOption = "compression.level"

  def shardConfig(options: Map[String, String]): ShardConfig = {
    val default = options.getOrElse(ShardsDefaultOption, "5").toInt
    val perIndex = options.collect {
      case (k, v) if k.toLowerCase.startsWith(ShardsPerIndexPrefix) =>
        k.substring(ShardsPerIndexPrefix.length) -> v.toInt
    }
    ShardConfig(default, perIndex)
  }
}

class EsSnapshotTable(tableSchema: StructType, properties: util.Map[String, String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String =
    s"es-snapshot(${properties.getOrDefault("path", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new EsSnapshotWriteBuilder(info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val dest = Option(options.get("path"))
      .orElse(Option(properties.get("path")))
      .getOrElse(throw new IllegalArgumentException(
        "es-snapshot read requires a path"))
    val snapshot = Option(options.get("snapshot"))
      .orElse(Option(properties.get("snapshot")))
    new EsSnapshotScanBuilder(dest, new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration),
      snapshot)
  }
}

class EsSnapshotWriteBuilder(info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  // append (default) adds a snapshot + next generation to the repo;
  // truncate (SaveMode.Overwrite) makes this snapshot the repo's ONLY
  // one — prior generations' metadata and data files are swept at commit.
  private var truncateRepo = false
  override def truncate(): WriteBuilder = { truncateRepo = true; this }

  override def build(): Write = {
    val expected = EsSnapshotSink.Schema.map(f => f.name -> f.dataType).toMap
    val given = info.schema()
    require(
      expected.keySet.subsetOf(given.fieldNames.toSet) &&
        expected.forall { case (n, dt) =>
          given.find(_.name == n).exists(_.dataType == dt) },
      s"es-snapshot sink expects the IndexableDoc envelope " +
        s"${EsSnapshotSink.Schema.simpleString}, got ${given.simpleString}")
    // Mappings/template options land PARSED in the metadata blobs at
    // commit time — reject malformed input here, before any executor
    // writes a byte, not mid-commit with a raw Jackson error. They must
    // be JSON OBJECTS: a bare array/string/number would be silently
    // dropped (template) or produce a bogus tree (mappings) downstream.
    for (opt <- Seq(EsSnapshotSink.MappingsOption,
        EsSnapshotSink.TemplateOption);
        json <- Option(info.options.get(opt)) if json.trim.nonEmpty) {
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"option $opt is not valid JSON: ${e.getMessage}")
        }
      if (!node.isObject) throw new IllegalArgumentException(
        s"option $opt must be a JSON object, got ${node.getNodeType}")
    }
    new EsSnapshotWrite(info, truncateRepo)
  }
}

class EsSnapshotWrite(info: LogicalWriteInfo, truncateRepo: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {
  private val options = info.options.asScala.toMap
  private val dest = options.getOrElse("path",
    throw new IllegalArgumentException("es-snapshot sink requires .option(\"path\", dest)"))

  /** Cluster rows by (index, shard): each shard is built by exactly one
    * writer — the reference's reducer-per-shard invariant — while letting
    * AQE pick partition counts / coalesce empties. */
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(
      Expressions.identity("index"), Expressions.identity("shard")))
  override def requiredNumPartitions(): Int = 0 // engine/AQE decides

  /** In-partition sort by (index, shard): rows arrive group-contiguous, so
    * a writer keeps exactly ONE output stream open regardless of how many
    * shards AQE packs into its partition (file-handle/memory bound at
    * wide shard counts; the reference gets the same effect from MR's
    * shuffle sort). */
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.identity("index"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
    Expressions.sort(Expressions.identity("shard"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

  override def toBatch: BatchWrite =
    new EsSnapshotBatchWrite(info.schema(), dest, options, truncateRepo)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DocsWrittenMetric, new BytesWrittenMetric, new IndexingMsMetric)
}

/** DSv2 custom metrics: the reference's JOB_COUNTER surface
  * (BaseESReducer.java:60-62) as live per-task Spark UI metrics. */
class DocsWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "docsWritten"
  override def description(): String = "documents bulk-indexed (INDEX_DOC_CREATED)"
}
class BytesWrittenMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesWritten"
  override def description(): String = "payload bytes streamed to snapshot"
}
class IndexingMsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "indexingMs"
  override def description(): String = "TIME_SPENT_INDEXING_MS"
}

private[essnapshot] case class TaskMetric(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

/** One (index, shard, dataFile) unit committed by a writer task. */
case class ShardFileCommit(index: String, shard: Int, fileName: String,
                           docCount: Long, bytes: Long, indexingMs: Long,
                           flushMs: Long) extends Serializable

case class ShardCommitMessage(files: Seq[ShardFileCommit])
    extends WriterCommitMessage

class EsSnapshotBatchWrite(schema: StructType, dest: String,
                           options: Map[String, String],
                           truncateRepo: Boolean = false) extends BatchWrite {

  private val snapshotUuid = UUID.randomUUID().toString
  private val snapshotName =
    options.getOrElse(EsSnapshotSink.SnapshotNameOption, s"snapshot_$snapshotUuid")
  private val shardCfg = EsSnapshotSink.shardConfig(options)

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val batchBytes = options.getOrElse(EsSnapshotSink.BatchBytesOption,
      (256 * 1024 * 1024).toString).toLong // file-roll threshold
    val batchDocs = options.getOrElse(EsSnapshotSink.BatchDocsOption, "0").toLong
    val gzip = options.getOrElse(EsSnapshotSink.CompressionOption, "gzip") match {
      case "gzip" => true
      case "none" => false
      case other => throw new IllegalArgumentException(
        s"${EsSnapshotSink.CompressionOption} must be gzip|none, got $other")
    }
    val level = options.getOrElse(EsSnapshotSink.CompressionLevelOption, "1").toInt
    new ShardDocWriterFactory(schema, dest, conf, batchBytes, gzip, level,
      batchDocs)
  }

  /** The post-processor, as the DSv2 driver commit
    * (reference: IndexingPostProcessor.java:144-246), in four phases:
    * (1) plan from the commit messages alone, with no file-system call;
    * (2) read the live generation (skipped in truncate mode); (3) write
    * every shard dir's, index's and the root's metadata concurrently, as
    * each depends on the plan alone; (4) serially, the truncate sweep,
    * the publish (`index-N`, then `index.latest`), then `manifest.txt`
    * and `_SUMMARY.json`.
    * A failure before the publish leaves readers on the previous
    * generation, and the DSv2 abort then deletes this write's data files. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.toSeq
      .collect { case m: ShardCommitMessage => m.files }.flatten
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)

    val byIndex = commits.groupBy(_.index)
    val indexes = byIndex.keys.toSeq.sorted
    // A shard outside the configured range has a dir no manifest lists
    // and no sweep visits: its rows would be silently lost.
    for (index <- indexes) {
      val numShards = shardCfg.shardsFor(index)
      val outside = byIndex(index).map(_.shard)
        .filter(s => s < 0 || s >= numShards).distinct.sorted
      if (outside.nonEmpty) throw new IllegalArgumentException(
        s"index $index has rows routed to shard ${outside.mkString(", ")}, " +
          s"outside [0, $numShards) for its $numShards configured shards; " +
          "route the envelope with the shard count configured for the sink")
    }
    val totalDocs = commits.map(_.docCount).sum
    val totalShards = indexes.map(shardCfg.shardsFor(_).toLong).sum
    // one line per populated shard; no populated shard → an empty file
    val manifest = for (index <- indexes; _ <- byIndex(index).map(_.shard).distinct)
      yield SnapshotLayout.manifestLine(index, snapshotUuid, SnapshotLayout.indexId(index))

    // Snapshot repos accumulate: read the live generation (if any), append
    // this snapshot, and publish generation N+1 — the reference's repo
    // shape, where index.latest names the authoritative index-N
    // (BaseTransport.java:169-179) and every snapshot stays restorable.
    // An unreadable live generation fails the commit before it writes
    // anything. Truncate mode (SaveMode.Overwrite) instead forgets
    // history: prior generations are not read, and their files are swept
    // below.
    val next = (if (truncateRepo) None else SnapshotLayout.readRepo(fs, dest))
      .getOrElse(SnapshotLayout.RepoState.Empty)
      .plus(snapshotName, snapshotUuid, indexes)

    val shardWrites = indexes.flatMap { index =>
      val perShard = byIndex(index).groupBy(_.shard)
      val winners = byIndex(index).map(_.fileName).toSet
      (0 until shardCfg.shardsFor(index)).map { shard => () =>
        commitShardDir(fs, index, shard, perShard.getOrElse(shard, Seq.empty), winners)
      }
    }
    val indexMetaWrites = indexes.map { index => () =>
      SnapshotLayout.writeBytes(fs,
        new Path(SnapshotLayout.indicesDir(dest, index), SnapshotLayout.metaDat(snapshotUuid)),
        SnapshotLayout.indexMetaDat(index, SnapshotLayout.indexId(index),
          shardCfg.shardsFor(index),
          options.getOrElse(EsSnapshotSink.MappingsOption, "{}")))
    }
    // Root metadata (IndexingPostProcessor.java:144-193). The template —
    // cluster-level state in ES — lands in the root MetaData blob under
    // its name, as a real repo stores it.
    val rootWrites = Seq(
      () => SnapshotLayout.writeBytes(fs,
        new Path(destPath, SnapshotLayout.snapDat(snapshotUuid)),
        SnapshotLayout.rootSnapDat(snapshotName, snapshotUuid, indexes,
          totalDocs, totalShards)),
      () => SnapshotLayout.writeBytes(fs,
        new Path(destPath, SnapshotLayout.metaDat(snapshotUuid)),
        SnapshotLayout.rootMetaDat("graft",
          options.getOrElse(EsSnapshotSink.TemplateNameOption, "template_1"),
          options.getOrElse(EsSnapshotSink.TemplateOption, "{}"))))
    Concurrently.runAll("es-snapshot-commit", shardWrites ++ indexMetaWrites ++ rootWrites)

    if (truncateRepo) {
      // forget prior generations at the root: stale index-N pointers and
      // other snapshots' root/index metadata
      fs.listStatus(destPath).map(_.getPath.getName).foreach { n =>
        val stale = next.supersedes(n) ||
          ((n.startsWith("snap-") || n.startsWith("meta-")) && !n.contains(snapshotUuid))
        if (stale) fs.delete(new Path(destPath, n), false)
      }
      for (index <- indexes) {
        val ixDir = new Path(SnapshotLayout.indicesDir(dest, index))
        if (fs.exists(ixDir))
          fs.listStatus(ixDir).map(_.getPath.getName)
            .filter(n => n.startsWith("meta-") && !n.contains(snapshotUuid))
            .foreach(f => fs.delete(new Path(ixDir, f), false))
      }
      // indexes from prior writes that this snapshot doesn't carry are
      // history too
      val keepIds = indexes.map(SnapshotLayout.indexId).toSet
      val indicesRoot = new Path(destPath, "indices")
      if (fs.exists(indicesRoot))
        fs.listStatus(indicesRoot).filter(_.isDirectory)
          .filterNot(d => keepIds.contains(d.getPath.getName))
          .foreach(d => fs.delete(d.getPath, true))
    }
    SnapshotLayout.publishRepo(fs, dest, next)
    SnapshotLayout.writeBytes(fs, new Path(destPath, SnapshotLayout.ManifestFile),
      manifest.sorted.map(_ + "\n").mkString.getBytes(UTF_8))

    // JOB_COUNTER-equivalent metrics (BaseESReducer.java:60-62).
    SnapshotLayout.writeBytes(fs,
      new Path(destPath, SnapshotLayout.SummaryFile),
      SnapshotLayout.jsonObj(
        "snapshot_uuid" -> SnapshotLayout.jsonStr(snapshotUuid),
        "index_doc_created" -> totalDocs.toString,
        "bytes_written" -> commits.map(_.bytes).sum.toString,
        "time_spent_indexing_ms" -> commits.map(_.indexingMs).sum.toString,
        "time_spent_flushing_ms" -> commits.map(_.flushMs).sum.toString,
        "writer_files" -> commits.length.toString).getBytes(UTF_8))
  }

  /** One shard dir's part of the commit: sweep, then its `snap-<uuid>.dat`.
    * Touches only `dir`, so shard dirs commit concurrently. */
  private def commitShardDir(fs: FileSystem, index: String, shard: Int,
                             files: Seq[ShardFileCommit], winners: Set[String]): Unit = {
    val dir = new Path(SnapshotLayout.shardDir(dest, index, shard))
    fs.mkdirs(dir)
    // Sweep stray files from failed/zombie attempts: survivors are
    // this commit's winners PLUS (append mode) every file manifested
    // by an earlier snapshot's snap-*.dat — prior generations stay
    // restorable. Truncate mode sweeps history too: old data files
    // AND old snap manifests go. Replaces speculative-off reliance
    // (IndexingJob.java:121) and empty-dir cleanup
    // (BaseTransport.java:261-280).
    // FAIL CLOSED like deleteSnapshot's GC: a prior manifest that
    // fails to parse must not make its data files look unreferenced —
    // skip the sweep for this shard dir (stray-attempt files leak,
    // recoverable) instead of deleting files an earlier snapshot may
    // still reference (data loss).
    // ONE listStatus per shard dir serves the whole block: the sweep
    // (names), the truncate sweep (names), and the FileInfo lengths
    // (getLen) — deletions below only touch non-winners, so winners'
    // recorded lengths stay exact.
    val entries = fs.listStatus(dir)
    val priorManifested: Option[Set[String]] =
      if (truncateRepo) Some(Set.empty)
      else try Some(entries.map(_.getPath)
        .filter(_.getName.startsWith("snap-"))
        .flatMap(p =>
          SnapshotLayout.parseShardSnapFiles(SnapshotLayout.readBytes(fs, p)))
        .toSet)
      catch { case _: Exception => None }
    priorManifested.foreach { prior =>
      entries.map(_.getPath.getName)
        .filter(_.startsWith("docs-"))
        .filterNot(f => winners.contains(f) || prior.contains(f))
        .foreach(f => fs.delete(new Path(dir, f), false))
    }
    if (truncateRepo)
      entries.map(_.getPath.getName)
        .filter(n => n.startsWith("snap-") &&
          n != SnapshotLayout.snapDat(snapshotUuid))
        .foreach(f => fs.delete(new Path(dir, f), false))

    val docs = files.map(_.docCount).sum
    // FileInfo lengths are ON-DISK blob sizes (what ES records and a
    // restore pre-allocates), not payload bytes
    val onDiskLen: Map[String, Long] =
      entries.map(s => s.getPath.getName -> s.getLen).toMap
    val fileLens = files.map(f =>
      (f.fileName, onDiskLen.getOrElse(f.fileName, f.bytes))).sortBy(_._1)
    val bytes = fileLens.map(_._2).sum
    // Per-shard snapshot metadata under the ONE canonical snapshot uuid —
    // the reference achieves this by renaming every reducer's
    // snap-<reducerUUID>.dat to the base snapshot's uuid
    // (IndexingPostProcessor.java:195-216); here shards are born stitched.
    // A4: shards with no rows still get a dir + snap file (empty-shard
    // backfill, BaseTransport.java:144-167).
    SnapshotLayout.writeBytes(fs,
      new Path(dir, SnapshotLayout.snapDat(snapshotUuid)),
      SnapshotLayout.shardSnapDat(snapshotName, docs, bytes, fileLens))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.collect { case m: ShardCommitMessage => m.files }.flatten
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(dest).getFileSystem(conf)
    commits.foreach { c =>
      val p = new Path(SnapshotLayout.shardDir(dest, c.index, c.shard), c.fileName)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

class ShardDocWriterFactory(schema: StructType, dest: String,
                            conf: SerializableConfiguration, batchBytes: Long,
                            gzip: Boolean = true, gzipLevel: Int = 1,
                            batchDocs: Long = 0L)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ShardDocWriter(schema, dest, conf.value, partitionId, taskId, batchBytes,
      gzip, gzipLevel, batchDocs)
}

/**
 * Per-partition writer: streams each (index, shard) group's documents as
 * gzipped NDJSON directly to the destination FS under an attempt-unique
 * name (idempotency: the file only becomes part of the snapshot if this
 * task's commit message wins).
 *
 * Mirrors the reducer's batching intent (BaseESReducer.java:255-266): the
 * buffered+gzip stream flushes by size; counters time the indexing (append)
 * and flushing (close) phases separately.
 *
 * Hot path: the 64 KB buffer sits IN FRONT of the deflater, so gzip sees
 * whole blocks (one deflate + CRC call per 64 KB, not one per doc and one
 * per newline); payloads go to that buffer through `UTF8String.writeTo`
 * (no `getBytes` copy when the row sits in a byte array), and the
 * shard-change test compares the row's `index` bytes without decoding a
 * String.
 */
class ShardDocWriter(schema: StructType, dest: String, conf: Configuration,
                     partitionId: Int, taskId: Long, batchBytes: Long,
                     gzip: Boolean = true, gzipLevel: Int = 1,
                     batchDocs: Long = 0L)
    extends DataWriter[InternalRow] {

  private val writerUuid = s"p$partitionId-t$taskId-${UUID.randomUUID()}"
  private val iIndex = schema.fieldIndex("index")
  private val iShard = schema.fieldIndex("shard")
  private val iJson = schema.fieldIndex("json")

  /** GZIPOutputStream pinned to a deflate level (the JDK class hardcodes
    * the Deflater default; `def` is its protected Deflater field). */
  private final class LeveledGzip(o: OutputStream, level: Int)
      extends GZIPOutputStream(o, 64 * 1024) { `def`.setLevel(level) }

  private final class ShardStream(val index: String, val shard: Int, seq: Int) {
    val indexKey: UTF8String = UTF8String.fromString(index)
    // seq guards the (engine-violated-ordering) case where a group is
    // revisited after its stream closed: a fresh file, never an overwrite
    val fileName: String = SnapshotLayout.dataFile(s"$writerUuid-$seq", gzip)
    val path = new Path(SnapshotLayout.shardDir(dest, index, shard), fileName)
    private val fs = path.getFileSystem(conf)
    val out: OutputStream = {
      val file = fs.create(path, true)
      new BufferedOutputStream(
        if (gzip) new LeveledGzip(file, gzipLevel) else file, 64 * 1024)
    }
    var docCount = 0L
    var bytes = 0L
    var indexingNanos = 0L
    var flushNanos = 0L

    def append(json: UTF8String): Unit = {
      val t0 = System.nanoTime()
      json.writeTo(out)
      out.write('\n')
      docCount += 1
      bytes += json.numBytes + 1
      indexingNanos += System.nanoTime() - t0
    }
    def finish(): ShardFileCommit = {
      val t0 = System.nanoTime()
      out.close()
      flushNanos += System.nanoTime() - t0
      ShardFileCommit(index, shard, fileName, docCount, bytes,
        indexingNanos / 1000000, flushNanos / 1000000)
    }
    def abort(): Unit = {
      try out.close() catch { case _: Exception => () }
      try { if (fs.exists(path)) fs.delete(path, false) }
      catch { case _: Exception => () }
    }
  }

  // Rows arrive sorted by (index, shard) per requiredOrdering, so exactly
  // one stream is open at a time; finished files accumulate as commits.
  private var current: ShardStream = null
  private val finished = mutable.ArrayBuffer.empty[ShardFileCommit]
  private val openSeq = mutable.HashMap.empty[(String, Int), Int]
  private var docsSoFar = 0L
  private var bytesSoFar = 0L
  private var indexingNanosSoFar = 0L

  private def roll(index: String, shard: Int): ShardStream = {
    if (current != null) {
      docsSoFar += current.docCount
      bytesSoFar += current.bytes
      indexingNanosSoFar += current.indexingNanos
      finished += current.finish()
    }
    val seq = openSeq.getOrElse((index, shard), 0)
    openSeq((index, shard)) = seq + 1
    current = new ShardStream(index, shard, seq)
    current
  }

  private def thresholdHit(s: ShardStream): Boolean =
    (batchBytes > 0 && s.bytes >= batchBytes) ||
      (batchDocs > 0 && s.docCount >= batchDocs)

  override def write(record: InternalRow): Unit = {
    val index = record.getUTF8String(iIndex)
    val shard = record.getInt(iShard)
    val stream =
      if (current != null && current.shard == shard && current.indexKey == index) {
        // bounded data files: roll at the bytes/docs flush threshold (the
        // reference's bulk-size knobs); every rolled file is committed and
        // listed in the shard's snap manifest
        if (thresholdHit(current)) roll(current.index, shard) else current
      } else roll(index.toString, shard)
    stream.append(record.getUTF8String(iJson))
  }

  override def commit(): WriterCommitMessage = {
    if (current != null) { finished += current.finish(); current = null }
    ShardCommitMessage(finished.toSeq)
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val (d, b, n) =
      if (current == null) (0L, 0L, 0L)
      else (current.docCount, current.bytes, current.indexingNanos)
    Array(
      TaskMetric("docsWritten", docsSoFar + d),
      TaskMetric("bytesWritten", bytesSoFar + b),
      TaskMetric("indexingMs", (indexingNanosSoFar + n) / 1000000))
  }

  override def abort(): Unit = {
    if (current != null) current.abort()
    // also remove files this task already closed — their commits will
    // never reach the driver
    finished.foreach { c =>
      try {
        val p = new Path(SnapshotLayout.shardDir(dest, c.index, c.shard), c.fileName)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, false)
      } catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}
