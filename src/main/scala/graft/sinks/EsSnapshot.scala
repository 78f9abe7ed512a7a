package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.{IndexableDoc, ShardConfig}
import graft.sinks.essnapshot.{EsSnapshotSink, SnapshotLayout}
import graft.sinks.essnapshot.SnapshotLayout.RepoState

/** User-facing facade over the `es-snapshot` DSv2 sink. */
object EsSnapshot {

  /**
   * Bulk-build an offline snapshot from an envelope stream.
   * The engine inserts the one required shuffle, on a writer key that
   * deals every index's shards evenly over one writer task per core
   * ([[EsSnapshotSink.writerSlots]]); commit stitches per-shard snapshots
   * into a single restorable layout.
   * Repos accumulate: each write appends a snapshot + generation;
   * `overwrite = true` makes this snapshot the repo's only one.
   */
  def write(docs: Dataset[IndexableDoc], dest: String,
            shards: ShardConfig = ShardConfig(),
            snapshotName: Option[String] = None,
            mappings: Option[String] = None,
            template: Option[String] = None,
            options: Map[String, String] = Map.empty,
            overwrite: Boolean = false): Unit = {
    val slots = EsSnapshotSink.writerSlots(docs.sparkSession, shards)
    var w = EsSnapshotSink.writerInput(docs.toDF(), slots).write.format("es-snapshot")
      .option("path", dest)
      .option(EsSnapshotSink.ShardsDefaultOption, shards.defaultShards)
    shards.perIndex.foreach { case (ix, n) =>
      w = w.option(EsSnapshotSink.ShardsPerIndexPrefix + ix, n)
    }
    snapshotName.foreach(n => w = w.option(EsSnapshotSink.SnapshotNameOption, n))
    mappings.foreach(m => w = w.option(EsSnapshotSink.MappingsOption, m))
    template.foreach(t => w = w.option(EsSnapshotSink.TemplateOption, t))
    options.foreach { case (k, v) => w = w.option(k, v) }
    w.mode(if (overwrite) "overwrite" else "append").save()
  }

  /** DSv2 read of a committed snapshot: table of (index, shard, json) with
    * one partition per shard dir and shard/index filter pruning at the
    * directory listing (restore parallelism == shard topology). Repos
    * accumulate snapshots across generations; `snapshot` selects one by
    * name or uuid (default: the most recent). */
  def readTable(spark: SparkSession, dest: String,
                snapshot: Option[String] = None): DataFrame = {
    val r = spark.read.format("es-snapshot")
    snapshot.foreach(s => r.option("snapshot", s))
    r.load(dest)
  }

  /**
   * Delete one snapshot from a repo (ES delete-snapshot semantics): the
   * snapshot disappears from a NEW generation, its metadata files go, and
   * its data files are removed unless another snapshot's shard manifest
   * still references them. Driver-side metadata surgery — O(shards) file
   * ops, no Spark job. Returns false if the snapshot isn't in the repo.
   */
  def deleteSnapshot(spark: SparkSession, dest: String,
                     nameOrUuid: String): Boolean = {
    val fs = repoFs(spark, dest)
    val found = SnapshotLayout.readRepo(fs, dest)
      .flatMap(state => state.resolve(nameOrUuid).map(state -> _))
    found.foreach { case (state, uuid) => dropSnapshots(fs, dest, state, Set(uuid)) }
    found.isDefined
  }

  /**
   * Compact a snapshot repo to its `keep` most recent snapshots: older
   * snapshots are dropped together, with [[deleteSnapshot]]'s
   * reference-counted GC (data files shared with a surviving snapshot are
   * kept) and one new generation, then the metadata chain is collapsed —
   * superseded `index-N` generation files are pruned so the repo's
   * metadata footprint is O(keep), not O(total writes).
   * The retention policy every long-lived repo needs (a streaming
   * `streamToSnapshots` repo grows one snapshot per micro-batch).
   * Returns the number of snapshots removed.
   */
  def compactRepo(spark: SparkSession, dest: String, keep: Int = 1): Int = {
    require(keep >= 1, "keep must be >= 1")
    val fs = repoFs(spark, dest)
    SnapshotLayout.readRepo(fs, dest).fold(0) { state =>
      // generation order is append order: oldest first
      val victims = state.snapshots.dropRight(keep).map(_._2).toSet
      val live = if (victims.isEmpty) state else dropSnapshots(fs, dest, state, victims)
      fs.listStatus(new Path(dest)).map(_.getPath)
        .filter(p => live.supersedes(p.getName))
        .foreach(fs.delete(_, false))
      victims.size
    }
  }

  private def repoFs(spark: SparkSession, dest: String): FileSystem =
    new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publishes `state` without the `victims` snapshots (readers atomically
    * stop seeing them), then garbage-collects their files: one
    * reference-counted pass per shard dir. Returns the published state. */
  private def dropSnapshots(fs: FileSystem, dest: String, state: RepoState,
                            victims: Set[String]): RepoState = {
    val next = state.minus(victims)
    SnapshotLayout.publishRepo(fs, dest, next)
    val surviving = next.indices.map(_._1).toSet
    for ((ix, uuids) <- state.indices if uuids.exists(victims)) {
      val ixDir = new Path(SnapshotLayout.indicesDir(dest, ix))
      if (!surviving(ix)) fs.delete(ixDir, true) // no snapshot carries this index now
      else {
        uuids.filter(victims)
          .foreach(u => fs.delete(new Path(ixDir, SnapshotLayout.metaDat(u)), false))
        for (shardDir <- fs.listStatus(ixDir) if shardDir.isDirectory)
          collectShard(fs, shardDir.getPath, victims.map(SnapshotLayout.snapDat))
      }
    }
    victims.foreach { u =>
      fs.delete(new Path(dest, SnapshotLayout.snapDat(u)), false)
      fs.delete(new Path(dest, SnapshotLayout.metaDat(u)), false)
    }
    next
  }

  /** Deletes the victims' manifests in one shard dir, and each data file
    * they list that no other manifest there lists. Reads each manifest
    * once. */
  private def collectShard(fs: FileSystem, dir: Path, victimDats: Set[String]): Unit = {
    val (mine, others) = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("snap-"))
      .partition(p => victimDats(p.getName))
    if (mine.nonEmpty) {
      def files(p: Path): Option[Seq[String]] =
        try Some(SnapshotLayout.parseShardSnapFiles(SnapshotLayout.readBytes(fs, p)))
        catch { case _: Exception => None }
      // FAIL CLOSED: a data file goes only when it is PROVEN that no
      // surviving snapshot references it. A surviving manifest that fails
      // to parse leaves that proof unavailable, so this shard dir keeps
      // every data file (an orphan leak, recoverable) rather than losing
      // one the corrupt manifest covers (data loss). A victim manifest
      // that fails to parse names no files, so none of its files go.
      val referenced = others.map(files)
      if (referenced.forall(_.isDefined)) {
        val keep = referenced.flatMap(_.get).toSet
        mine.flatMap(files(_).getOrElse(Seq.empty)).distinct.filterNot(keep)
          .foreach(f => fs.delete(new Path(dir, f), false))
      }
      mine.foreach(fs.delete(_, false))
    }
  }

  /** The committed manifest, one row per populated shard:
    * `index|snapshotUUID|indexId` (reference: BaseESReducer.java:317-319). */
  def readManifest(spark: SparkSession, dest: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.text(s"$dest/manifest.txt")
      .select(split(col("value"), "\\|").as("f"))
      .select(col("f").getItem(0).as("index"),
        col("f").getItem(1).as("snapshotUuid"),
        col("f").getItem(2).as("indexId"))
  }
}
