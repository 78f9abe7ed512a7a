package graft.sinks.essnapshot

import java.io.{BufferedReader, InputStreamReader}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * Read side of the `es-snapshot` format: a committed snapshot scans back
 * as a table of `(index, shard, json)` with ONE InputPartition per
 * (index, shard) directory — restore parallelism == shard topology, the
 * same property a live ES restore has (one shard = one recovery unit).
 *
 * Shard-level pruning: filters on `shard`/`index` push down into the
 * directory listing (SupportsPushDownFilters), so a targeted-routing read
 * (X2's `getPossibleRoutingHashes` use case — find one document's shard,
 * read only it) touches 1/numShards of the data.
 */
class EsSnapshotScanBuilder(dest: String, conf: SerializableConfiguration,
                            snapshot: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters {

  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("shard" | "index", _) => true
      case In("shard" | "index", _) => true
      case GreaterThan("shard", _) | GreaterThanOrEqual("shard", _) => true
      case LessThan("shard", _) | LessThanOrEqual("shard", _) => true
      case _ => false
    }
    pushed = supported
    rest ++ supported // Spark re-evaluates for exactness; pruning is a speedup
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new EsSnapshotScan(dest, conf, pushed, snapshot)
}

object EsSnapshotRead {
  val Schema: StructType = StructType(Seq(
    StructField("index", StringType, nullable = false),
    StructField("shard", IntegerType, nullable = false),
    StructField("json", StringType, nullable = false)))
}

case class ShardInputPartition(index: String, shard: Int,
                               files: Seq[String]) extends InputPartition

class EsSnapshotScan(dest: String, conf: SerializableConfiguration,
                     filters: Array[Filter],
                     snapshot: Option[String] = None) extends Scan with Batch {
  override def readSchema(): StructType = EsSnapshotRead.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"es-snapshot read $dest [snapshot ${snapshot.getOrElse("<latest>")}; " +
      s"pruned by ${filters.mkString(", ")}]"

  private def shardAdmitted(shard: Int): Boolean = filters.forall {
    case EqualTo("shard", v: Int) => shard == v
    case In("shard", vs) => vs.exists(v => v == shard)
    case GreaterThan("shard", v: Int) => shard > v
    case GreaterThanOrEqual("shard", v: Int) => shard >= v
    case LessThan("shard", v: Int) => shard < v
    case LessThanOrEqual("shard", v: Int) => shard <= v
    case _ => true
  }

  /** One partition per populated shard of the wanted snapshot: the
    * repo's live generation names the snapshot and the indexes it
    * contains, and each shard's `snap-<uuid>.dat` lists exactly the data
    * files to read. A repo with no generation, or no snapshot in it,
    * reads as empty; a selector that names no snapshot fails. */
  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(dest).getFileSystem(conf.value)
    val repo = SnapshotLayout.readRepo(fs, dest)
    val known = repo.fold(Seq.empty[(String, String)])(_.snapshots)
    // by name (the newest with that name) or uuid; default = the newest
    val wantedUuid: Option[String] = snapshot match {
      case Some(sel) => Some(repo.flatMap(_.resolve(sel)).getOrElse(
        throw new IllegalArgumentException(s"no snapshot '$sel' in $dest; " +
          s"known: ${known.map(_._1).mkString("[", ", ", "]")}")))
      case None => known.lastOption.map(_._2)
    }
    val nameFilterAdmits: String => Boolean = {
      val wanted = filters.collect {
        case EqualTo("index", v: String) => Set(v)
        case In("index", vs) => vs.collect { case s: String => s }.toSet
      }.reduceOption(_ intersect _)
      name => wanted.forall(_.contains(name))
    }
    (for {
      state <- repo.toSeq
      uuid <- wantedUuid.toSeq
      name <- state.indexesOf(uuid) if nameFilterAdmits(name)
      shardDir <- fs.listStatus(new Path(SnapshotLayout.indicesDir(dest, name)))
      shard = shardDir.getPath.getName.toIntOption.getOrElse(-1)
      if shardDir.isDirectory && shard >= 0 && shardAdmitted(shard)
      // a shard dir without this snapshot's manifest is beyond the
      // snapshot's shard count for the index: it holds none of its data
      snapDat = new Path(shardDir.getPath, SnapshotLayout.snapDat(uuid))
      if fs.exists(snapDat)
      files = SnapshotLayout.parseShardSnapFiles(SnapshotLayout.readBytes(fs, snapDat))
      if files.nonEmpty
    } yield ShardInputPartition(name, shard,
      files.map(f => new Path(shardDir.getPath, f).toString))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(conf)
}

class ShardReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ShardInputPartition]
    new PartitionReader[InternalRow] {
      private val fileIter = p.files.iterator
      private var reader: BufferedReader = null
      private var line: String = null
      private val indexUtf8 = UTF8String.fromString(p.index)

      private def nextReader(): Boolean = {
        if (reader != null) reader.close()
        if (!fileIter.hasNext) { reader = null; false }
        else {
          val path = new Path(fileIter.next())
          val fs = path.getFileSystem(conf.value)
          val raw: java.io.InputStream = fs.open(path)
          val in = if (path.getName.endsWith(".gz")) new GZIPInputStream(raw) else raw
          reader = new BufferedReader(new InputStreamReader(in, "UTF-8"))
          true
        }
      }

      override def next(): Boolean = {
        while (true) {
          if (reader == null && !nextReader()) return false
          line = reader.readLine()
          if (line != null) return true
          reader.close(); reader = null
        }
        false
      }

      override def get(): InternalRow =
        InternalRow(indexUtf8, p.shard, UTF8String.fromString(line))

      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
