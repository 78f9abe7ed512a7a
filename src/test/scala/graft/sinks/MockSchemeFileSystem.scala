package graft.sinks

import java.net.URI

/**
 * A registered non-`file` Hadoop scheme (`graftmock://`) backed by local
 * disk — stands in for the reference's remote transports (S3/HDFS,
 * S3SnapshotTransport.java:49-193, HDFSSnapshotTransport.java:53-111) to
 * prove the sink's single Hadoop `FileSystem` path really is
 * transport-agnostic: every byte must flow through THIS FileSystem's
 * create/rename/list/delete, not through java.io side doors.
 */
class MockSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: URI = URI.create("graftmock:///")
}

/**
 * [[MockSchemeFileSystem]] under the `graftfail` scheme whose `create`
 * fails for every path [[FailingLatestFileSystem.failCreate]] accepts.
 * [[FailingLatestFileSystem.armed]] sets it to `index.latest`: a repo
 * publish that dies between writing `index-N` and moving the pointer.
 */
class FailingLatestFileSystem extends MockSchemeFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.util.Progressable

  override def getScheme: String = "graftfail"
  override def getUri: URI = URI.create("graftfail:///")

  // the overload `FileSystem.create(path, overwrite)` reaches here
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (FailingLatestFileSystem.failCreate(f))
      throw new java.io.IOException(s"injected failure creating $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingLatestFileSystem {
  import org.apache.hadoop.fs.Path

  private val never: Path => Boolean = _ => false
  @volatile var failCreate: Path => Boolean = never

  def armed: Boolean = failCreate ne never
  def armed_=(on: Boolean): Unit =
    failCreate = if (on) _.getName == "index.latest" else never
}

/**
 * [[MockSchemeFileSystem]] under the `graftcount` scheme that records the
 * metadata calls (create, open, listStatus, delete) from every
 * thread — driver, commit pool and writer tasks alike — as
 * (operation, path) pairs.
 */
class CountingMockFileSystem extends MockSchemeFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.util.Progressable
  import CountingMockFileSystem.record

  override def getScheme: String = "graftcount"
  override def getUri: URI = URI.create("graftcount:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    record("listStatus", f)
    super.listStatus(f)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    record("delete", f)
    super.delete(f, recursive)
  }
}

object CountingMockFileSystem {
  import org.apache.hadoop.fs.Path

  private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Path)]

  private def record(op: String, f: Path): Unit = log.add(op -> f)

  /** The calls recorded since the last `reset`, in no particular order. */
  def calls: Seq[(String, Path)] = log.toArray(Array.empty[(String, Path)]).toSeq
  def reset(): Unit = log.clear()
}
