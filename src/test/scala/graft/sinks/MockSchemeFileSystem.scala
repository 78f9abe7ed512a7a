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
 * [[MockSchemeFileSystem]] under the `graftfail` scheme that, while
 * [[FailingLatestFileSystem.armed]] is set, fails every create of
 * `index.latest`: a repo publish that dies between writing `index-N` and
 * moving the pointer.
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
    if (FailingLatestFileSystem.armed && f.getName == "index.latest")
      throw new java.io.IOException(s"injected failure creating $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingLatestFileSystem {
  @volatile var armed = false
}
