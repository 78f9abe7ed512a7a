package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Raw local disk under the `cfs` scheme, so the checksummed wrapper below
  * accepts `cfs:` paths end to end. */
class CountingRawFileSystem extends RawLocalFileSystem {
  override def getScheme: String = CountingFileSystem.Scheme
  override def getUri: URI = URI.create(s"${CountingFileSystem.Scheme}:///")
}

/**
 * The local file system (checksummed, exactly what a `file:` destination
 * gets) registered under the `cfs` scheme, tallying the metadata calls the
 * driver thread makes: create, open, list, exists, delete and rename.
 * Writer tasks run on executor threads and are not counted, so a tally
 * taken around `EsSnapshot.write` is the driver's planning and commit
 * traffic, an exact count that needs no timing.
 */
class CountingFileSystem extends LocalFileSystem(new CountingRawFileSystem) {
  import CountingFileSystem.tally

  override def getScheme: String = CountingFileSystem.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    tally()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    tally()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    tally()
    super.listStatus(f)
  }

  override def exists(f: Path): Boolean = {
    tally()
    super.exists(f)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    tally()
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    tally()
    super.rename(src, dst)
  }
}

object CountingFileSystem {
  val Scheme = "cfs"

  @volatile private var driver: Thread = Thread.currentThread()
  private val calls = new AtomicLong()

  /** Count calls from the current thread from now on. */
  def watchCurrentThread(): Unit = driver = Thread.currentThread()

  /** Driver-thread calls so far. */
  def driverCalls: Long = calls.get()

  private def tally(): Unit =
    if (Thread.currentThread() eq driver) calls.incrementAndGet()
}
