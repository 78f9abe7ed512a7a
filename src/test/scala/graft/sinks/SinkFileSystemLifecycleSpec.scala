package graft.sinks

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import graft.core.ShardConfig
import graft.sources.Ingest

/** Raw local disk under the `graftlife` scheme, for [[LifecycleFileSystem]]. */
class LifecycleRawFileSystem extends RawLocalFileSystem {
  override def getScheme: String = LifecycleFileSystem.Scheme
  override def getUri: URI = URI.create(s"${LifecycleFileSystem.Scheme}:///")
}

/**
 * The checksummed local file system under the `graftlife` scheme, which
 * tracks every instance from `initialize` to `close` and fails each
 * `create` that [[LifecycleFileSystem.failCreate]] accepts.
 */
class LifecycleFileSystem extends LocalFileSystem(new LifecycleRawFileSystem) {
  override def getScheme: String = LifecycleFileSystem.Scheme

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    LifecycleFileSystem.opened.incrementAndGet()
    LifecycleFileSystem.live.add(this)
  }

  override def close(): Unit = {
    LifecycleFileSystem.live.remove(this)
    super.close()
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (LifecycleFileSystem.failCreate(f))
      throw new java.io.IOException(s"injected failure creating $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object LifecycleFileSystem {
  val Scheme = "graftlife"
  val opened = new AtomicInteger()
  val live: java.util.Set[FileSystem] = ConcurrentHashMap.newKeySet[FileSystem]()
  @volatile var failCreate: Path => Boolean = _ => false
}

/**
 * The sink opens its own file-system instances to write blobs without a
 * `.crc` sidecar; each one must be closed, whether the write commits, a
 * writer task aborts or the driver commit fails.
 */
class SinkFileSystemLifecycleSpec extends SparkSpec {

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def injected(e: Throwable): Boolean =
    causes(e).exists(c => c.getMessage != null && c.getMessage.startsWith("injected failure"))

  test("every file system the sink opens is closed after a commit, a writer abort and a failed commit") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${LifecycleFileSystem.Scheme}.impl", classOf[LifecycleFileSystem].getName)
    withTempDir("graft-fs-lifecycle") { dir =>
      val dest = s"${LifecycleFileSystem.Scheme}://$dir"
      def append(lo: Long, name: String): Unit = EsSnapshot.write(
        Ingest.fromColumns(spark.range(lo, lo + 400).toDF("event_id"), "events", "event_id", 4),
        dest, ShardConfig(4), Some(name))
      val shared = new Path(dest).getFileSystem(conf)
      def onlyShared(): Unit = eventually(timeout(10.seconds), interval(50.millis)) {
        assert(LifecycleFileSystem.live.asScala.toSet === Set(shared))
      }
      def failing(fail: Path => Boolean)(body: => Unit): Unit = {
        LifecycleFileSystem.failCreate = fail
        try body finally LifecycleFileSystem.failCreate = _ => false
      }

      val before = LifecycleFileSystem.opened.get()
      append(0, "snap_a")
      // two writer tasks (local[2]) and the commit each opened one
      assert(LifecycleFileSystem.opened.get() - before >= 3)
      onlyShared()

      failing(_.getName.startsWith("docs-")) {
        assert(injected(intercept[Exception](append(400, "snap_b"))))
      }
      onlyShared()

      failing(p => p.getName.startsWith("snap-") && p.getParent.getName == "1") {
        assert(injected(intercept[Exception](append(800, "snap_c"))))
      }
      onlyShared()

      assert(EsSnapshot.readTable(spark, dest).count() === 400)
    }
  }
}
