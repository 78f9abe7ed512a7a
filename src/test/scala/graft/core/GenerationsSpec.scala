package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec
import graft.sinks.FailingLatestFileSystem

/**
 * A [[Generations.commit]] that dies part-way leaves readers on a
 * committed generation: the previous one while `gen-N/COMMITTED` is
 * missing, the new one once it exists (its pointer swing may still
 * die). Either way the next claim and commit succeed.
 */
class GenerationsSpec extends SparkSpec {

  private def withStore(name: String)(f: (String, FileSystem, Path) => Unit): Unit = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfail.impl", classOf[FailingLatestFileSystem].getName)
    withTempDir(name) { dir =>
      val dest = s"graftfail://$dir"
      val root = new Path(dest)
      f(dest, root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    }
  }

  /** Claims a generation and writes its one data file. */
  private def build(fs: FileSystem, root: Path): Long = {
    val gen = Generations.claim(fs, root)
    val out = fs.create(new Path(root, s"gen-$gen/data"), false)
    try out.write(s"gen $gen".getBytes(UTF_8)) finally out.close()
    gen
  }

  private def failingCreate(name: String)(body: => Unit): Unit = {
    FailingLatestFileSystem.failCreate = _.getName == name
    try {
      val e = intercept[java.io.IOException](body)
      assert(e.getMessage.startsWith("injected failure"), e.getMessage)
    } finally FailingLatestFileSystem.armed = false
  }

  private def current(root: Path): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(root.toUri.getPath, "CURRENT")), UTF_8)

  test("a commit that dies creating COMMITTED leaves the previous generation live") {
    withStore("graft-gen-marker") { (dest, fs, root) =>
      val g1 = build(fs, root)
      Generations.commit(fs, root, g1)
      val g2 = build(fs, root)
      failingCreate("COMMITTED")(Generations.commit(fs, root, g2))
      assert(!fs.exists(new Path(root, s"gen-$g2/COMMITTED")))
      assert(Generations.resolve(spark, dest) === s"$dest/gen-$g1")
      assert(current(root) === s"gen-$g1")

      val g3 = build(fs, root)
      assert(g3 === g2 + 1, "the carcass's number was reused")
      Generations.commit(fs, root, g3)
      Generations.gc(fs, root, g3, keep = 2)
      assert(Generations.resolve(spark, dest) === s"$dest/gen-$g3")
      assert(current(root) === s"gen-$g3")
      assert(Generations.genNumbers(fs, root).sorted === Seq(g1, g3), "the carcass was not swept")
    }
  }

  test("a commit that dies creating CURRENT.tmp-N after COMMITTED leaves the new generation live") {
    withStore("graft-gen-pointer") { (dest, fs, root) =>
      val g1 = build(fs, root)
      Generations.commit(fs, root, g1)
      val g2 = build(fs, root)
      failingCreate(s"CURRENT.tmp-$g2")(Generations.commit(fs, root, g2))
      assert(fs.exists(new Path(root, s"gen-$g2/COMMITTED")))
      assert(current(root) === s"gen-$g1", "the pointer swing should not have happened")
      assert(Generations.resolve(spark, dest) === s"$dest/gen-$g2")

      val g3 = build(fs, root)
      Generations.commit(fs, root, g3)
      Generations.gc(fs, root, g3, keep = 1)
      assert(Generations.resolve(spark, dest) === s"$dest/gen-$g3")
      assert(current(root) === s"gen-$g3")
      assert(Generations.genNumbers(fs, root) === Seq(g3))
      assert(!fs.exists(new Path(root, s"CURRENT.tmp-$g2")))
    }
  }
}
