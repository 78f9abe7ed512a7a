package graft.jobs

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.EsSnapshot

class EsIndexJobSpec extends SparkSpec {

  test("CLI arg surface parses like the reference (pipe-separated inputs)") {
    val a = EsIndexJob.parse(Array("/a/*.json|/b/part-*", "s3a://bucket/snap/",
      "customers", "customer_id", "5", "nightly"))
    assert(a.inputPaths === Seq("/a/*.json", "/b/part-*"))
    assert(a.dest === "s3a://bucket/snap") // trailing slash stripped
    assert(a.numShards === 5)
    assert(a.snapshotName === Some("nightly"))
    assert(a.mappings === None)
  }

  test("job runs end-to-end: NDJSON → snapshot → manifest count") {
    withTempDir("graft-job") { dir =>
      val srcDir = Files.createDirectory(dir.resolve("src"))
      val lines = (0 until 50).map(i => s"""{"cid":"doc-$i","v":$i}""")
      Files.writeString(srcDir.resolve("in.json"), lines.mkString("\n"))
      // config files live OUTSIDE the input dir — the whole srcDir is scanned
      // as NDJSON, and a mappings file inside it would be counted (and
      // rejected) as a docless input line
      val confDir = Files.createDirectory(dir.resolve("conf"))
      val mappingsFile = confDir.resolve("mappings.json")
      Files.writeString(mappingsFile, """{"properties":{"v":{"type":"long"}}}""")
      val dest = dir.resolve("snap").toString

      val args = EsIndexJob.parse(Array(srcDir.toString, dest, "docs", "cid", "4",
        "job_snap", mappingsFile.toString))
      val populated = EsIndexJob.run(spark, args)
      assert(populated > 0 && populated <= 4)
      assert(EsSnapshot.readTable(spark, dest).count() === 50)
      // mappings file content passed through to index metadata
      val metaDir = java.nio.file.Paths.get(dest, "indices",
        graft.sinks.essnapshot.SnapshotLayout.indexId("docs"))
      val meta = Files.list(metaDir).iterator()
      val metaFile = Iterator.continually(meta).takeWhile(_.hasNext)
        .map(_.next()).find(_.getFileName.toString.startsWith("meta-")).get
      // index meta is the ES 5.x IndexMetaData tree: the index name keys
      // the object, and the mappings file lands PARSED under "mappings"
      val metaTree = graft.sinks.essnapshot.Smile.read(graft.sinks.essnapshot
        .SnapshotLayout.datSmileBody(Files.readAllBytes(metaFile)))
      locally {
        import graft.sinks.essnapshot.Smile
        val im = Smile.field(metaTree, "docs").get
        val mapped = Smile.arr(im, "mappings").head
        val vField = Smile.field(Smile.field(mapped, "properties").get, "v").get
        assert(Smile.str(vField, "type").contains("long"))
      }
      // ingest counters committed next to the snapshot (INDEXING_DOC_FAIL)
      val ingest = Files.readString(java.nio.file.Paths.get(dest, "_INGEST.json"))
      assert(ingest.contains("\"input_docs\":50"))
      assert(ingest.contains("\"rejected_docs\":0"))
      assert(ingest.contains("permissive"))
    }
  }

  test("no populated shard: run returns 0 and the manifest reads back empty") {
    // every line lacks the id field (all rejected), or there is no line
    val inputs = Seq((0 until 20).map(i => s"""{"v":$i}"""), Seq.empty[String])
    for (lines <- inputs) withTempDir("graft-job-unpopulated") { dir =>
      val src = Files.createDirectory(dir.resolve("src"))
      Files.writeString(src.resolve("in.json"), lines.mkString("\n"))
      val dest = dir.resolve("snap").toString
      val args = EsIndexJob.parse(Array(src.toString, dest, "docs", "cid", "4"))
      assert(EsIndexJob.run(spark, args) === 0L)
      // an empty manifest, not one blank line that splits into one field
      assert(EsSnapshot.readManifest(spark, dest).collect().isEmpty)
      val ingest = Files.readString(java.nio.file.Paths.get(dest, "_INGEST.json"))
      assert(ingest.contains(s""""input_docs":${lines.size}"""), ingest)
      assert(ingest.contains(s""""rejected_docs":${lines.size}"""), ingest)
    }
  }
}
