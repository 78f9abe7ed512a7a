package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.GetJsonObject
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.graft.JsonDocId
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.core.EsMurmur3
import graft.functions.JsonDocIdProperties

class IngestSpec extends SparkSpec {

  /** Writes `lines` as one NDJSON file in a temp dir, runs `f` on its path
    * and deletes the dir after. */
  private def withNdjson[T](lines: Seq[String])(f: String => T): T =
    withTempDir("graft-ndjson") { dir =>
      val file = dir.resolve("part-0.json")
      Files.writeString(file, lines.mkString("\n"))
      f(file.toString)
    }

  /** Doc-id parses (`json_doc_id` or `get_json_object` nodes) in the
    * physical plan `ds` would run. */
  private def jsonParses(ds: Dataset[_]): Int =
    ds.queryExecution.executedPlan.collect { case node =>
      node.expressions.map(_.collect {
        case g: GetJsonObject => g
        case d: JsonDocId => d
      }.size).sum
    }.sum

  test("ndjsonRaw preserves lines byte-exactly; toIndexable extracts id/shard/routing") {
    val lines = Seq(
      """{"id":"a|b","v":1}""", // literal pipe in payload (reference P3 case)
      """{"id":"x","v":2}""",
      """{"v":3}""",           // no id → filtered (P4)
      """{"id":"y","nested":{"k":[1,2]}}""")
    withNdjson(lines) { path =>
      val raw = Ingest.ndjsonRaw(spark, Seq(path))
      assert(raw.collect().map(_.getString(0)).toSet === lines.toSet)

      val docs = Ingest.toIndexable(raw, "myidx", "id", 5).collect()
      assert(docs.length === 3) // null-id row dropped
      val byId = docs.map(d => d.docId -> d).toMap
      assert(byId.keySet === Set("a|b", "x", "y"))
      docs.foreach { d =>
        assert(d.index === "myidx")
        assert(d.shard === EsMurmur3.shard(d.docId, 5))
        assert(d.routing === EsMurmur3.hash(d.shard.toString).toString)
      }
      // payload survives untouched, pipes and all
      assert(byId("a|b").json === """{"id":"a|b","v":1}""")
    }
  }

  test("multi-path scan is an implicit UNION ALL (S2)") {
    withNdjson(Seq("""{"id":"1"}""", """{"id":"2"}""")) { p1 =>
      withNdjson(Seq("""{"id":"3"}""")) { p2 =>
        assert(Ingest.ndjsonRaw(spark, Seq(p1, p2)).count() === 3)
        assert(Ingest.ndjson(spark, Seq(p1, p2)).count() === 3)
      }
    }
  }

  test("failFast mode dies on a missing doc id (reference INDEXING_DOC_FAIL)") {
    withNdjson(Seq("""{"id":"ok"}""", """{"v":3}""")) { path =>
      val raw = Ingest.ndjsonRaw(spark, Seq(path))
      val plain = intercept[Exception] {
        Ingest.toIndexable(raw, "idx", "id", 5, failFast = true).collect()
      }
      val observed = intercept[Exception] {
        Ingest.toIndexableObserved(raw, "idx", "id", 5, failFast = true)._1.collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      // the message names the failure and carries the offending payload
      for (ex <- Seq(plain, observed))
        assert(messages(ex).exists(m =>
          m.contains("INDEXING_DOC_FAIL") && m.contains("""{"v":3}""")))
      // permissive default on the same input: row dropped, job survives
      assert(Ingest.toIndexable(raw, "idx", "id", 5).count() === 1)
    }
  }

  test("toIndexableObserved counts input and rejected docs") {
    val lines = Seq(
      """{"id":"a","v":1}""",
      """{"v":2}""",           // missing id
      """{"id":null,"v":3}""", // null id
      "",                      // empty line (mid-file: a trailing one is no row)
      """{"id":7,"v":4}""")    // numeric id → "7"
    withNdjson(lines) { path =>
      val raw = Ingest.ndjsonRaw(spark, Seq(path))
      val (docs, obs) = Ingest.toIndexableObserved(raw, "idx", "id", 5)
      // one parse feeds the counters, the null filter and the routing
      assert(jsonParses(docs) === 1)
      assert(jsonParses(
        Ingest.toIndexableObserved(raw, "idx", "id", 5, failFast = true)._1) === 1)
      val out = docs.collect()
      assert(out.map(_.docId).toSet === Set("a", "7"))
      assert(out.forall(d => d.shard === EsMurmur3.shard(d.docId, 5)))
      val m = obs.get
      assert(m("input_docs") === 5L)
      assert(m("rejected_docs") === 3L)
    }
  }

  test("both toIndexable modes reject exactly the lines get_json_object rejects") {
    import spark.implicits._
    // generated lines of every kind the equivalence property covers; they
    // travel as bytes, as a Java string would replace invalid UTF-8
    val lines = Gen.listOfN(600, JsonDocIdProperties.line)
      .pureApply(Gen.Parameters.default, Seed(7L))
    def frame(ls: Seq[Array[Byte]]) = ls.toDF("b").select(col("b").cast("string").as("json"))
    val raw = frame(lines)
    val parsed = raw.select(col("json").cast("binary"), get_json_object(col("json"), "$.doc_id"))
      .collect().map(r => (r.getAs[Array[Byte]](0), Option(r.getString(1))))
    val (accepted, rejected) = parsed.partition(_._2.isDefined)
    assert(accepted.nonEmpty && rejected.nonEmpty)
    val wantIds = accepted.flatMap(_._2).sorted.toSeq

    val (docs, obs) = Ingest.toIndexableObserved(raw, "idx", "doc_id", 5)
    assert(docs.collect().map(_.docId).sorted.toSeq === wantIds)
    assert(obs.get("input_docs") === lines.length.toLong)
    assert(obs.get("rejected_docs") === rejected.length.toLong)
    assert(Ingest.toIndexable(raw, "idx", "doc_id", 5).collect().map(_.docId).sorted.toSeq
      === wantIds)

    // failFast: the accepted lines pass; each rejected line dies naming itself
    assert(Ingest.toIndexable(frame(accepted.map(_._1).toSeq), "idx", "doc_id", 5,
      failFast = true).collect().map(_.docId).sorted.toSeq === wantIds)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for (line <- rejected.map(_._1).sortBy(_.length).take(8)) {
      val ex = intercept[Exception] {
        Ingest.toIndexableObserved(frame(Seq(line)), "idx", "doc_id", 5, failFast = true)
          ._1.collect()
      }
      assert(messages(ex).exists(_.contains(
        "INDEXING_DOC_FAIL: no 'doc_id' in document: " + new String(line, "UTF-8"))),
        JsonDocIdProperties.show(line))
    }
  }

  test("readConfigFile round-trips a config blob (S4)") {
    withTempDir("graft-conf") { dir =>
      val f = dir.resolve("mappings.json")
      val body = """{"mappings":{"doc":{"properties":{}}}}"""
      Files.writeString(f, body)
      assert(Ingest.readConfigFile(spark, f.toString) === body)
    }
  }
}
