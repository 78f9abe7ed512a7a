package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.IndexableDoc
import graft.functions.{EsHash, Json}

/**
 * Ingest surface of the engine — the reference's scan-side operators
 * re-expressed on the DataFrame reader (SURVEY.md §2.1 S1/S2/S4, §2.2 P1-P5).
 *
 * Design: like the reference (which keeps every payload as an opaque JSON
 * string end-to-end, reference: src/main/java/com/simondata/example/
 * IndexingMapperImpl.java:48-58), [[ndjsonRaw]] preserves the raw line so
 * the sink writes byte-exact payloads; only the document id is ever parsed
 * out, by one byte-level scan per row ([[graft.functions.Json.docId]],
 * exactly `get_json_object`'s answer) whose result every later column
 * reads (see [[Ingest.toIndexable]]).
 */
object Ingest {

  /**
   * S1+S2: newline-delimited JSON scan over one or more paths/globs
   * (implicit UNION ALL, reference: IndexingJob.java:130-133). With a schema
   * the scan prunes columns; without, Spark infers (extra pass — avoid at
   * scale).
   */
  def ndjson(spark: SparkSession, paths: Seq[String], schema: Option[StructType] = None): DataFrame = {
    val reader = spark.read
    schema.foreach(reader.schema)
    reader.json(paths: _*)
  }

  /**
   * Raw-preserving NDJSON scan: one `json` string column per input line.
   * This is the fidelity-preserving path the reference uses (payload is
   * never re-serialized until the sink).
   */
  def ndjsonRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*).select(col("value").as("json"))

  /** S4: small config file (ES mappings/template JSON) read to a driver-side
    * string via the same FS abstraction Spark uses (works for file/hdfs/s3a). */
  def readConfigFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /**
   * P1+P2+P4: doc-id extraction, malformed-record policy, and typed-
   * envelope construction (replaces the reference's `index|docId|json`
   * string packing, IndexingMapperImpl.java:55-57, with real columns — no
   * split/re-join, Tungsten handles layout).
   *
   * Malformed-record policy: the reference FAILS the task on an
   * unparseable payload (BaseESReducer.java:284-293 throws); `failFast =
   * true` reproduces that (task dies with an INDEXING_DOC_FAIL message
   * naming the payload). The default is permissive (drop the row) — pair
   * it with [[toIndexableObserved]] so drops are counted, never silent.
   *
   * @param jsonCol     column holding the raw JSON document
   * @param docIdField  top-level JSON field with the document id
   *                    (reference: README.md:44-45)
   * @param failFast    true → any row without an extractable doc id kills
   *                    the job (the reference's behavior)
   *
   * Without [[toIndexableObserved]]'s metrics node, Catalyst may push the
   * null filter below the parse and evaluate the id more than once per row;
   * hot paths use the observed form.
   */
  def toIndexable(df: DataFrame, indexName: String, docIdField: String,
                  numShards: Int, jsonCol: String = "json",
                  failFast: Boolean = false): Dataset[IndexableDoc] =
    envelope(df, indexName, docIdField, numShards, jsonCol, failFast, None)

  /**
   * [[toIndexable]] plus the reference's job counters
   * (BaseESReducer.java:60-62): returns the envelope stream and an
   * [[Observation]] that, after the first action on the stream, yields
   * `input_docs` and `rejected_docs` (rows dropped for a missing doc id —
   * the INDEXING_DOC_FAIL count). Metrics ride the same pass as the scan
   * (a `CollectMetrics` node, no extra job).
   */
  def toIndexableObserved(df: DataFrame, indexName: String, docIdField: String,
                          numShards: Int, jsonCol: String = "json",
                          failFast: Boolean = false)
  : (Dataset[IndexableDoc], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(
      s"graft_ingest_${java.util.UUID.randomUUID()}")
    (envelope(df, indexName, docIdField, numShards, jsonCol, failFast, Some(obs)), obs)
  }

  /**
   * The one body behind [[toIndexable]] and [[toIndexableObserved]]: the id
   * is parsed once, in a projection of (`docId`, `json`), and the counters,
   * the null filter and the routing columns all read that `docId` column.
   * The parse is [[graft.functions.Json.docId]]: a byte-level scan of the
   * line that returns what `get_json_object(json, '$.<docIdField>')` would,
   * and hands any line outside its strict JSON subset to Spark's parser.
   * With an observation, its `CollectMetrics` node also keeps the filter
   * above the parse: Catalyst cannot push a predicate through it, so it
   * never re-inlines the parse into the filter.
   */
  private def envelope(df: DataFrame, indexName: String, docIdField: String,
                       numShards: Int, jsonCol: String, failFast: Boolean,
                       obs: Option[org.apache.spark.sql.Observation])
  : Dataset[IndexableDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    val json = col(jsonCol)
    val extracted = Json.docId(json, docIdField)
    val docId =
      if (failFast)
        coalesce(extracted, raise_error(concat(
          lit(s"INDEXING_DOC_FAIL: no '$docIdField' in document: "),
          coalesce(json, lit("<null>")))))
      else extracted
    val parsed = df.select(docId.as("docId"), json.as("json"))
    val valid = col("docId").isNotNull && col("json").isNotNull // P4
    val observed = obs.fold(parsed)(o => parsed.observe(o,
      count(lit(1)).as("input_docs"),
      count_if(!valid).as("rejected_docs")))
    observed.filter(valid)
      .select(
        lit(indexName).as("index"),
        col("docId"),
        EsHash.esRouting(col("docId"), numShards).as("routing"),
        EsHash.esShard(col("docId"), numShards).as("shard"),
        col("json"))
      .as[IndexableDoc]
  }

  /** Envelope for already-columnar data: any DataFrame + an id column
    * becomes an indexable stream, serializing the row to JSON once. */
  def fromColumns(df: DataFrame, indexName: String, docIdCol: String,
                  numShards: Int): Dataset[IndexableDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    val docId = col(docIdCol).cast("string")
    df.select(
        lit(indexName).as("index"),
        docId.as("docId"),
        EsHash.esRouting(docId, numShards).as("routing"),
        EsHash.esShard(docId, numShards).as("shard"),
        to_json(struct(df.columns.map(col): _*)).as("json"))
      .filter(col("docId").isNotNull)
      .as[IndexableDoc]
  }
}
