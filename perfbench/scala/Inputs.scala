package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. Every value is a pure function of (seed, row id)
 * through `xxhash64` over `spark.range`, so one seed always yields the same
 * bytes and nothing is read from outside the process.
 */
object Inputs {
  /** The word list of the test corpora's `documents.text`. */
  val Vocab: Seq[String] = Seq("a", "the", "data", "spark", "stream", "batch",
    "scan", "sort", "hash", "join", "merge", "group", "agg", "filter", "query",
    "table", "row", "column", "key", "value", "window", "vector", "order",
    "customer", "part", "line", "fast", "slow", "big", "small")

  private val vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")

  private def hash(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, k). */
  private def uniform(seed: Long, salt: String, k: Long, cols: Column*): Column =
    pmod(hash(seed, salt, cols: _*), lit(k))

  /** `n` words (n an integer column or SQL expression), drawn per row. */
  private def words(seed: Long, salt: String, idCol: String, n: String): Column =
    expr(s"array_join(transform(sequence(1, $n), i -> element_at($vocabSql, " +
      s"cast(pmod(xxhash64(${seed}L, '$salt', $idCol, i), ${Vocab.size}) as int) + 1)), ' ')")

  // ---- es_build: NDJSON events ------------------------------------------

  /** Files of the generated NDJSON input. */
  val NdjsonFiles = 8

  /**
   * `n` NDJSON lines: most about 270 bytes, one in a hundred 2-4 KB (a long
   * `text`), and one in a thousand without the `doc_id` field (the
   * malformed share the ingest layer must count and drop). Columns:
   * `value` (the line) and `bad` (true where the id is missing).
   */
  def ndjson(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val longText = uniform(seed, "tail", 100, id) === 0
    val nWords = when(longText, uniform(seed, "tailwords", 400, id) + 350)
      .otherwise(uniform(seed, "words", 16, id) + 22)
    val bad = uniform(seed, "bad", 1000, id) === 0
    spark.range(0, n, 1, NdjsonFiles)
      .withColumn("nw", nWords.cast("int"))
      .select(bad.as("bad"), concat(
        lit("{\""), when(bad, lit("ref")).otherwise(lit("doc_id")), lit("\":\""),
        lower(hex(hash(seed, "docid", id))), lit("-"), id.cast("string"),
        lit("\",\"ts\":"), (uniform(seed, "ts", 1000000000L, id) + 1600000000000L).cast("string"),
        lit(",\"user\":"), uniform(seed, "user", 100000, id).cast("string"),
        lit(",\"kind\":\""), element_at(expr(vocabSql),
          (uniform(seed, "kind", 8, id) + 1).cast("int")),
        lit("\",\"score\":"), (uniform(seed, "score", 100000, id) / 1000.0).cast("string"),
        lit(",\"text\":\""), words(seed, "text", "id", "nw"), lit("\"}")).as("value"))
  }

  // ---- es_append_restore: columnar generations --------------------------

  /** Generation `g` of `perGen` small columnar docs with ids disjoint from
    * every other generation. */
  def generation(spark: SparkSession, seed: Long, g: Int, perGen: Long): DataFrame = {
    val id = col("id")
    spark.range(g * perGen, (g + 1) * perGen, 1, 4).select(
      id,
      uniform(seed, "user", 100000, id).as("user"),
      element_at(expr(vocabSql), (uniform(seed, "kind", 8, id) + 1).cast("int")).as("kind"),
      (uniform(seed, "score", 100000, id) / 1000.0).as("score"),
      (uniform(seed, "ts", 1000000000L, id) + 1600000000000L).as("ts"))
  }

  // ---- ops_mix: the tables its queries read ------------------------------

  /** Fixed, so the expected query outputs in `expected/ops_mix.json` hold. */
  val OpsSeed = 42L

  /** Row counts of the generated ops_mix tables. */
  val OpsRows: Map[String, Long] = Map("lineitem" -> 24000L, "documents" -> 400L,
    "embeddings" -> 200L)
  private val Orders = 6000L
  private val Parts = 800L
  private val Suppliers = 50L

  /** The ops_mix tables with the test data's names and column types. */
  def opsTables(spark: SparkSession): Map[String, DataFrame] = {
    val s = OpsSeed
    val id = col("id")
    def rows(t: String): DataFrame = spark.range(0, OpsRows(t), 1, 4).toDF()
    def money(salt: String, max: Long): Column =
      round(uniform(s, salt, max * 100, id) / 100.0, 2)
    def pick(salt: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (uniform(s, salt, values.size, id) + 1).cast("int"))
    def ts(salt: String): Column =
      timestamp_millis(uniform(s, salt, 2L * 365 * 86400000L, id) + 694224000000L)
    val lineitem = rows("lineitem").select(
      uniform(s, "lorder", Orders, id).as("l_orderkey"),
      uniform(s, "lpart", Parts, id).as("l_partkey"),
      uniform(s, "lsupp", Suppliers, id).as("l_suppkey"),
      (uniform(s, "lline", 7, id) + 1).cast("int").as("l_linenumber"),
      (uniform(s, "lqty", 50, id) + 1).cast("double").as("l_quantity"),
      (money("lprice", 100000) + 900.0).as("l_extendedprice"),
      (uniform(s, "ldisc", 11, id) / 100.0).as("l_discount"),
      (uniform(s, "ltax", 9, id) / 100.0).as("l_tax"),
      pick("lflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick("lstatus", Seq("F", "O")).as("l_linestatus"),
      ts("lship").as("l_shipdate"))
    val documents = rows("documents")
      .withColumn("nw", (uniform(s, "dwords", 50, id) + 12).cast("int"))
      .select(id.as("doc_id"), words(s, "dtext", "id", "nw").as("text"),
        pick("lang", Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), (id % 4).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val embeddings = rows("embeddings").select(id.as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> " +
        s"cast(pmod(xxhash64(${s}L, 'emb', id, i), 1000) / 1000.0 - 0.5 as float))")
        .as("embedding"),
      uniform(s, "label", 4, id).cast("int").as("label"))
    Map("lineitem" -> lineitem, "documents" -> documents, "embeddings" -> embeddings)
  }
}
