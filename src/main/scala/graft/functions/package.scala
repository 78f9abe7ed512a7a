package graft

import org.apache.spark.sql.Column

/** Public column-function surface of the engine. */
package object functions {
  /** ES 5.x routing-hash functions (see org.apache.spark.sql.graft). */
  object EsHash {
    def esMurmur3(c: Column): Column =
      org.apache.spark.sql.graft.EsHashFunctions.esMurmur3(c)
    def esShard(c: Column, numShards: Int): Column =
      org.apache.spark.sql.graft.EsHashFunctions.esShard(c, numShards)
    def esRouting(c: Column, numShards: Int): Column =
      org.apache.spark.sql.graft.EsHashFunctions.esRouting(c, numShards)
  }

  /** JSON field extraction (see org.apache.spark.sql.graft.JsonDocId). */
  object Json {
    /** `get_json_object(json, "$.<field>")`: a byte-level scan of the line
      * for a plain top-level field name, with Spark's parser as the exact
      * fallback; any other path goes to `get_json_object` itself. */
    def docId(json: Column, field: String): Column =
      org.apache.spark.sql.graft.JsonDocIdFunctions.docId(json, field)
  }

  /** Text-sketch expressions (see org.apache.spark.sql.graft.TextSketches). */
  object Text {
    /** MinHash signature: Array[Long] of `numHashes` minimums over
      * char-`shingleSize`-gram hashes; single codegen'd pass. */
    def minhashSig(c: Column, numHashes: Int, shingleSize: Int): Column =
      org.apache.spark.sql.graft.TextSketchFunctions.minhashSig(c, numHashes, shingleSize)
    /** 64-bit SimHash over whitespace tokens. */
    def simhash64(c: Column): Column =
      org.apache.spark.sql.graft.TextSketchFunctions.simhash64(c)
    /** Count of agreeing positions between two minhash signatures. */
    def sigAgree(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.TextSketchFunctions.sigAgree(a, b)
    /** Single-pass text stats: [chars, tokens, alpha, punct, hits per
      * stopword set...] as array<long>. */
    def textStats(c: Column, stopwordSets: Seq[Seq[String]]): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.textStats(c, stopwordSets)
    /** Single-pass sorted-distinct-lowercased-token canonical string. */
    def canonicalTokens(c: Column): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.canonicalTokens(c)
    /** Single-pass lowercase word n-grams (array<string>). */
    def wordNgrams(c: Column, n: Int): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.wordNgrams(c, n)
    /** Single-pass lowercase skip-gram "center context" pairs for
      * offsets ±1..±window (array<string>). */
    def wordSkipgrams(c: Column, window: Int): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.wordSkipgrams(c, window)
    /** Single-pass word n-gram repetition stats:
      * [ntok, total_grams, max_gram_count, dup_gram_occurrences]. */
    def repetitionStats(c: Column, n: Int): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.repetitionStats(c, n)
    /** Single-pass character-level Shannon entropy (bits/char). */
    def charEntropy(c: Column): Column =
      org.apache.spark.sql.graft.TextStatsFunctions.charEntropy(c)
  }

  /** Data-layout expressions. */
  object Layout {
    /** Morton interleave of two low-31-bit values — sort/range-partition
      * by this to co-cluster both dimensions for min/max pruning. */
    def zorder62(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.ZOrderFunctions.zorder62(a, b)
    /** Three-way Morton interleave (21 bits per dimension). */
    def zorder63(a: Column, b: Column, c: Column): Column =
      org.apache.spark.sql.graft.ZOrderFunctions.zorder63(a, b, c)
  }

  /** Serialized-sketch probes (see org.apache.spark.sql.graft.SketchProbe):
    * the map-side gate of the sketch-then-exact operators in
    * [[graft.operators.Sketches]]. The sketch bytes travel inside the
    * expression (plan-shipped to every task, deserialized once per
    * executor); both probes stay inside whole-stage codegen. */
  object Sketch {
    /** True iff the count-min sketch's (over-)estimate of `c` ≥ minCount —
      * CMS never undercounts, so `false` PROVES the true count is below. */
    def cmsGe(c: Column, sketchBytes: Array[Byte], minCount: Long): Column =
      org.apache.spark.sql.graft.SketchProbeFunctions.cmsGe(c, sketchBytes, minCount)
    /** Bloom membership probe — no false negatives, `fpp` false positives. */
    def bloomContains(c: Column, filterBytes: Array[Byte]): Column =
      org.apache.spark.sql.graft.SketchProbeFunctions.bloomContains(c, filterBytes)
  }

  /** Vector-sketch expressions (see org.apache.spark.sql.graft.VectorSketch). */
  object Vectors {
    /** Random-hyperplane LSH signature (≤64 bits) of an array<float> column. */
    def hyperplaneSig(c: Column, numPlanes: Int, seed: Long): Column =
      org.apache.spark.sql.graft.VectorSketchFunctions.hyperplaneSig(c, numPlanes, seed)
    /** Native codegen'd cosine similarity between two array<float> columns. */
    def cosineSim(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.VectorSketchFunctions.cosineSim(a, b)
    /** Native codegen'd centered projection Σ (x_i − μ_i)·v_i against
      * plan-constant center/direction arrays (PCA scores). */
    def centeredDot(c: Column, mu: Array[Double], dir: Array[Double]): Column =
      org.apache.spark.sql.graft.VectorSketchFunctions.centeredDot(c, mu, dir)
  }
}
