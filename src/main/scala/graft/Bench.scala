package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query subset for local
    // iteration (the driver never sets it — full suite by default); a
    // typo'd name fails before the session starts, instead of timing a
    // quietly smaller subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.select(only.getOrElse(SparkEntry.queries.keys))
    require(selected.nonEmpty, "SPARK_GRAFT_BENCH_ONLY names no query")
    val spark = LocalSession()
    LocalSession.warm(spark, sfDir)
    // MIN over `repeats` FULL passes of the suite (not back-to-back
    // repeats of one query) is the HEADLINE semantics (r12+, per the
    // r11 verdict): environment noise arrives in multi-second bursts
    // that only ever ADD time, so the min of interleaved passes —
    // samples minutes apart, a burst can poison at most one — is the
    // best estimate of what the engine actually costs; the r11 median
    // total overstated it ~18% even AFTER adaptive reruns. First pass
    // also pays codegen/class-load warmup (another reason min, not
    // mean). The MEDIAN and per-query SPREAD (max - min across passes)
    // still ship in the artifact, so a round-over-round comparison can
    // tell a real regression (min moved, spread tight) from session
    // noise (spread as wide as the delta) WITHOUT a separate re-run
    // session — the bench stays self-attributing.
    // MemoryStream parity drives are correctness gates whose runtime is
    // driver-side replay machinery (per-micro-batch replanning + state
    // rounds), not engine throughput — the engine operators they gate are
    // benched via q_sessionize / q_stream_windowed / dedup_minhash. Timing
    // them here would only add fixed replay overhead to the total.
    val parityDrives = Set("q_sessionize_stream", "q_stream_neardup",
      "q_stream_join", "q_stream_snapshot", "q_stream_perplexity",
      "q_stream_heavy", "q_stream_transitions", "q_stream_changepoint",
      "q_stream_ewma", "q_stream_drift", "q_stream_cusum",
      "q_stream_srm", "q_stream_msprt")
    val names = selected.filterNot { case (n, _) => parityDrives.contains(n) }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val crashed = scala.collection.mutable.Set.empty[String]
    def timeOne(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      // Full-plan evaluation, NOT `.count()`: count() lets Catalyst
      // eliminate unique-keyed left joins and final projections, so a
      // query ending in a scoring join times near-zero (caught on
      // text_perplexity: 0.2 s counted vs 17 s evaluated at 320k docs).
      // toRdd iterates the plan compiled for ALL output columns —
      // everything the query claims to produce is actually computed —
      // without collect()'s driver-side materialization.
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      LocalSession.dropCaches(spark)
      // a FAILED query must not report its time-to-crash as a valid
      // sample (a regression would SHRINK the total); the failure is
      // sticky and surfaces as -1 in the per-query map
      if (!ok) crashed += name
      else samples(name) = dt :: samples.getOrElse(name, Nil)
    }
    for (_ <- 1 to repeats; (name, fn) <- names) timeOne(name, fn)
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // ADAPTIVE RE-RUNS (bounded): a pass-to-pass spread LARGER than the
    // median means the median itself is noise-dominated — round 10 had
    // 12 queries move >1.3× on median purely from spread (q_hits:
    // spread 46.8 s on a ~6 s query). Those queries get `extraPasses`
    // more interleaved samples so the median is taken over 5, which
    // discards two bursts instead of one. Bounded: only queries whose
    // median exceeds 0.5 s (sub-second cells can't move the total),
    // worst 12 by spread, 2 extra passes — worst case adds ~2× the sum
    // of the unstable medians, a small fraction of suite time.
    val extraPasses = 2
    val unstable = names.filter { case (n, _) =>
      !crashed(n) && samples.get(n).exists { xs =>
        val m = median(xs)
        xs.nonEmpty && (xs.max - xs.min) > m && m > 0.5
      }
    }.sortBy { case (n, _) => -(samples(n).max - samples(n).min) }.take(12)
    for (_ <- 1 to extraPasses; (name, fn) <- unstable) timeOne(name, fn)
    val rerunNames = unstable.map(_._1)
    // STREAMING drives: correctness-gated elsewhere (parity joins), but
    // timed HERE in a separate block excluded from the total/ratio, so a
    // state-machine regression in the streaming operators is
    // bench-visible round-over-round. Each drive replays a cohort
    // through MemoryStream micro-batches and returns the oracle-joined
    // parity frame; rows/sec = parity rows over end-to-end drive wall
    // (replay machinery INCLUDED — fixed per-micro-batch replanning
    // overhead is part of what a regression would move, and the block
    // is ratio-excluded precisely because that overhead is not engine
    // throughput). min across interleaved passes + spread, the headline
    // semantics.
    val streamPasses = 2
    val streamSamples =
      scala.collection.mutable.Map.empty[String, List[(Double, Long)]]
    val streamNames = selected.map(_._1).filter(parityDrives.contains)
    for (_ <- 1 to streamPasses; name <- streamNames) {
      val t0 = System.nanoTime()
      // most drives return ONE (n_stream, n_batch, n_matched) parity
      // row — n_stream is the streamed-row count the throughput is
      // over; drives with a different shape fall back to result count
      val rows =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (df.columns.contains("n_stream"))
            df.select("n_stream").head().getLong(0)
          else df.count()
        } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      LocalSession.dropCaches(spark)
      if (rows >= 0)
        streamSamples(name) = (dt, rows) :: streamSamples.getOrElse(name, Nil)
    }
    // per-query: MIN across passes (the headline value every total/ratio
    // uses, r12+), median (the r9-r11 headline, kept for cross-round
    // reads) and spread = max - min (the noise band those passes saw)
    val results = names.map { case (name, _) =>
      val xs = if (crashed(name)) Nil else samples.getOrElse(name, Nil)
      name -> (if (xs.isEmpty) -1.0 else xs.min)
    }
    val medians = names.map { case (name, _) =>
      val xs = if (crashed(name)) Nil else samples.getOrElse(name, Nil)
      name -> (if (xs.isEmpty) -1.0 else median(xs))
    }
    val spreads = names.map { case (name, _) =>
      val xs = if (crashed(name)) Nil else samples.getOrElse(name, Nil)
      name -> (if (xs.isEmpty) -1.0 else xs.max - xs.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val spreadJson = spreads.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val medianJson = medians.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val minTotal = results.map(_._2).filter(_ >= 0).sum
    val medianTotal = medians.map(_._2).filter(_ >= 0).sum // -1 failure markers excluded
    val total = minTotal // the headline
    // Cross-engine anchor: BASELINE_LOCAL.json is the DuckDB oracle-suite
    // total over the SAME sf parquet (tools/oracle_bench.py; BASELINE.md
    // §BASELINE_LOCAL). Emitting the ratio into the bench artifact makes
    // the round-over-round trend machine-checkable — a rising ratio on an
    // unchanged query set is the real regression signal even when both
    // absolute totals drift with the machine. Only emitted when the
    // anchor was measured at the sf this run benched.
    // Regexes are ANCHORED to the artifact's identifying prefix — a
    // bare first-"value" match would silently bind to a per-query time
    // if the JSON were reordered or extended — and the whole read is
    // Try-wrapped so a malformed/unreadable anchor file degrades to
    // no anchor fields instead of killing the bench emit.
    val anchorFields = scala.util.Try {
      val p = java.nio.file.Paths.get("BASELINE_LOCAL.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = java.nio.file.Files.readString(p)
        val v =
          """"metric"\s*:\s*"duckdb_oracle_total"\s*,\s*"value"\s*:\s*([0-9.]+)""".r
            .findFirstMatchIn(txt).map(_.group(1).toDouble)
        val sfMatch = """"sf"\s*:\s*"([^"]+)"\s*,\s*"queries"""".r
          .findFirstMatchIn(txt).exists(_.group(1) == sfDir)
        def r2(x: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, x)
        // ratio = best-pass (min) based — SAME semantics as the headline
        // value and as ratio_series, so the one-field discipline holds:
        // every ratio in this artifact means one thing. ratio_median is
        // the r9-r11 headline semantics, kept for cross-round reads.
        // ratio_series: THE canonical cross-round trend — per-query
        // best-pass (min) totals over each round's benchable surface
        // divided by the SAME-round committed DuckDB anchor. History
        // pinned from the committed artifacts/verdicts (r7: 94.82/14.72
        // over 99 queries; r8: 100.39/17.30 over 107; r9: 160.77/28.18
        // over 173; r10: 167.35/28.18 over 173; r11: 236.2/42.19 over
        // 218 — per-query values in r7/r8 WERE min; see BASELINE.md
        // §ratio-series); "now" is this run appended on the same
        // semantics.
        // r12 pins the ROUND-CLOSE committed value (253.87/56.41 over
        // 228; BASELINE.md §ratio-series) — the driver's post-close
        // regen read 3.81 on the same code, recorded there as the
        // session-noise band, not the series point
        // r13 pins the committed close 286.73/68.23 over 277 (4.20;
        // BASELINE.md:69). r14's committed print (4.54) divided a
        // 296-query spark total by that stale 277-query anchor — the
        // like-for-like value netting the 19 new queries out is 4.23
        // (VERDICT r14), pinned here as the series point.
        // r15 pins the definitive close 352.94/98.52 over 309 oracles
        // (3.58; SAME-round anchor — BASELINE.md r15 rows)
        // r16 pins the scripted close 362.04/95.86 over 324 oracles
        // (3.78 headline; 3.69 like-for-like on the r15-comparable
        // surface — BASELINE.md r16 row; tools/close.sh ran the whole
        // checklist in one pass)
        // r17 (optimization round) pins the scripted close 297.80/78.54
        // over 324 oracles (3.79 headline on an UNCHANGED 311-query
        // surface — the spark min-total fell 322.19 → 297.80 (−7.6%)
        // while the DuckDB anchor's session refresh fell 18%, so the
        // flat ratio is the anchor's band, not engine movement;
        // BASELINE.md r17 row has the decomposition)
        val history = Seq("r7" -> 6.44, "r8" -> 5.80, "r9" -> 5.71,
          "r10" -> 5.94, "r11" -> 5.60, "r12" -> 4.50, "r13" -> 4.20,
          "r14" -> 4.23, "r15" -> 3.58, "r16" -> 3.78, "r17" -> 3.79)
        v.filter(_ > 0 && sfMatch).map { d =>
          val series = (history.map { case (k, x) => s""""$k":$x""" } :+
            s""""now":${r2(minTotal / d)}""").mkString("{", ",", "}")
          s""","spark_total":${r2(total)},"duckdb_total":${r2(d)},"ratio":${r2(total / d)},"ratio_median":${r2(medianTotal / d)},"ratio_series":$series"""
        }.getOrElse("")
      } else ""
    }.getOrElse("")
    val rerunJson = rerunNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // streams block: per-drive {rows, sec (min), spread, rows_per_sec};
    // a crashed drive reports rows -1 with no timing (sticky, like the
    // main map's failure marker)
    val streamsJson = streamNames.map { name =>
      streamSamples.get(name) match {
        case Some(xs) =>
          val best = xs.map(_._1).min
          val spread = xs.map(_._1).max - best
          val rows = xs.head._2
          val rps = if (best > 0) rows / best else 0.0
          s""""$name":{"rows":$rows,"sec":${f3(best)},"spread":${f3(spread)},"rows_per_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, rps)}}"""
        case None => s""""$name":{"rows":-1}"""
      }
    }.mkString("{", ",", "}")
    // a parity-drive-only SPARK_GRAFT_BENCH_ONLY subset times zero
    // benchable queries — emit a streams-only line WITHOUT the
    // total/ratio/anchor fields rather than a valid-looking 0.00 total
    val line =
      if (names.isEmpty)
        s"""{"metric":"streams_only","unit":"sec","repeats":$streamPasses,"streams":$streamsJson,"sf":"$sfDir"}"""
      else
        s"""{"metric":"total","value":$total,"unit":"sec","semantics":"min","repeats":$repeats,"median_total":${"%.2f".formatLocal(java.util.Locale.ROOT, medianTotal)}$anchorFields,"reruns":$rerunJson,"queries":$qs,"spread":$spreadJson,"median":$medianJson,"streams":$streamsJson,"sf":"$sfDir"}"""
    // The driver's tail capture is a FIXED ~2000-char window; the full
    // per-query line (~90 queries, full double precision) is ~4000 chars and
    // can never fit, wherever it is printed (r4/r5 `parsed: null`). So:
    // full-precision line on stdout + BENCH_METRIC.json for the complete
    // record, and a COMPACT line (total + the slowest queries at 2 dp, built
    // to a hard length budget that leaves room for sbt's [success] epilogue)
    // printed LAST so the tail window always contains one parseable line.
    spark.sparkContext.setLogLevel("ERROR")
    println(line)
    // a SPARK_GRAFT_BENCH_ONLY subset must not overwrite the full-suite
    // record with a partial total that reads like a (spectacular) full
    // run — subset runs are stdout-only
    if (only.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_METRIC.json"), line + "\n")
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val compactBudget = 1500
    val slowest = results.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + f2(v) }
    // failed queries carry a sticky -1 marker excluded from the total —
    // count them separately so the line's per-query values sum to the
    // reported total ("timed" = genuinely timed only)
    val failed = results.count(_._2 < 0)
    def compactLine(n: Int): String = {
      if (names.isEmpty)
        return s"""{"metric":"streams_only","unit":"sec","sf":"$sfDir"}"""
      val cq = slowest.take(n).mkString("{", ",", "}")
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","timed":${results.size - failed},"failed":$failed,"queries":$cq,"sf":"$sfDir"}"""
    }
    val compact = (results.size to 0 by -1).iterator.map(compactLine)
      .find(_.length <= compactBudget).getOrElse(compactLine(0))
    println(compact)
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
