package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{RoutingStrategyV5, ShardConfig}
import graft.jobs.EsIndexJob
import graft.sinks.EsSnapshot
import graft.sinks.essnapshot.SnapshotLayout
import graft.sources.Ingest

/**
 * One benchmark run in one JVM: set up, warm up, then a closed loop with a
 * single client for the given seconds, output checks outside the timed
 * region, and (traced runs) the per-layer isolation passes. Writes the raw
 * run record as JSON; `run.py` turns it into the metrics.
 *
 * Usage: `perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <work dir> <record file>`
 * or `perfbench.Harness dump-ops <work dir> <out dir>` (ops_mix outputs for
 * the one-time DuckDB confirmation of `expected/ops_mix.json`).
 */
object Harness {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dump-ops")) { OpsMix.dump(args(1), args(2)); return }
    require(args.length == 6, "usage: <workload> <seed> <seconds> <trace 0|1> <work dir> <record file>")
    val run = new Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      Paths.get(args(4)).toAbsolutePath)
    val record = try run.execute() finally run.stop()
    Files.writeString(Paths.get(args(5)), Json(record), UTF_8)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(s"spark.hadoop.fs.${CountingFileSystem.Scheme}.impl",
        classOf[CountingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  /** Files directly in `dir` whose names do not start with `_` or `.`. */
  def dataBytes(dir: Path): Long = {
    val s = Files.list(dir)
    try s.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }.mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  /** Flat numeric fields of a small JSON file the sink writes. */
  def jsonFields(p: Path): Map[String, String] = {
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
    val out = mutable.Map.empty[String, String]
    t.fieldNames().forEachRemaining(k => out(k) = t.get(k).asText())
    out.toMap
  }
}

/** A workload: inputs made in set-up, one iteration per loop turn. */
trait Workload {
  /** Write this run's inputs (the same bytes every round). */
  def setup(): Unit
  /** Untimed turns before the loop, until the JIT has compiled the hot paths. */
  def warmups: Int
  /** One iteration; fills `it` and records spans through `run.tracer`.
    * `it("first")` marks the run's first turn, an untimed warm-up. */
  def iterate(it: mutable.LinkedHashMap[String, Any]): Unit
  /** Checks on the last iteration's output that are too dear for every turn. */
  def finalChecks(): Unit = ()
  /** Traced runs only: layers timed in isolation. */
  def layers(): Seq[(String, Any)] = Nil
}

class Run(val workloadName: String, val seed: Long, seconds: Double,
          val traced: Boolean, val work: Path) {
  import Harness._

  val inputs: Path = work.resolve("inputs")
  val tmp: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  var spark: SparkSession = _
  var tracer: Tracer = _
  private val recorder = new Recorder
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** A destination on the counting file system. */
  def dest(name: String): String = s"${CountingFileSystem.Scheme}://${work.resolve(name)}"
  def destPath(name: String): Path = work.resolve(name)

  /** One output check: counts as attempted, and as failed when false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  private def workload(): Workload = workloadName match {
    case "es_build" => new EsBuild(this)
    case "es_append_restore" => new EsAppendRestore(this)
    case "ops_mix" => new OpsMix(this)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def tmpEntries(): Long = {
    val s = Files.list(tmp)
    try s.count() finally s.close()
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def execute(): mutable.LinkedHashMap[String, Any] = {
    CountingFileSystem.watchCurrentThread()
    Files.createDirectories(tmp)
    val w = workload()
    // set-up, several times: a fresh session and the workload's inputs
    val setupS = (1 to Harness.SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(work)
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    tracer = new Tracer(spark)
    val iterations = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    def once(warmup: Boolean, tracedTurn: Boolean): Unit = {
      val it = Json.obj("warmup" -> warmup, "traced" -> tracedTurn,
        "first" -> iterations.isEmpty)
      if (tracedTurn) spark.sparkContext.addSparkListener(recorder)
      tracer.clear()
      val tmp0 = tmpEntries()
      val gc0 = Probe.gcS
      val failed0 = failures.size
      try w.iterate(it)
      catch {
        case e: Throwable =>
          attempted += 1
          failures += s"iteration threw: $e"
      }
      val gcS = Probe.gcS - gc0
      it ++= Seq("ok" -> (failures.size == failed0), "gc_s" -> gcS,
        "heap_mb" -> Probe.retainedHeapMb, "tmp_new" -> (tmpEntries() - tmp0),
        "spans" -> tracer.spans.toList)
      if (tracedTurn) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        val (jobs, stages) = recorder.take()
        it ++= Seq("jobs" -> jobs, "stages" -> stages)
      }
      iterations += it
    }
    val w0 = System.nanoTime()
    (1 to w.warmups).foreach(_ => once(warmup = true, tracedTurn = traced))
    val warmupS = (System.nanoTime() - w0) / 1e9
    // the closed loop; traced runs alternate traced and untraced turns so
    // the difference between the two is the tracing overhead
    val t0 = System.nanoTime()
    var turn = 0
    def need(tracedTurns: Boolean) =
      iterations.count(i => !i("warmup").asInstanceOf[Boolean] && i("traced") == tracedTurns)
    while ((System.nanoTime() - t0) / 1e9 < seconds ||
      (traced && (need(true) < 2 || need(false) < 1))) {
      once(warmup = false, tracedTurn = traced && turn % 3 != 2)
      turn += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    try w.finalChecks() catch {
      case e: Throwable => attempted += 1; failures += s"final checks threw: $e"
    }
    tracer.clear()
    val layers = if (traced) w.layers() else Nil
    Json.obj(
      "stamp" -> stamp(),
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "iterations" -> iterations,
      "layers" -> Json.obj(layers: _*),
      "layer_spans" -> tracer.spans.toList,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toList)
  }

  private def stamp(): mutable.LinkedHashMap[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_flags" -> rt.getInputArguments.toArray.map(_.toString)
        .filter(_.startsWith("-X")).toList,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")} ${System.getProperty("os.arch")}")
  }
}

/**
 * es_build: one fresh `EsIndexJob.run` over the generated NDJSON per
 * iteration — ingest, murmur3 routing, the full-payload shuffle and the
 * gzip writers do the work.
 */
class EsBuild(run: Run) extends Workload {
  import Harness._
  import run._
  val Docs = 300000L
  val warmups = 2
  val Shards = 16
  private val in = inputs.resolve("ndjson")
  private var bad = 0L
  private var inputBytes = 0L
  private val out = "es_build_snapshot"

  def setup(): Unit = {
    val gen = Inputs.ndjson(spark, seed, Docs)
    gen.select("value").write.mode("overwrite").text(in.toString)
    bad = gen.filter(col("bad")).count()
    inputBytes = dataBytes(in)
  }

  private def args = EsIndexJob.Args(Seq(in.toString), dest(out), "events", "doc_id",
    Shards, Some("bench"), None, None, overwrite = true)

  def iterate(it: mutable.LinkedHashMap[String, Any]): Unit = {
    deleteTree(destPath(out))
    val populated = tracer.span("es.index_job")(EsIndexJob.run(spark, args))
    val summary = jsonFields(destPath(out).resolve(SnapshotLayout.SummaryFile))
    val ingest = jsonFields(destPath(out).resolve("_INGEST.json"))
    val committed = summary("index_doc_created").toLong
    check(populated == Shards, s"es_build: $populated of $Shards shards populated")
    check(committed == Docs - bad, s"es_build: committed $committed docs, expected ${Docs - bad}")
    check(ingest("input_docs").toLong == Docs, s"es_build: input_docs ${ingest("input_docs")}")
    check(ingest("rejected_docs").toLong == bad,
      s"es_build: rejected_docs ${ingest("rejected_docs")}, expected $bad")
    it ++= Seq("docs" -> committed, "payload_bytes" -> inputBytes,
      "work_s" -> tracer.seconds("es.index_job"),
      "indexing_ms" -> summary("time_spent_indexing_ms").toLong,
      "flushing_ms" -> summary("time_spent_flushing_ms").toLong,
      "writer_files" -> summary("writer_files").toLong,
      "on_disk_bytes" -> treeBytes(destPath(out)))
  }

  /** Every committed doc reads back, and a fixed sample (one id in 400,
    * about 750) sits on the shard the V5 routing strategy names. */
  override def finalChecks(): Unit = {
    val back = EsSnapshot.readTable(spark, dest(out))
      .select(col("shard"), get_json_object(col("json"), "$.doc_id").as("id"))
    val total = back.count()
    check(total == Docs - bad, s"es_build: read back $total docs, expected ${Docs - bad}")
    val sample = back.filter(pmod(xxhash64(col("id")), lit(400)) === 0).collect()
    val routing = RoutingStrategyV5(Shards)
    val misrouted = sample.count(r => routing.shardFor(r.getString(1)) != r.getInt(0))
    check(sample.length > 500 && misrouted == 0,
      s"es_build: ${sample.length} sampled ids, $misrouted on the wrong shard")
  }

  override def layers(): Seq[(String, Any)] = {
    val raw = Ingest.ndjsonRaw(spark, Seq(in.toString))
    val scan = Layers.medianSeconds(tracer, "sources.scan")(Layers.materialize(raw))
    var obsRow: Map[String, Any] = Map.empty
    val ingest = Layers.medianSeconds(tracer, "sources.ingest") {
      val (docs, obs) = Ingest.toIndexableObserved(raw, "events", "doc_id", Shards)
      Layers.materialize(docs.toDF())
      obsRow = obs.get
    }
    val ids = raw.select(get_json_object(col("json"), "$.doc_id").as("id"))
      .filter(col("id").isNotNull)
    Seq("sources.scan_s" -> scan, "sources.ingest_s" -> ingest,
      "sources.input_docs" -> obsRow("input_docs"),
      "sources.rejected_docs" -> obsRow("rejected_docs"),
      "functions.route_s" -> Layers.routeSeconds(spark, tracer, ids, Shards))
  }
}

/**
 * es_append_restore: into one fresh repo, `Generations` appends of small
 * columnar docs, then a full restore read of the latest snapshot, a
 * shard-pruned targeted read and `compactRepo(keep)`.
 */
class EsAppendRestore(run: Run) extends Workload {
  import Harness._
  import run._
  val Generations = 6
  val warmups = 1
  val PerGen = 20000L
  val Shards = 16
  val Keep = 2
  val Wanted = 32
  private val out = "es_append_repo"
  private def genDir(g: Int) = inputs.resolve(s"gen-$g").toString

  def setup(): Unit = (0 until Generations).foreach { g =>
    Inputs.generation(spark, seed, g, PerGen).write.mode("overwrite").parquet(genDir(g))
  }

  /** Ids of the latest generation the targeted read must find. */
  private val wanted: Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(Wanted)((Generations - 1) * PerGen + (r.nextDouble() * PerGen).toLong).distinct
  }

  def iterate(it: mutable.LinkedHashMap[String, Any]): Unit = {
    deleteTree(destPath(out))
    var payload = 0L
    val summaries = (0 until Generations).map { g =>
      val columns = spark.read.parquet(genDir(g))
      tracer.span("es.write") {
        EsSnapshot.write(Ingest.fromColumns(columns, "events", "id", Shards),
          dest(out), ShardConfig(Shards), Some(s"gen-$g"))
      }
      val s = jsonFields(destPath(out).resolve(SnapshotLayout.SummaryFile))
      check(s("index_doc_created").toLong == PerGen,
        s"es_append_restore: gen-$g committed ${s("index_doc_created")} docs")
      payload += s("bytes_written").toLong
      s
    }
    val repoBytes = treeBytes(destPath(out))
    if (it("first") == true) (0 until Generations).foreach { g =>
      val n = EsSnapshot.readTable(spark, dest(out), Some(s"gen-$g")).count()
      check(n == PerGen, s"es_append_restore: gen-$g scoped read has $n docs")
    }
    val restored = tracer.span("es.read_full") {
      EsSnapshot.readTable(spark, dest(out)).queryExecution.toRdd.count()
    }
    check(restored == PerGen, s"es_append_restore: full read of the latest snapshot has $restored docs")
    val routing = RoutingStrategyV5(Shards)
    val shards = wanted.map(id => routing.shardFor(id.toString)).distinct
    val found = tracer.span("es.read_pruned") {
      EsSnapshot.readTable(spark, dest(out))
        .filter(col("shard").isin(shards: _*))
        .select(get_json_object(col("json"), "$.id").as("id"))
        .filter(col("id").isin(wanted.map(_.toString): _*))
        .collect().map(_.getString(0).toLong).toSet
    }
    check(found == wanted.toSet,
      s"es_append_restore: targeted read found ${found.size} of ${wanted.size} ids")
    val removed = tracer.span("es.compact")(EsSnapshot.compactRepo(spark, dest(out), keep = Keep))
    val live = {
      val root = destPath(out)
      val gen = SnapshotLayout.parseIndexLatest(Files.readAllBytes(root.resolve(SnapshotLayout.IndexLatest)))
      SnapshotLayout.parseGenerationSnapshots(
        Files.readString(root.resolve(SnapshotLayout.generationFile(gen)))).map(_._1)
    }
    val keptNames = (Generations - Keep until Generations).map(g => s"gen-$g")
    check(removed == Generations - Keep && live == keptNames,
      s"es_append_restore: compact removed $removed, left ${live.mkString(",")}")
    val writeS = tracer.spans.filter(_("name") == "es.write")
      .map(s => (s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]) / 1e3)
    it ++= Seq("docs" -> Generations * PerGen, "payload_bytes" -> payload,
      "work_s" -> writeS.sum, "restored_docs" -> restored,
      "indexing_ms" -> summaries.map(_("time_spent_indexing_ms").toLong).sum,
      "flushing_ms" -> summaries.map(_("time_spent_flushing_ms").toLong).sum,
      "writer_files" -> summaries.map(_("writer_files").toLong).sum,
      "on_disk_bytes" -> repoBytes)
  }

  override def layers(): Seq[(String, Any)] = {
    val frames = (0 until Generations).map(g => spark.read.parquet(genDir(g)))
    val serialize = Layers.medianSeconds(tracer, "sources.serialize") {
      frames.foreach(f => Layers.materialize(Ingest.fromColumns(f, "events", "id", Shards).toDF()))
    }
    val ids = frames.reduce(_ union _).select(col("id").cast("string").as("id"))
    Seq("sources.serialize_s" -> serialize,
      "functions.route_s" -> Layers.routeSeconds(spark, tracer, ids, Shards))
  }
}

/** Layer passes of traced runs, each timed three times (median). */
object Layers {
  val Repeats = 3

  /** Computes every column of every row and discards them (the `noop`
    * sink), as one Dataset action so observed metrics are delivered. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def medianSeconds(tracer: Tracer, name: String)(body: => Any): Double = {
    val xs = (1 to Repeats).map { _ => tracer.span(name)(body); tracer.seconds(name) }.sorted
    xs(xs.size / 2)
  }

  /** murmur3 shard + routing over pre-extracted, cached ids, minus an
    * id-only pass over the same cache. */
  def routeSeconds(spark: SparkSession, tracer: Tracer, ids: DataFrame, shards: Int): Double = {
    import graft.functions.EsHash
    val cached = ids.cache()
    cached.count()
    try {
      val idOnly = medianSeconds(tracer, "functions.ids")(materialize(cached.select(col("id"))))
      val routed = medianSeconds(tracer, "functions.route")(materialize(
        cached.select(EsHash.esShard(col("id"), shards), EsHash.esRouting(col("id"), shards))))
      routed - idOnly
    } finally cached.unpersist(blocking = true)
  }
}

/**
 * ops_mix: one serial pass over five `SparkEntry.queries`, each timed as
 * `graft.Bench` times it, caches dropped between queries, in an order the
 * seed sets. The tables are generated with a fixed seed so their outputs
 * can be checked against `expected/ops_mix.json`.
 */
class OpsMix(run: Run) extends Workload {
  import run._
  val warmups = 1
  private val dir = inputs.resolve("ops").toString
  private val fns = graft.SparkEntry.queries.filter { case (q, _) => OpsMix.Tables.contains(q) }
  private val order = new scala.util.Random(seed).shuffle(OpsMix.Tables.keys.toSeq.sorted)
  private val expected = OpsMix.expected()
  private var tableBytes = Map.empty[String, Long]

  def setup(): Unit = {
    tableBytes = OpsMix.writeTables(spark, dir)
  }

  private def dropCaches(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def iterate(it: mutable.LinkedHashMap[String, Any]): Unit = {
    var rows = 0L
    var bytes = 0L
    order.foreach { q =>
      val want = expected.get(q)
      if (it("first") == true) {
        // untimed: the full content of every output, once per run
        val (n, sha) = OpsMix.contentHash(fns(q)(spark, dir))
        check(want.contains((n, sha)), s"ops_mix: $q gave $n rows, sha256 $sha; expected $want")
      } else {
        val n = tracer.span(s"ops.$q")(fns(q)(spark, dir).queryExecution.toRdd.count())
        check(want.exists(_._1 == n), s"ops_mix: $q gave $n rows; expected $want")
      }
      dropCaches()
      rows += OpsMix.Tables(q).map(Inputs.OpsRows).sum
      bytes += OpsMix.Tables(q).map(tableBytes).sum
    }
    val workS = tracer.spans.filter(_("parent") == 0)
      .map(s => (s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]) / 1e3).sum
    it ++= Seq("docs" -> rows, "payload_bytes" -> bytes, "work_s" -> workS,
      "order" -> order)
  }
}

object OpsMix {
  /** The queries and the tables each reads: three loop operators whose
    * cost is mostly per-job driver overhead, a CPU-bound graph kernel and
    * a short text operator. */
  val Tables: Map[String, Seq[String]] = Map(
    "q_sssp" -> Seq("lineitem"), "ann_ivf_rebuild" -> Seq("embeddings"),
    "q_assoc_rules" -> Seq("lineitem"), "q_triangles" -> Seq("lineitem"),
    "dedup_minhash" -> Seq("documents"))

  val ExpectedFile = "perfbench/expected/ops_mix.json"

  /** query -> (rows, sha256) from the expected file. */
  def expected(): Map[String, (Long, String)] = {
    val p = Paths.get(ExpectedFile)
    if (!Files.exists(p)) return Map.empty
    val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
    val qs = t.get("queries")
    val out = mutable.Map.empty[String, (Long, String)]
    qs.fieldNames().forEachRemaining { q =>
      out(q) = (qs.get(q).get("rows").asLong(), qs.get(q).get("sha256").asText())
    }
    out.toMap
  }

  /** Writes the tables; returns each one's data bytes. */
  def writeTables(spark: SparkSession, dir: String): Map[String, Long] =
    Inputs.opsTables(spark).map { case (t, df) =>
      val p = s"$dir/$t.parquet"
      df.write.mode("overwrite").parquet(p)
      t -> Harness.dataBytes(Paths.get(p))
    }

  /** Row count and an order-independent SHA-256 over the rows, columns
    * sorted by name and values rendered canonically. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col): _*).collect()
    def render(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case other => other.toString
    }
    val lines = rows.map(r => cols.indices.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Writes each ops_mix output as parquet plus its DuckDB oracle SQL
    * (`oracle_sql.json`) and the observed hashes (`observed.json`). */
  def dump(workDir: String, outDir: String): Unit = {
    val work = Paths.get(workDir).toAbsolutePath
    val spark = Harness.session(work)
    try {
      val dir = work.resolve("inputs/ops").toString
      writeTables(spark, dir)
      val fns = graft.SparkEntry.queries
      val observed = Tables.keys.toSeq.sorted.map { q =>
        fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        val (n, sha) = contentHash(fns(q)(spark, dir))
        q -> Json.obj("rows" -> n, "sha256" -> sha)
      }
      val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => Tables.contains(q) }
      Files.writeString(Paths.get(outDir, "oracle_sql.json"), Json(oracles), UTF_8)
      Files.writeString(Paths.get(outDir, "observed.json"), Json(Json.obj(observed: _*)), UTF_8)
    } finally spark.stop()
  }
}
