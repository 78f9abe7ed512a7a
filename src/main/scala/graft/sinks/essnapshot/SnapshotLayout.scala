package graft.sinks.essnapshot

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Path/name builders, tiny JSON codecs and the one reader/publisher of the
 * live generation for the emulated ES snapshot repository layout
 * (reference: src/main/java/com/simondata/elasticfreight/transport/
 * BaseTransport.java:69-115, 144-201, 329-335 and
 * IndexingPostProcessor.java:144-246).
 *
 * Layout written by the sink:
 * {{{
 * dest/
 *   index-0                 snapshot-repo generation file (JSON)
 *   index.latest            8-byte big-endian generation number
 *   snap-<snapUuid>.dat     root snapshot metadata
 *   meta-<snapUuid>.dat     root cluster metadata (mappings/template passthrough)
 *   indices/<indexId>/
 *     meta-<snapUuid>.dat   index metadata
 *     <shard>/
 *       snap-<snapUuid>.dat per-shard snapshot metadata
 *       docs-<writer>.ndjson.gz   document payloads (layout mode)
 *   manifest.txt            index|snapshotUUID|indexId per populated shard
 *   _SUMMARY.json           JOB_COUNTER-equivalent metrics
 * }}}
 *
 * "Layout mode": document payloads are gzipped NDJSON rather than Lucene
 * segments (no embedded ES available in this environment — SURVEY.md §7.3
 * hard part #1); every orchestration step the reference performs (per-shard
 * snapshot, base-UUID stitching, missing-shard backfill, manifest merge) is
 * real.
 *
 * Repo state: [[readRepo]] is the one reader of the live generation
 * (`index.latest` → `index-N`) and [[publishRepo]] its one writer; the
 * commit, the scan, `deleteSnapshot` and `compactRepo` all go through
 * them. A repo without `index.latest` reads as `None` (empty). An
 * `index.latest` or `index-N` that cannot be read or parsed throws an
 * `IllegalStateException` naming the file, so an append, a read or a GC
 * stops before it acts on a guessed generation; only an `overwrite`
 * write, which ignores prior state, still succeeds on such a repo.
 * Publishing writes `index-N` first and `index.latest` last, so a failure
 * between the two leaves readers on the previous generation.
 */
object SnapshotLayout {

  /** Deterministic index id from the index name (reference reads the ES-
    * generated random id back from the base snapshot,
    * BaseTransport.java:187-201; deterministic is strictly better for
    * idempotent re-runs and is a documented deviation). */
  def indexId(indexName: String): String =
    UUID.nameUUIDFromBytes(("graft-index:" + indexName).getBytes("UTF-8")).toString

  def indicesDir(dest: String, indexName: String): String =
    s"$dest/indices/${indexId(indexName)}"

  def shardDir(dest: String, indexName: String, shard: Int): String =
    s"${indicesDir(dest, indexName)}/$shard"

  /** reference: BaseTransport.java:329-331 */
  def snapDat(uuid: String): String = s"snap-$uuid.dat"

  /** reference: BaseTransport.java:333-335 */
  def metaDat(uuid: String): String = s"meta-$uuid.dat"

  def dataFile(writerUuid: String, gzip: Boolean = true): String =
    if (gzip) s"docs-$writerUuid.ndjson.gz" else s"docs-$writerUuid.ndjson"

  val IndexLatest = "index.latest"
  val ManifestFile = "manifest.txt"
  val SummaryFile = "_SUMMARY.json"

  def generationFile(gen: Long): String = s"index-$gen"

  /** 8-byte big-endian generation, as the reference parses it
    * (BaseTransport.java:169-179). */
  private def indexLatestBytes(gen: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(gen).array()

  def parseIndexLatest(bytes: Array[Byte]): Long =
    java.nio.ByteBuffer.wrap(bytes).getLong

  /** A repo's live generation: the number `gen` of its `index-<gen>` file,
    * the (name, uuid) of each snapshot in commit order, and each index
    * name with the uuids of the snapshots that contain it. */
  final case class RepoState(gen: Long, snapshots: Seq[(String, String)],
                             indices: Seq[(String, Seq[String])]) {

    /** The uuid a selector names: the newest snapshot of that name, else
      * the snapshot with that uuid. */
    def resolve(nameOrUuid: String): Option[String] =
      snapshots.reverse.find(_._1 == nameOrUuid)
        .orElse(snapshots.find(_._2 == nameOrUuid)).map(_._2)

    /** Names of the indexes snapshot `uuid` contains. */
    def indexesOf(uuid: String): Seq[String] =
      indices.collect { case (ix, uuids) if uuids.contains(uuid) => ix }

    /** The next generation: this one plus snapshot (name, uuid) over `indexes`. */
    def plus(name: String, uuid: String, indexes: Seq[String]): RepoState = {
      val prior = indices.toMap
      RepoState(gen + 1, snapshots :+ (name -> uuid),
        (prior.keySet ++ indexes).toSeq.sorted.map { ix =>
          ix -> (prior.getOrElse(ix, Seq.empty) ++
            (if (indexes.contains(ix)) Seq(uuid) else Seq.empty))
        })
    }

    /** The next generation: this one without the `victims` snapshots; an
      * index no remaining snapshot contains drops out. */
    def minus(victims: Set[String]): RepoState =
      RepoState(gen + 1, snapshots.filterNot(s => victims(s._2)),
        indices.map { case (ix, uuids) => ix -> uuids.filterNot(victims) }
          .filter(_._2.nonEmpty))

    /** True for an `index-N` file that is not this generation's. */
    def supersedes(fileName: String): Boolean =
      fileName.startsWith("index-") && fileName != generationFile(gen)
  }

  object RepoState {
    /** A repo before its first commit: its first publish is generation 0. */
    val Empty: RepoState = RepoState(-1L, Seq.empty, Seq.empty)
  }

  /** The live generation of the repo at `dest`, or `None` when it has no
    * `index.latest`. An unreadable or unparseable `index.latest` or
    * `index-N` throws an `IllegalStateException` that names the file. */
  def readRepo(fs: FileSystem, dest: String): Option[RepoState] = {
    val latest = new Path(dest, IndexLatest)
    if (!fs.exists(latest)) None
    else {
      val gen = failNaming(latest) {
        val bytes = readBytes(fs, latest)
        require(bytes.length == 8, s"${bytes.length} bytes, not an 8-byte generation")
        parseIndexLatest(bytes)
      }
      val genPath = new Path(dest, generationFile(gen))
      Some(failNaming(genPath) {
        val tree = mapper.readTree(readString(fs, genPath))
        require(tree != null && tree.isObject, "not a JSON object")
        RepoState(gen, snapshotsOf(tree), indicesOf(tree))
      })
    }
  }

  /** Publishes `state` as the repo's live generation: `index-N` first,
    * then `index.latest`, so readers never see a pointer to a missing
    * generation. */
  def publishRepo(fs: FileSystem, dest: String, state: RepoState): Unit = {
    writeBytes(fs, new Path(dest, generationFile(state.gen)),
      generationJson(state.snapshots, state.indices).getBytes(UTF_8))
    writeBytes(fs, new Path(dest, IndexLatest), indexLatestBytes(state.gen))
  }

  private def failNaming[T](file: Path)(body: => T): T =
    try body catch {
      case e: Exception => throw new IllegalStateException(
        s"snapshot repo state file $file is unreadable: ${e.getMessage}", e)
    }

  /** Manifest line per populated shard (reference: BaseESReducer.java:317-319). */
  def manifestLine(index: String, snapshotUuid: String, indexId: String): String =
    s"$index|$snapshotUuid|$indexId"

  // ── minimal JSON emission (metadata files only — data plane never uses this) ──

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonObj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  def jsonArr(items: Seq[String]): String = items.mkString("[", ",", "]")

  /** Root `index-N` generation content: full snapshot list + index-name→
    * (id, containing-snapshot-uuids) map — the repo-level view a restore
    * reads (BaseTransport.java:186-201). Multi-snapshot: each commit
    * appends itself and rewrites the next generation. */
  private def generationJson(snapshots: Seq[(String, String)],
                             indices: Seq[(String, Seq[String])]): String =
    jsonObj(
      "snapshots" -> jsonArr(snapshots.map { case (name, uuid) =>
        jsonObj(
          "name" -> jsonStr(name),
          "uuid" -> jsonStr(uuid),
          "state" -> jsonStr("SUCCESS"))
      }),
      "indices" -> jsonObj(indices.map { case (ix, uuids) =>
        ix -> jsonObj(
          "id" -> jsonStr(indexId(ix)),
          "snapshots" -> jsonArr(uuids.map(jsonStr)))
      }: _*))

  // ── generation/manifest JSON parsing (Jackson, as the reference's
  //    getSnapshotMetadata does — BaseTransport.java:186-201) ──

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** (name, uuid) per snapshot, in commit order. */
  def parseGenerationSnapshots(body: String): Seq[(String, String)] =
    snapshotsOf(mapper.readTree(body))

  /** (indexName, snapshotUuids) per index. */
  def parseGenerationIndices(body: String): Seq[(String, Seq[String])] =
    indicesOf(mapper.readTree(body))

  private def snapshotsOf(t: JsonNode): Seq[(String, String)] = {
    val arr = t.get("snapshots")
    if (arr == null || !arr.isArray) Seq.empty
    else (0 until arr.size()).map { i =>
      (arr.get(i).get("name").asText(), arr.get(i).get("uuid").asText())
    }
  }

  private def indicesOf(t: JsonNode): Seq[(String, Seq[String])] = {
    val ix = t.get("indices")
    if (ix == null || !ix.isObject) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
      val names = ix.fieldNames()
      while (names.hasNext) {
        val name = names.next()
        val snaps = ix.get(name).get("snapshots")
        val uuids =
          if (snaps == null || !snaps.isArray) Seq.empty[String]
          else (0 until snaps.size()).map(snaps.get(_).asText())
        out += ((name, uuids))
      }
      out.toSeq
    }
  }

  // ── `.dat` bodies: SMILE, the wire format a real ES 5.x restore parses
  //    (the reference inherits it from the embedded node —
  //    ESEmbededContainer.java:169-221; stitch-time rewrite of the same
  //    trees at IndexingPostProcessor.java:195-216). Field order below is
  //    FIXED — the stitched tree is golden-tested byte-for-byte. ──

  import Smile.{SArr, SBool, SDouble, SLong, SNull, SObj, SStr, SVal}

  /** ES 5.6.16's version id (major·10^6 + minor·10^4 + rev·10^2 + build):
    * the value a 5.6.16 node writes as `version_id` in SnapshotInfo and
    * `index.version.created` in index settings. */
  val EsVersionId = 5061699L

  /** JSON text → SMILE value tree, so user-supplied mappings/templates
    * land in the metadata blobs as real object trees (the shape ES
    * stores), not quoted JSON strings. */
  private[graft] def jsonToSVal(n: JsonNode): SVal =
    if (n == null || n.isNull) SNull
    else if (n.isTextual) SStr(n.asText())
    else if (n.isBoolean) SBool(n.asBoolean())
    else if (n.isIntegralNumber) {
      // asLong() on a BigInteger node wraps mod 2^64 — corrupt metadata
      // with no error; refuse instead (SMILE's subset here has no BigInt)
      if (!n.canConvertToLong) throw new IllegalArgumentException(
        s"integral JSON number out of long range: $n")
      SLong(n.asLong())
    }
    else if (n.isNumber) SDouble(n.asDouble())
    else if (n.isArray) SArr((0 until n.size()).map(i => jsonToSVal(n.get(i))))
    else {
      val fields = scala.collection.mutable.ArrayBuffer.empty[(String, SVal)]
      val it = n.fieldNames()
      while (it.hasNext) { val k = it.next(); fields += k -> jsonToSVal(n.get(k)) }
      SObj(fields.toSeq)
    }

  private def parseJsonTree(json: String): SVal =
    jsonToSVal(mapper.readTree(
      if (json == null || json.trim.isEmpty) "{}" else json))

  /** Data files listed in a per-shard snap-<uuid>.dat manifest. The written
    * format is CodecUtil-framed SMILE (the real ES 5.x blob shape); two
    * generations of legacy repos stay readable — bare SMILE (round 5) and
    * JSON (pre-round-5) — because a parse failure here is NOT safe to
    * swallow: the commit sweep and `deleteSnapshot` treat "no parse" as
    * "no referenced files" and would garbage-collect data files that
    * legacy snapshots still reference. */
  def parseShardSnapFiles(body: Array[Byte]): Seq[String] = {
    val smileBody = datSmileBody(body)
    if (smileBody.length >= 3 && smileBody(0) == 0x3A && smileBody(1) == 0x29 &&
        smileBody(2) == 0x0A)
      Smile.arr(Smile.read(smileBody), "files").map {
        // current: ES 5.x FileInfo objects — the DATA file is physical_name
        case o: SObj => Smile.str(o, "physical_name").getOrElse(
          throw new IllegalArgumentException(
            "FileInfo entry missing physical_name"))
        // round-5 repos: bare file-name strings
        case SStr(s) => s
        case other => throw new IllegalArgumentException(
          s"unreadable files[] entry: $other")
      }
    else {
      val files = mapper.readTree(smileBody).get("files")
      if (files == null || !files.isArray) Seq.empty
      else (0 until files.size()).map { i =>
        val e = files.get(i)
        if (e.isTextual) e.asText()
        else {
          val p = e.get("physical_name")
          if (p == null) throw new IllegalArgumentException(
            "FileInfo entry missing physical_name")
          p.asText()
        }
      }
    }
  }

  /** Strip the CodecUtil frame (verifying its CRC32) if present; pass
    * legacy unframed bodies through untouched. The one helper every
    * direct `.dat` consumer goes through. */
  def datSmileBody(bytes: Array[Byte]): Array[Byte] =
    if (LuceneFrame.isFramed(bytes)) LuceneFrame.unwrap(bytes).body else bytes

  /** Chunked whole-file read — the shared helper for every `.dat`
    * consumer (binary-safe, unlike a UTF-8 string round-trip). */
  def readBytes(fs: FileSystem, path: Path): Array[Byte] = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** A whole UTF-8 text file: generation JSON, manifests, summaries. */
  def readString(fs: FileSystem, path: Path): String =
    new String(readBytes(fs, path), UTF_8)

  /** Creates (or replaces) `path` with exactly `body`. */
  def writeBytes(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
    val out = fs.create(path, true)
    try out.write(body) finally out.close()
  }

  /** Per-shard snap-<uuid>.dat content: CodecUtil("snapshot")-framed SMILE
    * carrying ES 5.x's `BlobStoreIndexShardSnapshot` field tree — name,
    * index_version, start_time, time, number_of_files, total_size, and a
    * `files` array of FileInfo objects (name `__i`, physical_name, length,
    * written_by). Layout-mode value deltas, disclosed in README's
    * compatibility matrix: times are 0 (deterministic goldens),
    * `written_by` is the layout-format tag (a real node writes its Lucene
    * version), and a trailing vendor-extension `doc_count` field carries
    * the per-shard row count graft's own read/verify path gates on (ES
    * keeps doc counts in the Lucene segments this mode doesn't write). */
  def shardSnapDat(snapshotName: String, docCount: Long, bytes: Long,
                   files: Seq[(String, Long)]): Array[Byte] =
    LuceneFrame.wrap(LuceneFrame.SnapshotCodec, Smile.write(SObj.of(
      "name" -> SStr(snapshotName),
      "index_version" -> SLong(0L),
      "start_time" -> SLong(0L),
      "time" -> SLong(0L),
      "number_of_files" -> SLong(files.size.toLong),
      "total_size" -> SLong(bytes),
      "files" -> SArr(files.zipWithIndex.map { case ((f, len), i) =>
        SObj.of(
          "name" -> SStr(s"__$i"),
          "physical_name" -> SStr(f),
          "length" -> SLong(len),
          "written_by" -> SStr("graft-layout-1")): SVal
      }),
      "doc_count" -> SLong(docCount))))

  /** Root snap-<uuid>.dat content: CodecUtil("snapshot")-framed SMILE
    * carrying ES 5.x's `SnapshotInfo` tree — one top-level `snapshot`
    * object with name, uuid, version_id, indices, state, start_time,
    * end_time, total_shards, successful_shards, failures. Times are 0
    * (deterministic goldens) and a vendor-extension `total_docs` carries
    * the corpus row count graft's verify path gates on. */
  def rootSnapDat(snapshotName: String, snapshotUuid: String,
                  indexes: Seq[String], totalDocs: Long,
                  totalShards: Long): Array[Byte] =
    LuceneFrame.wrap(LuceneFrame.SnapshotCodec, Smile.write(SObj.of(
      "snapshot" -> SObj.of(
        "name" -> SStr(snapshotName),
        "uuid" -> SStr(snapshotUuid),
        "version_id" -> SLong(EsVersionId),
        "indices" -> SArr(indexes.map(ix => SStr(ix): SVal)),
        "state" -> SStr("SUCCESS"),
        "start_time" -> SLong(0L),
        "end_time" -> SLong(0L),
        "total_shards" -> SLong(totalShards),
        "successful_shards" -> SLong(totalShards),
        "failures" -> SArr(Seq.empty),
        "total_docs" -> SLong(totalDocs)))))

  /** Index meta-<uuid>.dat content (CodecUtil("index-metadata")-framed
    * SMILE): ES 5.x's `IndexMetaData` tree — the index name keys one
    * object with version, routing_num_shards, state, settings (flat
    * `index.*` keys including number_of_shards / number_of_replicas /
    * uuid / version.created), mappings as REAL parsed object trees (one
    * array entry, as ES writes single-type indices), aliases,
    * primary_terms, and in_sync_allocations (empty per shard — layout
    * mode has no allocation ids because no node ever held the shards). */
  def indexMetaDat(index: String, id: String, shards: Int,
                   mappings: String): Array[Byte] =
    LuceneFrame.wrap(LuceneFrame.IndexMetadataCodec, Smile.write(SObj.of(
      index -> SObj.of(
        "version" -> SLong(1L),
        "routing_num_shards" -> SLong(shards.toLong),
        "state" -> SStr("open"),
        "settings" -> SObj.of(
          "index.number_of_shards" -> SStr(shards.toString),
          "index.number_of_replicas" -> SStr("0"),
          "index.uuid" -> SStr(id),
          "index.version.created" -> SStr(EsVersionId.toString)),
        "mappings" -> SArr(Seq(parseJsonTree(mappings))),
        "aliases" -> SObj(Seq.empty),
        "primary_terms" -> SArr(Seq.fill(shards)(SLong(0L): SVal)),
        "in_sync_allocations" -> SObj(
          (0 until shards).map(s => s.toString -> (SArr(Seq.empty): SVal)))))))

  /** Root meta-<uuid>.dat content (CodecUtil("metadata")-framed SMILE):
    * ES 5.x's `MetaData` snapshot-context tree — `meta-data` object with
    * version, cluster_uuid, and the index template (parsed to a real
    * object tree) under its name, exactly where a restore looks for it
    * (the reference installs the same template on its embedded node —
    * ESEmbededContainer.java:205-207). Per-index metadata lives in the
    * per-index meta blobs, as in a real repo. */
  def rootMetaDat(clusterUuid: String, templateName: String,
                  template: String): Array[Byte] =
    LuceneFrame.wrap(LuceneFrame.MetadataCodec, Smile.write(SObj.of(
      "meta-data" -> SObj.of(
        "version" -> SLong(1L),
        "cluster_uuid" -> SStr(clusterUuid),
        "templates" -> (parseJsonTree(template) match {
          case o: SObj if o.fields.nonEmpty => SObj.of(templateName -> o)
          case _ => SObj(Seq.empty)
        })))))
}
