package graft.icelite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BucketFileWriter
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** "IceLite" — a minimal Iceberg-style snapshot table format built from
  * scratch for this engine (SURVEY.md §1.4). No Iceberg runtime exists in
  * this sandbox, so the engine ships the subset of the public Iceberg table
  * spec semantics that BASELINE.json requires:
  *
  *  - immutable parquet data files + a JSON metadata log (one file per commit)
  *  - PER-BUCKET MANIFEST files + a manifest list in the metadata (the
  *    Iceberg manifest split): the metadata JSON names one manifest per
  *    bucket; each manifest lists that bucket's data files. A commit writes
  *    new manifests only for the buckets it touches and carries every other
  *    bucket's manifest BY REFERENCE — per-commit metadata writes are
  *    O(touched buckets × files-per-bucket + total buckets), never
  *    O(all live files). At 10^5 buckets × several files each, a one-bucket
  *    micro-batch commit writes a few KB, not the whole file census.
  *  - atomic commits via CONDITIONAL CREATE of the next metadata version
  *    (the [[Catalog]] CAS — filesystem CREATE_NEW locally, S3/GCS
  *    conditional PUT in an object store). Concurrent committers race on
  *    the create; the loser reloads and rebases (see [[commit]]).
  *  - idempotent commits keyed by **epoch key**: a commit whose epoch key is
  *    already in the snapshot log is a no-op replay — this is the
  *    exactly-once mechanism for `foreachBatch` (epoch key = batch id)
  *  - schema evolution as metadata-only commits (field-id based: add /
  *    rename / widen / drop with NO data-file rewrite); readers reconcile
  *    old files to the current schema by field id
  *  - url-hash bucketed layout: each data file belongs to one bucket;
  *    copy-on-write MERGE replaces only the buckets a batch touches
  *  - time travel: any retained metadata version is readable
  *
  * Layout:
  * {{{
  * table/
  *   data/<epoch>-<token>-b<bucket>-<n>.parquet
  *                                     // moved from data/.staging-<epoch>-<token>;
  *                                     // one <token> per stageFiles call
  *   metadata/v<N>.metadata.json       // manifest list + schemas + epochs
  *   metadata/man-<uniq>-b<B>.json     // bucket B's data-file list
  *   metadata/version-hint.text        // read fast path (cache, not truth)
  * }}}
  *
  * Crash/race debris: a committer that dies (or loses the CAS) after
  * staging data files or manifests leaves unreachable orphans — never
  * visible, reclaimed by maintenance. A load reads one file, the version's
  * metadata; manifests are read per bucket, where that bucket's files are
  * needed.
  */
object IceLite {

  /** Iceberg-style field: stable id survives renames and type widening. */
  case class Field(id: Int, name: String, dataType: DataType, nullable: Boolean)

  case class Schema(schemaId: Int, fields: Seq[Field]) {
    def struct: StructType =
      StructType(fields.map(f => StructField(f.name, f.dataType, f.nullable)))
  }

  /** `rows` counts the file's rows, tombstones included; -1 = unknown
    * (files staged before the writer recorded counts) — never a count.
    */
  case class DataFileEntry(path: String, bucket: Int, schemaId: Int, rows: Long)

  /** One bucket's data-file list, stored out-of-line (the manifest split).
    * Immutable once written; shared by reference across versions.
    */
  case class ManifestRef(path: String, bucket: Int, nFiles: Int)

  /** One table version: its manifest list, schemas and epoch log. Holds
    * no data-file list of its own; [[files]] and [[filesIn]] read the
    * manifests that list them.
    */
  case class Metadata(
      version: Int,
      snapshotId: Long,
      parentSnapshotId: Long,
      epochKey: String,
      operation: String,
      currentSchemaId: Int,
      numBuckets: Int,
      schemas: Seq[Schema],
      manifests: Seq[ManifestRef],
      epochLog: Set[String],
      epochHwm: Map[String, Long],
      committedAtMs: Long) {
    def currentSchema: Schema = schemas.find(_.schemaId == currentSchemaId).get

    /** Every live data file, read from all manifests on first use. A
      * missing or corrupt manifest fails here, not at the load.
      */
    lazy val files: Seq[DataFileEntry] = manifests.flatMap(readManifest)

    /** The live data files of `buckets`: reads only their manifests. */
    def filesIn(buckets: Set[Int]): Seq[DataFileEntry] =
      manifests.filter(r => buckets(r.bucket)).flatMap(readManifest)

    /** Live data-file count per bucket — the compaction-pressure signal.
      * Read from the manifest list (no manifest, no storage listing):
      * ingest commit results surface its max so a pipeline knows WHEN to
      * schedule [[graft.operators.Maintenance.compactIfNeeded]].
      */
    def filesPerBucket: Map[Int, Int] =
      manifests.map(r => r.bucket -> r.nFiles).toMap

    /** The buckets whose content differs between this version and
      * `other`: those whose [[ManifestRef]] differs, a bucket without one
      * counting as empty. The one "bucket changed" rule. It is exact
      * because a commit writes a new manifest for a bucket exactly when
      * the bucket gains files, drops it exactly when it replaces the
      * bucket and adds none, keeps every other ref by reference, and
      * always gives data files new paths: refs differ iff file sets do.
      */
    def changedBuckets(other: Metadata): Set[Int] = {
      val mine = manifests.map(r => r.bucket -> r.path).toMap
      val theirs = other.manifests.map(r => r.bucket -> r.path).toMap
      (mine.keySet ++ theirs.keySet).filter(b => mine.get(b) != theirs.get(b))
    }

    /** True iff `key` was already committed. Numeric-suffixed keys
      * (`<prefix>.<n>`) are folded into a per-prefix HIGH-WATER MARK
      * instead of being stored individually, so per-commit metadata stays
      * O(live files + prefixes) after 10^6 micro-batches — the same
      * compaction a Flink→Iceberg committer does by storing only the last
      * committed checkpoint id per writer.
      *
      * CONTRACT (holds for every producer in this engine): within one
      * prefix, epochs are committed in non-decreasing numeric order, and a
      * recovery only ever re-attempts the LAST epochs (Structured
      * Streaming's offsets/commits WAL guarantees batch ids are monotone
      * and at most the tail batch re-runs; Replay's segments run 0..k in
      * order from the start). Under that contract, n ≤ hwm(prefix) ⟺
      * the epoch's effects are already in the table.
      */
    def committedEpoch(key: String): Boolean =
      epochLog.contains(key) || splitNumericSuffix(key).exists {
        case (p, n) => epochHwm.get(p).exists(_ >= n)
      }
  }

  /** `"a.b.7"` → `("a.b", 7)`; None when the last dot-segment isn't a
    * plain decimal number (or is too long to be a Long).
    */
  private[graft] def splitNumericSuffix(key: String): Option[(String, Long)] = {
    val i = key.lastIndexOf('.')
    if (i <= 0 || i == key.length - 1) None
    else {
      val suf = key.substring(i + 1)
      if (suf.forall(_.isDigit) && suf.length <= 18)
        Some((key.substring(0, i), suf.toLong))
      else None
    }
  }

  // ---------------------------------------------------------------- JSON

  private def typeToJsonString(dt: DataType): String = dt.json
  private def typeFromJsonString(s: String): DataType = DataType.fromJson(s)

  private def fileToJson(f: DataFileEntry): JObject = JObject(
    "path" -> JString(f.path),
    "bucket" -> JInt(f.bucket),
    "schemaId" -> JInt(f.schemaId),
    "rows" -> JLong(f.rows))

  private def jstr(v: JValue): String =
    v match { case JString(x) => x; case _ => sys.error("str") }
  private def jnum(v: JValue): Long = v match {
    case JInt(x) => x.toLong; case JLong(x) => x; case _ => sys.error("num")
  }
  private def jbool(v: JValue): Boolean =
    v match { case JBool(x) => x; case _ => sys.error("bool") }

  private def fileFromJson(fv: JValue): DataFileEntry = {
    val fo = fv.asInstanceOf[JObject].obj.toMap
    DataFileEntry(jstr(fo("path")), jnum(fo("bucket")).toInt,
      jnum(fo("schemaId")).toInt, jnum(fo("rows")))
  }

  private def toJson(m: Metadata): String = {
    val j = JObject(
      "format" -> JString("icelite/2"),
      "version" -> JInt(m.version),
      "snapshotId" -> JLong(m.snapshotId),
      "parentSnapshotId" -> JLong(m.parentSnapshotId),
      "epochKey" -> JString(m.epochKey),
      "operation" -> JString(m.operation),
      "currentSchemaId" -> JInt(m.currentSchemaId),
      "numBuckets" -> JInt(m.numBuckets),
      "committedAtMs" -> JLong(m.committedAtMs),
      "schemas" -> JArray(m.schemas.toList.map(s => JObject(
        "schemaId" -> JInt(s.schemaId),
        "fields" -> JArray(s.fields.toList.map(f => JObject(
          "id" -> JInt(f.id),
          "name" -> JString(f.name),
          "type" -> JString(typeToJsonString(f.dataType)),
          "nullable" -> JBool(f.nullable))))))),
      // the manifest LIST: per-bucket file lists live out-of-line; this
      // JSON never carries individual data files
      "manifests" -> JArray(m.manifests.toList.map(r => JObject(
        "path" -> JString(r.path),
        "bucket" -> JInt(r.bucket),
        "nFiles" -> JInt(r.nFiles)))),
      "epochLog" -> JArray(m.epochLog.toList.sorted.map(JString(_))),
      "epochHwm" -> JObject(m.epochHwm.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JLong(v): JValue) }))
    JsonMethods.pretty(JsonMethods.render(j))
  }

  private def fromJson(s: String): Metadata = {
    val j = JsonMethods.parse(s)
    val o = j.asInstanceOf[JObject].obj.toMap
    val format = o.get("format").map(jstr).getOrElse("<none>")
    if (format != "icelite/2") throw new IllegalStateException(
      s"unsupported table metadata format '$format' (this reader reads icelite/2)")
    val schemas = o("schemas").asInstanceOf[JArray].arr.map { sv =>
      val so = sv.asInstanceOf[JObject].obj.toMap
      Schema(
        jnum(so("schemaId")).toInt,
        so("fields").asInstanceOf[JArray].arr.map { fv =>
          val fo = fv.asInstanceOf[JObject].obj.toMap
          Field(jnum(fo("id")).toInt, jstr(fo("name")),
            typeFromJsonString(jstr(fo("type"))), jbool(fo("nullable")))
        })
    }
    val manifests = o("manifests").asInstanceOf[JArray].arr.map { rv =>
      val ro = rv.asInstanceOf[JObject].obj.toMap
      ManifestRef(jstr(ro("path")), jnum(ro("bucket")).toInt,
        jnum(ro("nFiles")).toInt)
    }
    val hwm = o("epochHwm").asInstanceOf[JObject].obj
      .map { case (k, v) => k -> jnum(v) }.toMap
    Metadata(
      jnum(o("version")).toInt, jnum(o("snapshotId")), jnum(o("parentSnapshotId")),
      jstr(o("epochKey")), jstr(o("operation")), jnum(o("currentSchemaId")).toInt,
      jnum(o("numBuckets")).toInt, schemas, manifests,
      o("epochLog").asInstanceOf[JArray].arr.map(jstr).toSet,
      hwm,
      jnum(o("committedAtMs")))
  }

  // ------------------------------------------------------------ manifests

  private def metaDir(dir: String): Path = Paths.get(dir, "metadata")
  private def dataDir(dir: String): Path = Paths.get(dir, "data")

  private val manifestSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Write one bucket's file list as an immutable manifest file. Uniquely
    * named per attempt, so racing committers can never collide — a lost
    * CAS only orphans the loser's manifests.
    */
  private def writeManifest(dir: String, bucket: Int,
      files: Seq[DataFileEntry]): ManifestRef = {
    val p = metaDir(dir).resolve(
      s"man-${System.nanoTime()}-${manifestSeq.incrementAndGet()}-b$bucket.json")
    val j = JObject(
      "bucket" -> JInt(bucket),
      "files" -> JArray(files.toList.map(fileToJson(_): JValue)))
    Files.createDirectories(metaDir(dir))
    Files.write(p, JsonMethods.compact(JsonMethods.render(j))
      .getBytes(StandardCharsets.UTF_8))
    ManifestRef(p.toString, bucket, files.size)
  }

  /** Bucket `r.bucket`'s data-file list, as `r` names it. */
  private[graft] def readManifest(r: ManifestRef): Seq[DataFileEntry] = {
    val s = new String(Files.readAllBytes(Paths.get(r.path)),
      StandardCharsets.UTF_8)
    val o = JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
    o("files").asInstanceOf[JArray].arr.map(fileFromJson)
  }

  // ---------------------------------------------------------------- load

  def exists(dir: String, catalog: Catalog = FileCatalog): Boolean =
    catalog.exists(dir)

  def currentVersion(dir: String, catalog: Catalog = FileCatalog): Int =
    catalog.currentVersion(dir)

  def load(dir: String, catalog: Catalog = FileCatalog): Metadata =
    loadVersion(dir, catalog.currentVersion(dir), catalog)

  def loadVersion(dir: String, v: Int,
      catalog: Catalog = FileCatalog): Metadata =
    fromJson(new String(catalog.readVersion(dir, v), StandardCharsets.UTF_8))

  /** Newest version committed at or before `tsMillis` (timestamp time
    * travel). Linear walk from the head — version count is bounded by
    * snapshot expiry and metadata files are tiny; a wall-clock regression
    * between commits can't break it the way a binary search could.
    */
  def versionAt(dir: String, tsMillis: Long,
      catalog: Catalog = FileCatalog): Int = {
    var v = catalog.currentVersion(dir)
    while (v >= 1) {
      // a MISSING older version file = expired history (snapshot expiry
      // deletes metadata first, then manifests — so the expired tail
      // surfaces as missing files): treat as end-of-walk, the documented
      // "expired" message below fires. Any OTHER IO error (transient read
      // failure, corrupt metadata) PROPAGATES — swallowing it would mask
      // corruption as expiry and wrongly report "no snapshot at or before"
      // even when loadable older snapshots exist.
      val committedAt =
        try { Some(loadVersion(dir, v, catalog).committedAtMs) }
        catch { case _: java.nio.file.NoSuchFileException |
          _: java.io.FileNotFoundException => None }
      committedAt match {
        case Some(ts) if ts <= tsMillis => return v
        case Some(_) => v -= 1
        case None => v = 0 // expired tail: nothing older is loadable either
      }
    }
    throw new IllegalArgumentException(
      s"icelite: no snapshot at or before timestamp $tsMillis in $dir " +
        "(or it was expired)")
  }

  // ---------------------------------------------------------------- create

  /** Create an empty table with user schema `struct` (field ids 1..n). */
  def create(dir: String, struct: StructType, numBuckets: Int,
      catalog: Catalog = FileCatalog): Metadata = {
    Files.createDirectories(metaDir(dir))
    Files.createDirectories(dataDir(dir))
    val fields = struct.fields.zipWithIndex.map { case (f, i) =>
      Field(i + 1, f.name, f.dataType, f.nullable)
    }
    val m = Metadata(1, snapshotId = 1L, parentSnapshotId = 0L,
      epochKey = "create", operation = "create", currentSchemaId = 1,
      numBuckets = numBuckets, schemas = Seq(Schema(1, fields.toIndexedSeq)),
      manifests = Nil, epochLog = Set("create"),
      epochHwm = Map.empty, committedAtMs = System.currentTimeMillis())
    require(catalog.tryPublish(dir, 1,
      toJson(m).getBytes(StandardCharsets.UTF_8)),
      s"table already exists at $dir")
    m
  }

  /** True iff `epochKey` was already committed — the replay no-op check. */
  def hasEpoch(dir: String, epochKey: String,
      catalog: Catalog = FileCatalog): Boolean =
    exists(dir, catalog) && load(dir, catalog).committedEpoch(epochKey)

  // ---------------------------------------------------------------- commit

  /** Atomic commit: replace `replacedBuckets`' files with `newFiles`, and/or
    * evolve the schema. Idempotent on `epochKey`: returns the existing
    * metadata unchanged if the epoch was already committed (even if the
    * process died between data-file staging and here — staged files of an
    * aborted attempt are unreachable garbage, never visible).
    *
    * Concurrency: optimistic. The commit is built against the loaded
    * current version and published with the catalog's conditional create;
    * when a concurrent committer wins the race, this committer reloads the
    * winner's metadata, re-checks the epoch (same-epoch races collapse to
    * the idempotent no-op) and REBASES.
    *
    * A rebase is only sound when this commit's files do not DEPEND on
    * table contents another committer may have changed: purely ADDITIVE
    * commits (no `replacedBuckets`) always rebase cleanly, but a commit
    * that REPLACES buckets computed its new files from those buckets'
    * prior contents. Callers that read-then-replace must pass
    * `baseVersion` = the version they read; if any replaced bucket
    * changed between base and current (a concurrent merge, compact, GC…),
    * the commit throws [[CommitConflictException]] instead of silently
    * clobbering the other committer's rows — the caller re-reads and
    * re-executes (Iceberg's serializable-isolation validation, same idea).
    *
    * Metadata writes per commit: one manifest per bucket GAINING files
    * this commit + the manifest list. A replaced bucket that gains none
    * drops its ref; every other ref is carried by reference. Manifest
    * reads per commit: one per bucket that gains files without being
    * replaced (its kept files) — a merge replaces every bucket it writes
    * and reads none. The conflict check compares refs only
    * ([[Metadata.changedBuckets]]).
    */
  def commit(
      dir: String,
      epochKey: String,
      operation: String,
      newFiles: Seq[DataFileEntry] = Nil,
      replacedBuckets: Set[Int] = Set.empty,
      newSchema: Option[Schema] = None,
      catalog: Catalog = FileCatalog,
      maxAttempts: Int = 10,
      baseVersion: Option[Int] = None): Metadata = {
    var attempts = 0
    while (true) {
      val cur = load(dir, catalog)
      if (cur.committedEpoch(epochKey)) return cur
      baseVersion.filter(_ != cur.version).foreach { bv =>
        if (cur.changedBuckets(loadVersion(dir, bv, catalog))
            .exists(replacedBuckets)) {
          throw new CommitConflictException(
            s"commit $epochKey based on v$bv replaces buckets " +
              s"modified by a concurrent commit (now v${cur.version}) — " +
              "re-read and re-execute")
        }
      }
      // racing schema evolutions would mint colliding schema ids
      newSchema.filter(s => cur.schemas.exists(_.schemaId == s.schemaId))
        .foreach { s =>
          throw new CommitConflictException(
            s"schema id ${s.schemaId} already exists at v${cur.version} — " +
              "a concurrent ALTER won; re-derive the evolution")
        }
      val newByBucket = newFiles.groupBy(_.bucket)
      // by reference: every bucket neither replaced nor gaining files
      val kept = cur.manifests.filterNot(r =>
        replacedBuckets(r.bucket) || newByBucket.contains(r.bucket))
      val written = newByBucket.toSeq.map { case (b, fs) =>
        writeManifest(dir, b,
          (if (replacedBuckets(b)) Nil else cur.filesIn(Set(b))) ++ fs)
      }
      val manifests2 = (kept ++ written).sortBy(_.bucket)
      val schemas = newSchema match {
        case Some(s) => cur.schemas :+ s
        case None => cur.schemas
      }
      // numeric-suffixed epochs fold into the per-prefix high-water mark
      // (see Metadata.committedEpoch); everything else stays in the set
      val (log2, hwm2) = splitNumericSuffix(epochKey) match {
        case Some((p, n)) =>
          (cur.epochLog,
            cur.epochHwm + (p -> math.max(cur.epochHwm.getOrElse(p, -1L), n)))
        case None => (cur.epochLog + epochKey, cur.epochHwm)
      }
      val m = Metadata(
        version = cur.version + 1,
        snapshotId = cur.snapshotId + 1,
        parentSnapshotId = cur.snapshotId,
        epochKey = epochKey,
        operation = operation,
        currentSchemaId = newSchema.map(_.schemaId).getOrElse(cur.currentSchemaId),
        numBuckets = cur.numBuckets,
        schemas = schemas,
        manifests = manifests2,
        epochLog = log2,
        epochHwm = hwm2,
        committedAtMs = System.currentTimeMillis())
      if (catalog.tryPublish(dir, m.version,
          toJson(m).getBytes(StandardCharsets.UTF_8))) {
        return m
      }
      // lost the CAS: a concurrent committer published this version first —
      // rebase on its metadata (this attempt's manifests become orphans)
      attempts += 1
      if (attempts >= maxAttempts) {
        throw new IllegalStateException(
          s"commit $epochKey lost the publish race $maxAttempts times at $dir")
      }
    }
    sys.error("unreachable")
  }

  // ---------------------------------------------------------------- read

  /** Internal (physical) columns appended to every data file by the writer;
    * they never evolve and never appear in the user schema.
    * `_offset`/`_partition` = source position of the winning event (the
    * late-data merge condition); `_deleted` = tombstone flag so a delete
    * masks later-arriving older events for the same url.
    */
  val internalFields: Seq[StructField] = Seq(
    StructField("_offset", LongType, nullable = true),
    StructField("_partition", IntegerType, nullable = true),
    StructField("_deleted", BooleanType, nullable = false))

  /** Read the table at the given (default: current) version, reconciled to
    * that version's schema, INCLUDING internal columns and tombstones.
    * Files are grouped by the schema they were written under; each group is
    * read schema-pinned, then renamed by field id / widened / null-filled to
    * the target schema — no data rewrite ever happens on evolution.
    */
  def readInternal(spark: SparkSession, dir: String,
      version: Option[Int] = None,
      buckets: Option[Set[Int]] = None,
      catalog: Catalog = FileCatalog): DataFrame = {
    val m = version.map(loadVersion(dir, _, catalog))
      .getOrElse(load(dir, catalog))
    val target = m.currentSchema
    val wanted = buckets.fold(m.files)(m.filesIn)
    val outStruct = StructType(target.struct.fields ++ internalFields)
    // an empty local relation, not an empty RDD: Catalyst folds a join or
    // union with it away (Merge's first load has no join left to run)
    if (wanted.isEmpty) {
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outStruct)
    }
    val bySchema = wanted.groupBy(_.schemaId).toSeq.sortBy(_._1)
    val parts = bySchema.map { case (sid, fs) =>
      val writeSchema = m.schemas.find(_.schemaId == sid).get
      val physical = StructType(writeSchema.struct.fields ++ internalFields)
      val df = spark.read.schema(physical).parquet(fs.map(_.path): _*)
      // reconcile by field id: rename, widen, then add missing as nulls
      val byId = writeSchema.fields.map(f => f.id -> f).toMap
      val cols = target.fields.map { tf =>
        byId.get(tf.id) match {
          case Some(wf) if wf.dataType == tf.dataType =>
            col(wf.name).as(tf.name)
          case Some(wf) =>
            col(wf.name).cast(tf.dataType).as(tf.name) // widening cast
          case None =>
            lit(null).cast(tf.dataType).as(tf.name) // added after write
        }
      } ++ internalFields.map(f => col(f.name))
      df.select(cols: _*)
    }
    parts.reduce(_ unionByName _)
  }

  /** Public read: the live rows (tombstones filtered) of `version`
    * (default: current), pruned to `buckets`, internal columns dropped —
    * or, with `position`, the stored CDC position `_offset`/`_partition`
    * kept (the SQL DML rewrite carries it through).
    */
  def read(spark: SparkSession, dir: String, version: Option[Int] = None,
      buckets: Option[Set[Int]] = None, position: Boolean = false,
      catalog: Catalog = FileCatalog): DataFrame =
    readInternal(spark, dir, version, buckets, catalog)
      .filter(!col("_deleted"))
      .drop((if (position) Seq("_deleted") else internalFields.map(_.name)): _*)

  /** An epoch key `<prefix>.<uuid slice>` for producers without a
    * monotone-commit contract (unkeyed save/INSERT, SQL DML, automatic
    * compaction): the suffix holds a '-', so it is never numeric and never
    * folds into the prefix's high-water mark, where two unrelated commits
    * could mask each other.
    */
  def uniqueEpoch(prefix: String): String =
    s"$prefix.${java.util.UUID.randomUUID().toString.substring(0, 13)}"

  /** Append-only commit of a DataFrame (sidecar lineage/metrics/DLQ
    * tables, `INSERT INTO`, `save`, the streaming sink): see [[write]].
    */
  def append(spark: SparkSession, dir: String, epochKey: String,
      df: DataFrame, catalog: Catalog = FileCatalog): Unit =
    write(dir, epochKey, df, replaceAll = false, catalog)

  /** Replace the ENTIRE table content with `df` as one epoch-keyed commit
    * (`save(Overwrite)`, SQL `INSERT OVERWRITE`): every bucket is
    * replaced, existing tombstones go with the rest of the prior content.
    */
  def overwrite(spark: SparkSession, dir: String, epochKey: String,
      df: DataFrame, catalog: Catalog = FileCatalog): Unit =
    write(dir, epochKey, df, replaceAll = true, catalog)

  /** The one user-frame writer: creates a single-bucket table when none
    * exists, stages `df` with null CDC position and no tombstones, and
    * commits it under `epochKey` (a replay of a committed key is a
    * no-op).
    *
    * LAYOUT INVARIANT: every writer buckets rows by
    * `Salt.bucket(key, numBuckets)` (key = first schema field), so a
    * key's rows live ONLY in its bucket's files — bucket-scoped rewrites
    * (merge, SQL MERGE, compaction) and bucket-pruned scans depend on it.
    * Single-bucket tables degenerate to bucket 0 unchanged.
    */
  private def write(dir: String, epochKey: String, df: DataFrame,
      replaceAll: Boolean, catalog: Catalog): Unit = {
    val m =
      if (exists(dir, catalog)) load(dir, catalog)
      else create(dir, df.schema, numBuckets = 1, catalog)
    if (m.committedEpoch(epochKey)) return
    val keyName = m.currentSchema.fields.head.name
    val staged = stageFiles(dir, epochKey,
      df.withColumn("_offset", lit(null).cast(LongType))
        .withColumn("_partition", lit(null).cast(IntegerType))
        .withColumn("_deleted", lit(false))
        .withColumn("_bucket",
          graft.functions.Salt.bucket(col(keyName), m.numBuckets)),
      m.currentSchemaId)
    if (replaceAll)
      commit(dir, epochKey, "overwrite", newFiles = staged,
        replacedBuckets = (0 until m.numBuckets).toSet, catalog = catalog)
    else commit(dir, epochKey, "append", newFiles = staged, catalog = catalog)
  }

  /** The one read-then-replace commit: stage `df` (internal columns plus
    * `_bucket`) and publish it as the new content of `buckets`, validated
    * against `base` — the metadata the rows were computed from — so a
    * concurrent commit into any of those buckets makes this one throw
    * [[CommitConflictException]] instead of clobbering it (callers wrap
    * the whole read-compute-replace in [[retryOnConflict]]). Files are
    * written under `newSchema` when the commit evolves the schema, else
    * under `base`'s current schema. A row whose `_bucket` is not in
    * `buckets` fails the call before the commit.
    */
  def replaceBuckets(dir: String, epochKey: String, operation: String,
      base: Metadata, df: DataFrame, buckets: Set[Int],
      newSchema: Option[Schema] = None): Metadata = {
    val staged = stageFiles(dir, epochKey, df,
      newSchema.fold(base.currentSchemaId)(_.schemaId))
    // a file beside an unreplaced bucket's rows could duplicate their keys
    val strays = staged.map(_.bucket).filterNot(buckets).distinct.sorted
    if (strays.nonEmpty) throw new IllegalStateException(
      s"epoch $epochKey staged rows into buckets $strays it does not replace")
    commit(dir, epochKey, operation, newFiles = staged,
      replacedBuckets = buckets, newSchema = newSchema,
      baseVersion = Some(base.version))
  }

  /** Run `body` — one whole read-then-replace — again when its commit
    * loses to a concurrent state-changing commit: re-executing against
    * the new current version is always sound, because the body re-reads
    * everything it replaces. Gives up after three conflicts, rethrowing
    * the last.
    */
  def retryOnConflict[A](body: => A): A = {
    var left = 3
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Write `df` (which must already contain the internal columns and a
    * `_bucket` column) into staged immutable data files under `data/`,
    * returning their entries. One Spark job writes one parquet file per
    * (task, bucket) into a per-call staging dir; the files of SUCCESSFUL
    * task attempts move into `data/` as
    * `<epoch>-<token>-b<bucket>-<n>.parquet`, then the staging dir is
    * deleted, also when the job fails (once its last running task ended,
    * see `BucketFileWriter.write`). Nothing is visible until `commit`
    * publishes the entries; a killed driver leaves orphans (staging dir
    * included) for `Maintenance.gcOrphans`.
    *
    * `<token>` is drawn per call, so a retried save under the same epoch
    * key (say, while the first attempt is still running) never writes over
    * files another attempt may already have committed; the move refuses
    * to replace, so a collision fails loudly instead.
    */
  def stageFiles(dir: String, epochKey: String, df: DataFrame,
      schemaId: Int): Seq[DataFileEntry] = {
    val safe = epochKey.replaceAll("[^A-Za-z0-9._-]", "_")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = Paths.get(dir, "data", s".staging-$safe-$token")
    try {
      val written = BucketFileWriter.write(df, staging.toString, epochKey)
      written.sortBy(f => (f._2, f._1)).zipWithIndex.map {
        case ((path, bucket, rows), seq) =>
          val dst = Paths.get(dir, "data", s"$safe-$token-b$bucket-$seq.parquet")
          Files.move(Paths.get(path), dst)
          DataFileEntry(dst.toString, bucket, schemaId, rows)
      }
    } finally deleteRecursively(staging)
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p).iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }
    Files.deleteIfExists(p)
  }
}
