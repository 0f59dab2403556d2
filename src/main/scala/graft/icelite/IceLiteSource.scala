package graft.icelite

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Spark Data Source API surface for IceLite tables, so a user reaches the
  * table format through the idiomatic entry points instead of the engine's
  * Scala API:
  *
  * {{{
  * spark.read.format("icelite").load("/path/table")                  // current
  * spark.read.format("icelite").option("version", 3).load(path)      // time travel
  * df.write.format("icelite").option("epoch", "job.7").mode("append").save(path)
  *
  * CREATE TABLE pages USING icelite OPTIONS (path '/path/table');
  * SELECT ... FROM pages;                 -- column-pruned scan
  * INSERT INTO pages SELECT ...;          -- epoch-keyed append commit
  * }}}
  *
  * DSv1 (`RelationProvider`) by design: the relation delegates to
  * [[IceLite.read]], so schema-evolution reconciliation, bucket layout and
  * tombstone filtering stay in ONE implementation, and Catalyst still sees
  * the underlying parquet scans (column pruning pushes through the inner
  * plan to the parquet readers). Note Spark caches v1 catalog relations at
  * first resolution: after an engine-side ALTER, `REFRESH TABLE t` picks
  * up the evolved schema (a stale entry fails the DML schema guard with a
  * clear message rather than corrupting anything). Writes are ordinary epoch-keyed commits —
  * idempotent and atomic like every other side effect in the engine. A
  * DSv2 `SupportsRowLevelOperations` (SQL `MERGE INTO`) surface remains
  * out of scope (SURVEY §4.3); conditional upserts go through
  * `operators.Merge`.
  */
class IceLiteSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "icelite"

  /** Schema-carrying entry point (`SchemaRelationProvider`): catalog
    * tables re-resolve through here with the schema STORED at CREATE
    * time. The TABLE's own metadata governs — the stored schema is
    * ignored, because after an engine-side ALTER it is exactly the stale
    * one (with `RelationProvider` alone, Spark hard-compares the two and
    * `REFRESH TABLE` could never pick up an evolved schema).
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters)

  /** `spark.readStream.format("icelite")`: the table AS A CHANGE STREAM.
    * Offsets are snapshot versions; each micro-batch is
    * `Changes.between(lastVersion, newVersion)` — the net (key,
    * change_type, row) delta, version-tuple based, no payload diffing.
    * `option("startingVersion", v)` replays history from `v` (v = 1, the
    * empty created table, streams the initial state as inserts); default
    * is the CURRENT version — only new commits stream. The lake-side
    * binlog: downstream pipelines (second-hop transforms, indexers)
    * subscribe to the table instead of re-scanning it.
    * `option("maxVersionsPerBatch", k)` bounds each micro-batch to k
    * table versions — a deep catch-up (startingVersion far behind head)
    * streams as bounded batches instead of one giant delta. After a
    * restart the first offer is uncapped (the engine's committed offset
    * is not visible to the source; capping below it would regress the
    * checkpoint), then the cap re-engages.
    *
    * The stream schema is frozen at query start (key, change_type, then
    * the remaining columns of that version's schema) — restart the query
    * to pick up a schema evolution, like any streaming source.
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), IceLiteStreamSource.changeSchema(path(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = path(parameters)
    // Resolve the initial version ONCE per checkpoint and persist it under
    // metadataPath (the FileStreamSource pattern). Without this, a
    // restart recomputes "default = CURRENT version": commits that landed
    // while the query was down would satisfy `v <= startingVersion`, so
    // getOffset would return None and those pending versions were never
    // offered — AvailableNow terminated without draining them, and a
    // continuous query stalled until a future commit bumped current.
    val (startingVersion, fresh) = resolveStartingVersion(metadataPath,
      parameters.get("startingVersion").map(_.trim.toInt)
        .getOrElse(IceLite.currentVersion(dir)))
    // admission control: cap each micro-batch at k table versions, so a
    // long catch-up (startingVersion far behind head) streams as bounded
    // batches instead of one giant delta
    val maxVersions = parameters.get("maxVersionsPerBatch").map(_.trim.toInt)
    maxVersions.foreach(k => require(k >= 1,
      s"icelite: maxVersionsPerBatch must be >= 1 (got $k)"))
    new IceLiteStreamSource(sqlContext.sparkSession, dir, startingVersion,
      maxVersions, seedFloor = fresh)
  }

  /** First start: persist `fresh` under the checkpoint's metadataPath and
    * return `(fresh, true)`. Restart: return the persisted value and
    * `false`. Only this query's driver touches its own checkpoint dir, so
    * a plain temp-file + ATOMIC_MOVE publish is race-free; an unreadable
    * file (crash mid-first-start) is treated as absent and rewritten.
    * The freshness flag seeds the rate-limit floor: on a fresh start the
    * engine provably has no progress beyond `fresh`, so capping can start
    * from batch one; on restart the real progress lives in the engine's
    * offset WAL (not visible to the source), so the first offer is
    * uncapped rather than risk offering an offset BEHIND the committed
    * one (which would regress the checkpoint).
    */
  private def resolveStartingVersion(metadataPath: String,
      fresh: Int): (Int, Boolean) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val mp = if (metadataPath.startsWith("file:"))
      new java.net.URI(metadataPath).getPath else metadataPath
    val f = Paths.get(mp, "graft-starting-version")
    val persisted =
      try {
        if (Files.exists(f))
          Some(new String(Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
        else None
      } catch { case _: Throwable => None }
    persisted.map((_, false)).getOrElse {
      Files.createDirectories(f.getParent)
      val tmp = Files.createTempFile(f.getParent, ".graft-sv", ".tmp")
      Files.write(tmp, fresh.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      (fresh, true)
    }
  }

  /** `df.writeStream.format("icelite")`: append-only streaming sink.
    * Each micro-batch is one epoch-keyed commit `<epochPrefix>.<batchId>`
    * — batch ids are monotone per checkpoint (Structured Streaming's WAL
    * contract), so the keys fold into the per-prefix high-water mark and
    * a crash/restart replaying the tail batch is an exact no-op:
    * exactly-once without any sink-side log. Richer per-batch effects
    * (conditional MERGE, lineage, metrics) belong to `streaming.Pipeline`
    * (foreachBatch); this sink is the idiomatic surface for plain
    * append-shaped streams.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"icelite sink: Append output mode only (got $outputMode) — " +
        "aggregating streams go through streaming.Pipeline/foreachBatch")
    new IceLiteStreamSink(sqlContext.sparkSession, path(parameters),
      parameters.getOrElse("epochPrefix", "stream.sink"))
  }

  private def path(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path", throw new IllegalArgumentException(
      "icelite: 'path' must be set (load(path) or OPTIONS (path '...'))"))
    // SQL CREATE TABLE qualifies the option into a URI (file:/tmp/x);
    // IceLite metadata IO is java.nio over local paths
    if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = path(parameters)
    val byVersion = parameters.get("version").map(_.trim.toInt)
    // timestamp time travel: epoch millis, or a `Timestamp.valueOf`
    // literal ("yyyy-mm-dd hh:mm:ss[.f…]"); resolved to a version HERE so
    // the relation stays pinned to one snapshot for its whole lifetime
    val byTs = parameters.get("timestampAsOf").map(_.trim).map { raw =>
      val ms = if (raw.forall(_.isDigit)) raw.toLong
        else java.sql.Timestamp.valueOf(raw).getTime
      IceLite.versionAt(dir, ms)
    }
    require(byVersion.isEmpty || byTs.isEmpty,
      "icelite: set either 'version' or 'timestampAsOf', not both")
    IceLiteRelation(sqlContext, dir, byVersion.orElse(byTs))
  }

  /** `df.write.format("icelite")`: Append = epoch-keyed append commit;
    * Overwrite = replace every bucket holding rows (plus, for a fresh
    * table, creation). The epoch key comes from `.option("epoch", ...)` —
    * REQUIRED for exactly-once retries; an unkeyed save gets a
    * wall-clock-unique key (safe, but a retried job appends twice).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = path(parameters)
    val spark = sqlContext.sparkSession
    // unkeyed saves get a wall-clock-unique key with a NON-numeric suffix:
    // numeric suffixes fold into the per-prefix epoch high-water mark,
    // where two unrelated concurrent saves could mask each other
    val epoch = parameters.getOrElse("epoch",
      s"save.${System.currentTimeMillis()}-${Integer.toHexString(
        java.util.concurrent.ThreadLocalRandom.current().nextInt())}")
    val tableExists = IceLite.exists(dir)
    mode match {
      case SaveMode.ErrorIfExists if tableExists =>
        throw new IllegalStateException(s"icelite table exists: $dir")
      case SaveMode.Ignore if tableExists => ()
      case SaveMode.Overwrite =>
        IceLiteSource.overwriteCommit(spark, dir, epoch, data)
      case _ => // Append / ErrorIfExists / Ignore on a fresh table
        IceLite.append(spark, dir, epoch, data)
    }
    createRelation(sqlContext, parameters)
  }

}

object IceLiteSource {
  /** Replace the ENTIRE table content with `data` as one epoch-keyed
    * commit (creating a fresh single-bucket table when none exists) —
    * the shared implementation behind `save(Overwrite)` and SQL
    * `INSERT OVERWRITE`. Every bucket is replaced; existing tombstones
    * are dropped with the rest of the prior content (full replace
    * semantics, not a merge).
    */
  private[icelite] def overwriteCommit(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: String, data: DataFrame): Unit = {
    if (!IceLite.exists(dir)) IceLite.create(dir, data.schema, numBuckets = 1)
    if (!IceLite.hasEpoch(dir, epoch)) {
      val m = IceLite.load(dir)
      // bucket by key: see the layout invariant on IceLite.append
      val keyName = m.currentSchema.fields.head.name
      val bucketed = withInternals(data).withColumn("_bucket",
        graft.functions.Salt.bucket(
          org.apache.spark.sql.functions.col(keyName), m.numBuckets))
      val staged = IceLite.stageFiles(dir, epoch, bucketed, m.currentSchemaId)
      IceLite.commit(dir, epoch, "overwrite", newFiles = staged,
        replacedBuckets = (0 until m.numBuckets).toSet)
    }
  }

  private def withInternals(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("_offset", lit(null).cast("long"))
      .withColumn("_partition", lit(null).cast("int"))
      .withColumn("_deleted", lit(false))
  }
}

object IceLiteStreamSource {
  /** Stream schema: key, change_type, then the remaining table columns
    * (matches `Changes.between`'s output order exactly). EVERY column is
    * nullable regardless of the table schema: a delete's row columns are
    * null (the key survives via the diff's coalesce, but downstream
    * encoders must not be promised non-null anything in a delta).
    */
  def changeSchema(dir: String): StructType = {
    val s = IceLite.load(dir).currentSchema.struct
    StructType((s.fields.head +:
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true) +:
      s.fields.tail).map(_.copy(nullable = true)))
  }
}

/** Change-stream source over an IceLite table (see
  * [[IceLiteSource.createSource]]): offset = snapshot version, batch =
  * net row delta between two versions.
  */
class IceLiteStreamSource(spark: org.apache.spark.sql.SparkSession,
    dir: String, startingVersion: Int,
    maxVersionsPerBatch: Option[Int] = None, seedFloor: Boolean = true)
    extends org.apache.spark.sql.execution.streaming.Source {
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override val schema: StructType = IceLiteStreamSource.changeSchema(dir)

  /** Rate-limit floor: the highest version this source KNOWS the engine
    * has been given (last offer or last served batch end). `None` until
    * known — a restarted query's real progress lives in the engine's WAL,
    * so the first post-restart offer goes uncapped (see
    * `resolveStartingVersion`); every later one caps at floor + k.
    */
  private var floor: Option[Int] =
    if (seedFloor) Some(startingVersion) else None

  private def ver(o: V1Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json.trim.toInt // WAL-restored SerializedOffset
  }

  override def getOffset: Option[V1Offset] = {
    val cur = IceLite.currentVersion(dir)
    val target = (maxVersionsPerBatch, floor) match {
      case (Some(k), Some(f)) => math.min(cur, f + k)
      case _ => cur
    }
    if (target <= startingVersion) None
    else {
      floor = Some(math.max(floor.getOrElse(target), target))
      Some(LongOffset(target.toLong))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : org.apache.spark.sql.DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion)
    val to = ver(end)
    floor = Some(math.max(floor.getOrElse(to), to))
    val delta = graft.operators.Changes
      .between(spark, dir, from, Some(to))
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    org.apache.spark.sql.graftbridge.PlanBridge
      .asStreamingBatch(spark, delta, schema)
  }

  override def stop(): Unit = ()
  override def toString: String = s"IceLiteChangeStream[$dir]"
}

/** Append-only streaming sink: one idempotent epoch-keyed commit per
  * micro-batch (see [[IceLiteSource.createSink]]).
  */
class IceLiteStreamSink(spark: org.apache.spark.sql.SparkSession,
    dir: String, epochPrefix: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graftbridge.PlanBridge
      .rebindBatch(spark, data)
    IceLite.append(spark, dir, s"$epochPrefix.$batchId", batch)
  }
  override def toString: String = s"IceLiteSink[$dir]"
}

/** Read relation: current (or time-travel) live rows, reconciled to that
  * version's schema. `PrunedFilteredScan`: SELECTed columns prune through
  * the inner plan down to the parquet `ReadSchema`, and pushed filters are
  * applied INSIDE the inner plan so Catalyst forwards them to the parquet
  * readers (`PushedFilters` on the physical scan — row groups skip via
  * parquet statistics). Equality/IN filters on the table's key column
  * additionally prune the METADATA file list to the keys' storage buckets
  * (`pmod(xxhash64(key), nBuckets)` evaluated driver-side with the same
  * Catalyst expression the writer used): a point lookup on a 10^5-bucket
  * table opens a handful of files, not the table. `InsertableRelation` so
  * SQL `INSERT INTO` lands as an epoch-keyed append commit.
  */
case class IceLiteRelation(sqlContext: SQLContext, dir: String,
    version: Option[Int]) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  /** Frozen at first access (= analysis of the first query using this
    * relation instance): Spark fixes the LogicalRelation's output
    * attributes from this schema anyway, so re-loading per call could
    * only DISAGREE with the analyzed plan, never update it. buildScan
    * re-checks the table against this frozen schema and fails with a
    * clear message if an evolution landed in between (see the guard
    * there) — `REFRESH TABLE` mints a fresh relation with the new schema.
    */
  override lazy val schema: StructType = {
    val m = version.map(IceLite.loadVersion(dir, _))
      .getOrElse(IceLite.load(dir))
    m.currentSchema.struct
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** Exact Column translation of a pushed source filter, when possible.
    * A translated filter is applied verbatim inside the inner plan, so it
    * is fully handled; untranslated ones are re-applied by Spark above.
    */
  private def toCol(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case Not(sub) => toCol(sub).map(!_)
    case Or(l, r) => for { lc <- toCol(l); rc <- toCol(r) } yield lc || rc
    case And(l, r) => for { lc <- toCol(l); rc <- toCol(r) } yield lc && rc
    case _ => None
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(toCol(_).isEmpty)

  private def bucketOf(v: Any, nBuckets: Int): Int =
    graft.functions.Salt.bucketOfValue(v, nBuckets)

  /** Buckets implied by key filters (the filter array is an implicit AND,
    * so any single key-pinning conjunct bounds the scan). */
  private def keyBuckets(filters: Array[Filter], keyName: String,
      nBuckets: Int): Option[Set[Int]] =
    filters.collectFirst {
      case EqualTo(a, v) if a == keyName && v != null =>
        Set(bucketOf(v, nBuckets))
      case EqualNullSafe(a, v) if a == keyName && v != null =>
        Set(bucketOf(v, nBuckets))
      case In(a, vs) if a == keyName =>
        vs.filter(_ != null).map(bucketOf(_, nBuckets)).toSet
    }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val spark = sqlContext.sparkSession
    val m = version.map(IceLite.loadVersion(dir, _)).getOrElse(IceLite.load(dir))
    // schema-drift guard: the query was ANALYZED against the frozen
    // `schema` above; if an ALTER landed since, emitting rows reconciled
    // to the NEW schema would silently produce the wrong column set/order
    // — fail clearly instead (data-only commits don't change the schema,
    // so ordinary reads stay fresh)
    if (m.currentSchema.struct.fields.map(f => (f.name, f.dataType)).toSeq
        != schema.fields.map(f => (f.name, f.dataType)).toSeq) {
      throw new IllegalStateException(
        s"icelite: $dir schema evolved since this query was analyzed — " +
          "run REFRESH TABLE (or re-create the DataFrame) and re-run")
    }
    val buckets = keyBuckets(filters, m.currentSchema.fields.head.name,
      m.numBuckets)
    val base = IceLite.readInternal(spark, dir, version, buckets)
      .filter(!col("_deleted"))
      .drop(IceLite.internalFields.map(_.name): _*)
    val filtered = filters.flatMap(toCol).foldLeft(base)(_ filter _)
    // DSv1 contract: empty projection still needs correctly-counted rows
    if (requiredColumns.isEmpty) filtered.rdd
    else filtered.select(requiredColumns.head, requiredColumns.tail: _*).rdd
  }

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    // non-numeric suffix: see the save() epoch note
    val epoch = s"insert.${System.currentTimeMillis()}-${Integer.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextInt())}"
    if (overwrite) {
      // SQL INSERT OVERWRITE: full replace as one epoch-keyed commit
      IceLiteSource.overwriteCommit(sqlContext.sparkSession, dir, epoch, data)
    } else {
      IceLite.append(sqlContext.sparkSession, dir, epoch, data)
    }
  }
}
