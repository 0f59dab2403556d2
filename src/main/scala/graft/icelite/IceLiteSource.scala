package graft.icelite

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
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
  * DSv1 (`RelationProvider`) by design: every read goes through
  * [[IceLiteScan]] over [[IceLite.read]], so schema-evolution
  * reconciliation, bucket layout, tombstone filtering and the schema-drift
  * guard stay in ONE implementation. Pushdown and bucket pruning are the
  * job of the `GraftExtensions` optimizer rule ([[IceLiteScanSubstitution]]),
  * which swaps the relation for the engine's parquet read plan; the
  * relation's own `buildScan` is the unpruned, guarded fallback of a
  * session without the extensions. Note Spark caches v1 catalog relations
  * at first resolution: after an engine-side ALTER, `REFRESH TABLE t` picks
  * up the evolved schema (a stale entry fails the schema-drift guard with a
  * clear message rather than corrupting anything). Writes are ordinary
  * epoch-keyed commits through [[IceLite.append]] / [[IceLite.overwrite]] —
  * idempotent and atomic like every other side effect in the engine. A
  * DSv2 `SupportsRowLevelOperations` surface remains out of scope (SURVEY
  * §4.3); SQL `MERGE INTO` goes through `operators.SqlMerge`.
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
    * table versions past the offset the engine hands back, so a deep
    * catch-up (startingVersion far behind head) streams as bounded
    * batches instead of one giant delta — under `Trigger.AvailableNow`
    * too, which drains up to the version current at query start.
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
    // they were never offered — AvailableNow terminated without draining
    // them, and a continuous query stalled until a future commit bumped
    // current.
    val startingVersion = resolveStartingVersion(metadataPath,
      parameters.get("startingVersion").map(_.trim.toInt)
        .getOrElse(IceLite.currentVersion(dir)))
    val maxVersions = parameters.get("maxVersionsPerBatch").map(_.trim.toInt)
    maxVersions.foreach(k => require(k >= 1,
      s"icelite: maxVersionsPerBatch must be >= 1 (got $k)"))
    new IceLiteStreamSource(sqlContext.sparkSession, dir, startingVersion,
      maxVersions)
  }

  /** First start: persist `fresh` under the checkpoint's metadataPath and
    * return it. Restart: return the persisted value. Only this query's
    * driver touches its own checkpoint dir, so a plain temp-file +
    * ATOMIC_MOVE publish is race-free; an unreadable file (crash
    * mid-first-start) is treated as absent and rewritten.
    */
  private def resolveStartingVersion(metadataPath: String,
      fresh: Int): Int = {
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
    persisted.getOrElse {
      Files.createDirectories(f.getParent)
      val tmp = Files.createTempFile(f.getParent, ".graft-sv", ".tmp")
      Files.write(tmp, fresh.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      fresh
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
    * Overwrite = replace every bucket (plus, for a fresh table,
    * creation). The epoch key comes from `.option("epoch", ...)` —
    * REQUIRED for exactly-once retries; an unkeyed save gets a unique key
    * (safe, but a retried job appends twice).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = path(parameters)
    val spark = sqlContext.sparkSession
    val epoch = parameters.getOrElse("epoch", IceLite.uniqueEpoch("save"))
    val tableExists = IceLite.exists(dir)
    mode match {
      case SaveMode.ErrorIfExists if tableExists =>
        throw new IllegalStateException(s"icelite table exists: $dir")
      case SaveMode.Ignore if tableExists => ()
      case SaveMode.Overwrite => IceLite.overwrite(spark, dir, epoch, data)
      case _ => // Append / ErrorIfExists / Ignore on a fresh table
        IceLite.append(spark, dir, epoch, data)
    }
    createRelation(sqlContext, parameters)
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
  * net row delta between two versions. Admission control follows Spark's
  * contract: the engine hands `latestOffset` the offset it last planned
  * (null before the first batch), and each batch ends at most
  * `maxVersionsPerBatch` versions past it.
  */
class IceLiteStreamSource(spark: org.apache.spark.sql.SparkSession,
    dir: String, startingVersion: Int, maxVersionsPerBatch: Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override val schema: StructType = IceLiteStreamSource.changeSchema(dir)

  /** `Trigger.AvailableNow`'s end: the version current at query start. */
  private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(IceLite.currentVersion(dir))

  private def ver(o: Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json.trim.toInt // WAL-restored SerializedOffset
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = Option(start).map(ver).getOrElse(startingVersion)
    val end = availableNowEnd.getOrElse(IceLite.currentVersion(dir))
    val target = maxVersionsPerBatch.fold(end)(k => math.min(end, from + k))
    if (target <= from) start else LongOffset(target.toLong)
  }

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : org.apache.spark.sql.DataFrame = {
    val from = start.map(ver).getOrElse(startingVersion)
    val delta = graft.operators.Changes.between(spark, dir, from, Some(ver(end)))
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

/** Read relation: the live rows of the current (or time-travel) version,
  * reconciled to that version's schema. With `GraftExtensions` installed
  * the optimizer replaces this relation by the pruned, pushed-down parquet
  * plan before it is ever scanned ([[IceLiteScanSubstitution]]); without
  * them, `buildScan` is the unpruned fallback, guarded by the same
  * [[IceLiteScan]] check. `InsertableRelation` so SQL `INSERT [OVERWRITE]`
  * lands as one epoch-keyed commit.
  */
case class IceLiteRelation(sqlContext: SQLContext, dir: String,
    version: Option[Int]) extends BaseRelation
    with TableScan with InsertableRelation {

  /** Frozen at first access (= analysis of the first query using this
    * relation instance): Spark fixes the LogicalRelation's output
    * attributes from this schema anyway, so re-loading per call could
    * only DISAGREE with the analyzed plan, never update it. Every scan
    * re-checks the table against it ([[IceLiteScan]]) — `REFRESH TABLE`
    * mints a fresh relation with the new schema.
    */
  override lazy val schema: StructType = {
    val m = version.map(IceLite.loadVersion(dir, _))
      .getOrElse(IceLite.load(dir))
    m.currentSchema.struct
  }

  override def buildScan(): RDD[Row] = {
    val spark = sqlContext.sparkSession
    val scan = IceLiteScan(dir, version,
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
    org.apache.spark.sql.graftbridge.PlanBridge
      .ofRows(spark, scan.plan(spark, None)).rdd
  }

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    val epoch = IceLite.uniqueEpoch("insert")
    if (overwrite) IceLite.overwrite(sqlContext.sparkSession, dir, epoch, data)
    else IceLite.append(sqlContext.sparkSession, dir, epoch, data)
  }
}
