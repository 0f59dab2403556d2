package graft.streaming

import graft.icelite.IceLite
import graft.model.Model
import graft.operators.{Replay, Validate}
import graft.sources.Ledger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The production entry point: Structured Streaming CDC pipeline
  * (BASELINE.json north_star — "tail a Kafka-carried binlog/WAL …
  * exactly-once via idempotent snapshot commits keyed by epoch-id plus
  * checkpointed source offsets … per-micro-batch per-partition lineage
  * records and throughput metrics to a sidecar table … recovery from any
  * checkpoint without duplicates or gaps").
  *
  * Exactly-once decomposition (SURVEY.md §3, entry point 1), without
  * streaming state — exactly-once comes from a replayable source plus
  * idempotent sinks:
  *  - BEFORE a batch runs, Structured Streaming writes the offsets WAL in
  *    `checkpointDir` — the source-side bookkeeping.
  *  - INSIDE the batch, every effect is an idempotent IceLite commit keyed
  *    by a deterministic epoch key. The batch is one slice of
  *    `Replay.applySlice`, the replay's own routine: its first segment
  *    merges as `stream.<epochId>`, a segment that a rename, drop or widen
  *    opens as `stream.<epochId>.<k>`, and each ALTER commits by its
  *    ledger position (`stream.alter.<offset>-<partition>`, so a
  *    re-delivered ALTER no-ops). Lineage and metrics append by the batch
  *    id (`stream.<epochId>`). A crash anywhere between the two WALs
  *    re-runs the batch on restart; committed epochs no-op, missing ones
  *    complete. No duplicates, no gaps.
  *  - ACROSS batches, the conditional merge is the dedup: an event the
  *    wire re-delivers never beats its stored copy (equal `(warc_ts,
  *    offset, partition)` is not fresher) and tombstones mask older
  *    events, so no state store sits in front of it. A batch splits at
  *    its ALTERs and picks each segment's winners exactly as a replay
  *    does, so the final table equals a replay's for any disorder, any
  *    ALTER kind and any batch boundaries.
  *
  * Input accounting is at-least-once, like a Kafka sink's records-read
  * counter: a batch's `events_in` counts the distinct `(partition,
  * offset)` positions of its valid data events, its lineage row per
  * partition spans the positions it delivered, its winner counts
  * (`rows_applied`, `rows_upserted`, `rows_deleted`) are over those
  * events, and its dead-letter rows hold each malformed position it
  * delivered once. The winner counts sum the batch's segments: a batch
  * that a rename, drop or widen splits counts a url once per segment it
  * wins in, as the replay's segments do; an add does not split it. A
  * position a later batch re-delivers counts there again; the table is
  * unaffected, because the merge rejects the copy.
  * Counts are a pure function of batch content, so a crashed batch's
  * rerun reports the same rows.
  */
object Pipeline {

  case class Config(
      ledgerDir: String,
      tableDir: String,
      checkpointDir: String,
      lineageDir: String,
      metricsDir: String,
      nBuckets: Int = 32,
      nSalts: Int = 4,
      maxFilesPerTrigger: Int = 8,
      /** dead-letter sidecar table for malformed events (None = drop) */
      dlqDir: Option[String] = None,
      /** test hook: throw at (epochId, point); point ∈ {beforeMerge,
        * afterMerge, afterLineage} — the M5 kill/restart fault injection */
      failAt: Option[(Long, String)] = None)

  /** Start the pipeline. `Trigger.AvailableNow()` = bounded replay-to-end
    * (the bench path); `ProcessingTime` = continuous tail.
    */
  def run(spark: SparkSession, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    if (!IceLite.exists(cfg.tableDir)) {
      IceLite.create(cfg.tableDir, Model.pagesSchema, cfg.nBuckets)
    }
    Ledger.tail(spark, cfg.ledgerDir, cfg.maxFilesPerTrigger).writeStream
      .queryName("thorspark-pipeline")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        processBatch(df.sparkSession, cfg, df, epochId)
      }
      .start()
  }

  /** One micro-batch: its slice of the ledger through
    * `Replay.applySlice` (the replay's ALTER rule, winners and merge), then
    * lineage + metrics sidecar commits — each an independently idempotent
    * epoch.
    */
  def processBatch(spark: SparkSession, cfg: Config, df: DataFrame,
      epochId: Long): Unit = {
    val t0 = System.nanoTime()
    def inject(point: String): Unit = cfg.failAt.foreach { case (e, p) =>
      if (e == epochId && p == point) {
        throw new RuntimeException(s"injected failure at epoch $epochId/$point")
      }
    }
    // 0. dead-letter routing, same validity rule as batch replay
    // key shape stream.dlq.<n>: NUMERIC suffix so the DLQ table's epoch
    // log folds into a high-water mark instead of growing per batch.
    // NOTE (upgrade): pre-round-2 DLQ tables used stream.<n>.dlq keys,
    // which this HWM prefix does not cover — crash replay across that
    // upgrade would re-append those batches' DLQ rows once. Acceptable
    // pre-release; rewrite legacy DLQ tables when upgrading.
    cfg.dlqDir.foreach { dq =>
      IceLite.append(spark, dq, s"stream.dlq.$epochId", Validate.invalid(df))
    }
    val okEvents = Validate.valid(df)
    val isAlter = col("op") === "ALTER"

    // 1. ONE bookkeeping action over the batch, a row per partition: the
    //    offset range of its data events (lineage covers it gaplessly),
    //    their count of distinct positions, and its distinct ALTERs
    val off = col("offset")
    val book = okEvents.groupBy(col("partition"))
      .agg(min(when(!isAlter, off)), max(when(!isAlter, off)),
        count_distinct(when(!isAlter, off)),
        collect_set(when(isAlter, struct(off, col("alterJson")))))
      .collect()
    val ranges = book.filter(_.getLong(3) > 0)
    val alters = book.toSeq.flatMap(r => r.getSeq[Row](4)
      .map(a => ((a.getLong(0), r.getInt(0)), a.getString(1)))).sortBy(_._1)
    val eventsIn = ranges.map(_.getLong(3)).sum
    if (eventsIn == 0 && alters.isEmpty) return // replay-safe no-op

    // 2. the replay's slice routine: segment 0 merges as stream.<epochId>,
    //    the segments a rename, drop or widen opens as stream.<epochId>.<k>
    inject("beforeMerge")
    val segs = Replay.applySlice(spark, cfg.tableDir, okEvents, alters,
      k => if (k == 0) s"stream.$epochId" else s"stream.$epochId.$k",
      "stream.alter", cfg.nSalts)
    inject("afterMerge")
    if (eventsIn == 0) return // an ALTER-only batch: nothing to report

    // 3. lineage: one row per source partition of this batch; the
    //    locally built frames are coalesced to one file per commit
    import spark.implicits._
    val parts = segs.flatMap(_.partitions.toSeq)
    def applied(p: Int) = parts.collect { case (`p`, (w, _)) => w }.sum
    val snapshotId = IceLite.load(cfg.tableDir).snapshotId
    val lineageDf = ranges.map { r =>
      (epochId, r.getInt(0), r.getLong(1), r.getLong(2), applied(r.getInt(0)),
        snapshotId, new java.sql.Timestamp(System.currentTimeMillis()))
    }.toSeq.toDF("epoch_id", "partition", "min_offset", "max_offset",
      "rows_applied", "snapshot_id", "commit_ts").coalesce(1)
    IceLite.append(spark, cfg.lineageDir, s"stream.$epochId", lineageDf)
    inject("afterLineage")

    // 4. throughput metrics: one row per batch
    val dels = parts.map(_._2._2).sum
    val batchMs = (System.nanoTime() - t0) / 1000000L
    val metricsDf = Seq((epochId, eventsIn, segs.map(_.winners).sum - dels, dels,
      batchMs, if (batchMs > 0) eventsIn * 1000.0 / batchMs else 0.0))
      .toDF("epoch_id", "events_in", "rows_upserted", "rows_deleted",
        "batch_ms", "events_per_sec").coalesce(1)
    IceLite.append(spark, cfg.metricsDir, s"stream.$epochId", metricsDf)
  }

  /** Run to end of available input and wait (the bounded-replay path). */
  def runToCompletion(spark: SparkSession, cfg: Config): Unit = {
    val q = run(spark, cfg, Trigger.AvailableNow())
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }
}
