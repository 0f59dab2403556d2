package graft.streaming

import graft.icelite.IceLite
import graft.model.Model
import graft.operators.{Dedup, Merge, SchemaEvolution}
import graft.sources.Ledger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The production entry point: Structured Streaming CDC pipeline
  * (BASELINE.json north_star — "tail a Kafka-carried binlog/WAL …
  * exactly-once via idempotent snapshot commits keyed by epoch-id plus
  * checkpointed source offsets … per-micro-batch per-partition lineage
  * records and throughput metrics to a sidecar table … recovery from any
  * checkpoint without duplicates or gaps").
  *
  * Exactly-once decomposition (SURVEY.md §3, entry point 1):
  *  - BEFORE a batch runs, Structured Streaming writes the offsets WAL in
  *    `checkpointDir` — the source-side bookkeeping.
  *  - INSIDE the batch, every effect (table merge, each ALTER, lineage
  *    append, metrics append) is an idempotent IceLite commit keyed by a
  *    deterministic epoch key derived from the batch id. A crash anywhere
  *    between the two WALs re-runs the batch on restart; committed epochs
  *    no-op, missing ones complete. No duplicates, no gaps.
  *
  * Watermark contract: `watermarkDelay` must be ≥ the source's maximum
  * event-time disorder. Events later than that are dropped by the dedup
  * state (standard append-mode semantics) — the batch↔streaming
  * equivalence gate holds because the synthetic source's disorder is
  * bounded (Ledger.Config.outOfOrderLagMs).
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
      watermarkDelay: String = "2 hours",
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
    val stream = Ledger.tail(spark, cfg.ledgerDir, cfg.maxFilesPerTrigger)
      .withWatermark("warc_ts", cfg.watermarkDelay)
      .dropDuplicatesWithinWatermark("url", "warc_ts", "offset", "partition")

    stream.writeStream
      .queryName("thorspark-pipeline")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        processBatch(df.sparkSession, cfg, df, epochId)
      }
      .start()
  }

  /** One micro-batch: ALTERs first (in global order), then one conditional
    * MERGE of the data events, then lineage + metrics sidecar commits —
    * each an independently idempotent epoch.
    */
  def processBatch(spark: SparkSession, cfg: Config, df: DataFrame,
      epochId: Long): Unit = {
    val t0 = System.nanoTime()
    def inject(point: String): Unit = cfg.failAt.foreach { case (e, p) =>
      if (e == epochId && p == point) {
        throw new RuntimeException(s"injected failure at epoch $epochId/$point")
      }
    }
    val batch = df.cache()
    try {
      // 0. dead-letter routing, same validity rule as batch replay
      // key shape stream.dlq.<n>: NUMERIC suffix so the DLQ table's epoch
      // log folds into a high-water mark instead of growing per batch.
      // NOTE (upgrade): pre-round-2 DLQ tables used stream.<n>.dlq keys,
      // which this HWM prefix does not cover — crash replay across that
      // upgrade would re-append those batches' DLQ rows once. Acceptable
      // pre-release; rewrite legacy DLQ tables when upgrading.
      cfg.dlqDir.foreach { dq =>
        IceLite.append(spark, dq, s"stream.dlq.$epochId",
          graft.operators.Validate.invalid(batch))
      }
      val okEvents = graft.operators.Validate.valid(batch)
      val isAlter = col("op") === "ALTER"
      val data = okEvents.filter(!isAlter)
      val deduped = Dedup.latestPerKey(data).cache()
      try {
        // 1. ONE bookkeeping action over the cached batch; rows are (kind,
        //    partition, a, b, c, alterJson, buckets): kind 0 = a distinct
        //    ALTER at offset a; 1 = a partition's RAW offset range a..b
        //    and event count c (lineage covers it gaplessly); 2 = its
        //    winners a, deletes b and their buckets. Lineage and metrics
        //    derive from batch content alone, so a crashed attempt's
        //    rerun reports the same rows.
        val nBuckets = IceLite.load(cfg.tableDir).numBuckets
        val none = lit(null)
        val book = okEvents.filter(isAlter)
          .select(col("partition"), col("offset"), col("alterJson")).distinct()
          .select(lit(0), col("partition"), col("offset"), lit(0L), lit(0L),
            col("alterJson"), none)
          .union(data.groupBy(col("partition"))
            .agg(min("offset").as("lo"), max("offset").as("hi"),
              count(lit(1)).as("n"))
            .select(lit(1), col("partition"), col("lo"), col("hi"), col("n"),
              none, none))
          .union(deduped.groupBy(col("partition"))
            .agg(sum(when(col("op") === "D", 1L).otherwise(0L)).as("d"),
              Merge.batchStatsCols(col("url"), nBuckets): _*)
            .select(lit(2), col("partition"), col("winners"), col("d"), lit(0L),
              none, col("buckets")))
          .collect().groupBy(_.getInt(0)).withDefaultValue(Array.empty)

        // 2. schema evolution, ordered by global position
        book(0).sortBy(r => (r.getLong(2), r.getInt(1))).zipWithIndex
          .foreach { case (r, k) =>
            SchemaEvolution(cfg.tableDir, r.getString(5), s"stream.$epochId.alter.$k")
          }
        val eventsIn = book(1).map(_.getLong(4)).sum
        if (eventsIn == 0) return // nothing to commit; replay-safe no-op
        val applied = book(2).map(r => r.getInt(1) -> r.getLong(2)).toMap
        val winners = applied.values.sum
        val dels = book(2).map(_.getLong(3)).sum

        // 3. the conditional merge, sized by the collected stats
        inject("beforeMerge")
        val snapshotId = Merge(spark, cfg.tableDir, deduped,
          s"stream.$epochId", cfg.nSalts,
          Some(Merge.BatchStats(book(2).flatMap(_.getSeq[Int](6)).toSet, winners)))
          .snapshotId
        inject("afterMerge")

        // 4. lineage: one row per source partition of this batch; the
        //    locally built frames are coalesced to one file per commit
        import spark.implicits._
        val lineageDf = book(1).map { r =>
          (epochId, r.getInt(1), r.getLong(2), r.getLong(3),
            applied.getOrElse(r.getInt(1), 0L), snapshotId,
            new java.sql.Timestamp(System.currentTimeMillis()))
        }.toSeq.toDF("epoch_id", "partition", "min_offset", "max_offset",
          "rows_applied", "snapshot_id", "commit_ts").coalesce(1)
        IceLite.append(spark, cfg.lineageDir, s"stream.$epochId", lineageDf)
        inject("afterLineage")

        // 5. throughput metrics: one row per batch
        val batchMs = (System.nanoTime() - t0) / 1000000L
        val metricsDf = Seq((epochId, eventsIn, winners - dels, dels, batchMs,
          if (batchMs > 0) eventsIn * 1000.0 / batchMs else 0.0))
          .toDF("epoch_id", "events_in", "rows_upserted", "rows_deleted",
            "batch_ms", "events_per_sec").coalesce(1)
        IceLite.append(spark, cfg.metricsDir, s"stream.$epochId", metricsDf)
      } finally deduped.unpersist()
    } finally batch.unpersist()
  }

  /** Run to end of available input and wait (the bounded-replay path). */
  def runToCompletion(spark: SparkSession, cfg: Config): Unit = {
    val q = run(spark, cfg, Trigger.AvailableNow())
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }
}
