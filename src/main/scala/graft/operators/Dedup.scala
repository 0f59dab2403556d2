package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup: one winning event per key (SURVEY.md §2.4), for replay segments
  * and streaming micro-batches alike.
  *
  * Semantics (BASELINE.json north_star): events are deduplicated by
  * `(url, warc_ts, event-offset)` and the LATEST event per url wins, under
  * the total order `(warc_ts, offset, partition)` — partition as final
  * tie-break makes the order total even across source partitions.
  *
  * Implementation is a single aggregation (`groupBy(url).max_by`), NOT a
  * window: Catalyst plans partial + final aggregation with map-side
  * combine, so at 10^10 events the shuffle carries one candidate row per
  * (url × map-task) instead of every event — and wire duplicates
  * (identical copies) collapse for free since `max_by` is duplicate-
  * insensitive. A `row_number()` window would shuffle + sort the full
  * batch instead. (Plan note, verified with explain("formatted"): the
  * struct-typed max_by buffer is not hash-aggregable, so Catalyst picks
  * SortAggregate — the map-side per-partition sort is parallel CPU; the
  * shuffle-volume win over a window is unchanged.)
  */
object Dedup {

  /** Winning event per url. Input: envelope-shaped DataFrame (op != ALTER,
    * url non-null). Output: same columns, one row per url.
    */
  def latestPerKey(events: DataFrame): DataFrame = {
    val cols = events.columns.toSeq
    events
      .groupBy(col("url"))
      .agg(max_by(
        struct(cols.map(col): _*),
        struct(col("warc_ts"), col("offset"), col("partition"))).as("_w"))
      .select(col("_w.*"))
  }

  /** Winning event per url, payload-light variant: a full binlog replay
    * sees every historical version of every url (10–100+ events per key),
    * where [[latestPerKey]] would funnel the whole payload (html, ~KB/row)
    * through a SortAggregate buffer. A micro-batch takes the same path, so
    * streaming and replay pick winners by one rule.
    * Same winners as [[latestPerKey]] (identical win order), but the
    * broadcast branch keeps every wire copy of a winner: copies are
    * byte-identical rows, and `Merge`'s per-url pick collapses them inside
    * the shuffle it runs anyway, so no shuffle is spent on them here.
    *
    * Size-checked: the winner set `(url → max (warc_ts, offset,
    * partition))` is computed over pruned fixed-width columns, locally
    * checkpointed, and counted; when it fits (`maxBroadcastKeys`) the
    * events are LEFT SEMI joined against an EXPLICIT broadcast of it —
    * payloads are filtered in place, never sorted or shuffled before the
    * merge. Otherwise falls back to the
    * single-pass [[latestPerKey]] partial aggregation (whose shuffle is
    * already bounded by distinct keys per map task).
    *
    * Returns the winners and their [[Merge.BatchStats]] over `nBuckets`
    * storage buckets, per source partition, from the one job the size
    * check runs over the winner table — so the stats cost no extra job on
    * either branch. The winner table carries a delete flag as the last
    * component of its version struct: equal `(warc_ts, offset, partition)`
    * means byte-identical wire copies, so the flag never reorders distinct
    * events. Merge sizes the salted write from the winner count and
    * prunes its read to the buckets: lane count should track per-bucket
    * volume and reducer parallelism, not a constant (a constant 4 salts
    * made a 20k-event CTAS open 256 parquet writers — 1.6 s of pure fixed
    * cost, the dominant Amdahl term in the replay). A micro-batch's
    * lineage and metrics read the per-partition winner and delete counts.
    *
    * Why explicit: the winner keys are FLATTENED to scalar columns (a
    * struct-typed join key is not hash-join-able — Catalyst would force a
    * SortMergeJoin and shuffle every payload; measured 30% throughput
    * loss), and the broadcast is hinted rather than left to AQE, because
    * AQE materializes both join children's shuffle WRITES before it can
    * switch strategy — the payload shuffle cost would already be paid.
    */
  def latestPerKeyAdaptive(events: DataFrame, nBuckets: Int,
      maxBroadcastKeys: Long = 4000000L): (DataFrame, Merge.BatchStats) = {
    val ver = struct(col("warc_ts"), col("offset"), col("partition"),
      (col("op") === "D").as("deleted"))
    // localCheckpoint, NOT cache(): cache() registers the frame in the
    // session-wide CacheManager, which holds it strongly — a per-batch
    // replay merge would leak one cached DataFrame per batch for the
    // session lifetime. Checkpoint blocks are owned by the RDD and freed
    // by the ContextCleaner as soon as the returned plan is unreferenced.
    // Lazy: the stats job fills the blocks, and the broadcast build reads
    // them instead of re-running the aggregation.
    val winners = events.groupBy(col("url")).agg(max(ver).as("_ver"))
      .select(col("url").as("_wurl"), col("_ver.warc_ts").as("_wts"),
        col("_ver.offset").as("_woff"), col("_ver.partition").as("_wpart"),
        col("_ver.deleted").as("_wdel"))
      .localCheckpoint(eager = false)
    val rows = winners.groupBy(col("_wpart"))
      .agg(count_if(col("_wdel")).as("deletes"),
        Merge.batchStatsCols(col("_wurl"), nBuckets): _*)
      .collect()
    val stats = Merge.BatchStats(rows.flatMap(_.getSeq[Int](2)).toSet,
      rows.map(_.getLong(3)).sum,
      rows.map(r => r.getInt(0) -> (r.getLong(3), r.getLong(1))).toMap)
    if (stats.winners <= maxBroadcastKeys) {
      // null-safe equality (<=>): a winning event with a NULL version
      // component must still match itself, exactly as latestPerKey keeps
      // it (EqualNullSafe remains a hash-join-able equi key)
      (events.join(broadcast(winners),
          col("url") <=> col("_wurl") && col("warc_ts") <=> col("_wts") &&
            col("offset") <=> col("_woff") &&
            col("partition") <=> col("_wpart"),
          "left_semi"), stats)
    } else {
      (latestPerKey(events), stats)
    }
  }
}
