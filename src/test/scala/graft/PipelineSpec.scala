package graft

import graft.icelite.IceLite
import graft.operators.{Equivalence, Replay}
import graft.sources.Ledger
import graft.streaming.Pipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** M3 streaming pipeline + M5 kill/restart fault injection
  * (BASELINE.json: replay equivalence, recovery "without duplicates or
  * gaps", mid-stream schema evolution).
  */
class PipelineSpec extends SparkTestBase {

  private def mkLedger(name: String, cfg: Ledger.Config): String = {
    val dir = tmpDir(name)
    Ledger.synthesize(spark, cfg, dir)
    dir
  }

  private def pipeCfg(work: String, ledger: String,
      failAt: Option[(Long, String)] = None) = Pipeline.Config(
    ledgerDir = ledger, tableDir = s"$work/pages",
    checkpointDir = s"$work/checkpoint", lineageDir = s"$work/_lineage",
    metricsDir = s"$work/_metrics", nBuckets = 8, maxFilesPerTrigger = 4,
    failAt = failAt)

  test("streaming final state == batch replay final state (incl. mid-stream ALTER)") {
    val cfg = Ledger.Config(seed = 11L, nEvents = 4000, nDomains = 25,
      pagesPerDomain = 10, partitions = 4, segments = 4,
      duplicateRate = 0.06, deleteRate = 0.06,
      alterAt = Map(1700L -> Ledger.addColumnJson("fetch_ms", "long")))
    val ledger = mkLedger("pl_ledger", cfg)
    val work = tmpDir("pl_work")

    Pipeline.runToCompletion(spark, pipeCfg(work, ledger))

    val batchTable = tmpDir("pl_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)

    val streamed = IceLite.read(spark, s"$work/pages")
    val batched = IceLite.read(spark, batchTable)
    assert(streamed.columns.contains("fetch_ms"), "ALTER applied in stream")
    val d = Equivalence.diff(streamed, batched)
    assert(d.isEmpty, s"diff rows: ${d.collect().take(5).mkString("\n")}")

    // sidecars exist and are sane
    val lineage = IceLite.read(spark, s"$work/_lineage")
    val metrics = IceLite.read(spark, s"$work/_metrics")
    assert(lineage.count() > 0 && metrics.count() > 0)
    // wire duplicates are removed by the watermarked dedup BEFORE
    // foreachBatch, so events_in counts each unique data event exactly once
    val evIn = metrics.agg(sum("events_in")).head.getLong(0)
    assert(evIn == cfg.nEvents - cfg.alterAt.size,
      s"metrics events_in=$evIn == unique data events")
  }

  test("lineage offset ranges cover each partition without gaps or overlaps") {
    val cfg = Ledger.Config(seed = 23L, nEvents = 2000, nDomains = 15,
      pagesPerDomain = 8, partitions = 2, segments = 4, duplicateRate = 0.0)
    val ledger = mkLedger("pl2_ledger", cfg)
    val work = tmpDir("pl2_work")
    Pipeline.runToCompletion(spark, pipeCfg(work, ledger))

    val lineage = IceLite.read(spark, s"$work/_lineage")
      .select("partition", "epoch_id", "min_offset", "max_offset", "rows_applied")
      .collect()
      .groupBy(_.getInt(0))
    assert(lineage.keySet == Set(0, 1))
    lineage.foreach { case (_, rows) =>
      val ranges = rows.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
      // contiguous, non-overlapping cover of [0, maxOffset]
      assert(ranges.head._1 == 0L)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(lo2 == hi + 1, s"gap/overlap between $hi and $lo2")
        case _ =>
      }
    }
    // the locally built sidecar frames land as ONE data file per commit
    Seq(s"$work/_lineage", s"$work/_metrics").foreach { t =>
      def files(v: Int) = IceLite.loadVersion(t, v).files.map(_.path).toSet
      (2 to IceLite.currentVersion(t)).foreach { v =>
        assert((files(v) -- files(v - 1)).size == 1, s"$t v$v")
      }
    }
  }

  test("kill after table commit, before lineage commit: restart completes, no dups") {
    val cfg = Ledger.Config(seed = 31L, nEvents = 2400, nDomains = 12,
      pagesPerDomain = 8, partitions = 2, segments = 6, duplicateRate = 0.05,
      deleteRate = 0.05)
    val ledger = mkLedger("pl3_ledger", cfg)
    val work = tmpDir("pl3_work")

    // crash mid-stream at epoch 2 (a data batch; odd epochs are dup-only), right after the table commit
    val failing = pipeCfg(work, ledger, failAt = Some((2L, "afterMerge")))
    intercept[StreamingQueryException] {
      Pipeline.runToCompletion(spark, failing)
    }
    // restart without the fault: must resume from checkpoint and finish
    Pipeline.runToCompletion(spark, pipeCfg(work, ledger))

    val batchTable = tmpDir("pl3_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)
    assert(Equivalence.diff(IceLite.read(spark, s"$work/pages"),
      IceLite.read(spark, batchTable)).isEmpty)

    // lineage: exactly one row set per (epoch, partition) — no duplicates
    val lin = IceLite.read(spark, s"$work/_lineage")
    val dups = lin.groupBy(col("epoch_id"), col("partition")).count()
      .filter(col("count") > 1)
    assert(dups.isEmpty, "no duplicate lineage rows after crash+restart")

    // lineage and metrics rows equal an uninterrupted run's: the restarted
    // epoch 2 finds its table commit done and must still report the same
    // counts; no metrics row may carry a -1 sentinel (epoch 0 lands in an
    // empty table, a first load)
    val clean = tmpDir("pl3_clean")
    Pipeline.runToCompletion(spark, pipeCfg(clean, ledger))
    def rows(w: String, t: String, cols: String*) =
      IceLite.read(spark, s"$w/$t").select(cols.map(col): _*).collect()
        .map(_.toSeq.mkString(",")).sorted.toSeq
    def lineage(w: String) = rows(w, "_lineage", "epoch_id", "partition",
      "min_offset", "max_offset", "rows_applied")
    def metrics(w: String) = rows(w, "_metrics", "epoch_id", "events_in",
      "rows_upserted", "rows_deleted")
    assert(lineage(work) == lineage(clean))
    assert(metrics(work) == metrics(clean))
    assert(metrics(work).forall(!_.split(",").contains("-1")), metrics(work))
  }

  test("watermark dedup passes every unique event exactly once") {
    val cfg = Ledger.Config(seed = 41L, nEvents = 3000, nDomains = 20,
      pagesPerDomain = 8, partitions = 2, segments = 4,
      duplicateRate = 0.08, deleteRate = 0.05)
    val ledger = mkLedger("pl5_ledger", cfg)
    val wWm = tmpDir("pl5_wm")
    Pipeline.runToCompletion(spark, pipeCfg(wWm, ledger))
    // events_in is counted AFTER dedup: exactly the wire duplicates are
    // dropped, batch boundaries notwithstanding
    val evIn = IceLite.read(spark, s"$wWm/_metrics")
      .agg(sum("events_in")).head.getLong(0)
    assert(evIn == cfg.nEvents, "every unique event passed exactly once")
  }

  test("kill before any commit of a batch: restart replays it exactly once") {
    val cfg = Ledger.Config(seed = 37L, nEvents = 1600, nDomains = 10,
      pagesPerDomain = 6, partitions = 2, segments = 4)
    val ledger = mkLedger("pl4_ledger", cfg)
    val work = tmpDir("pl4_work")

    intercept[StreamingQueryException] {
      Pipeline.runToCompletion(spark,
        pipeCfg(work, ledger, failAt = Some((2L, "beforeMerge"))))
    }
    Pipeline.runToCompletion(spark, pipeCfg(work, ledger))

    val batchTable = tmpDir("pl4_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)
    assert(Equivalence.diff(IceLite.read(spark, s"$work/pages"),
      IceLite.read(spark, batchTable)).isEmpty)
  }
}
