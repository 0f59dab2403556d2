package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.icelite.IceLite
import graft.model.ChangeEvent
import graft.operators.{Equivalence, Replay}
import graft.sources.Ledger
import graft.streaming.Pipeline
import graft.util.Det
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
  }

  test("streaming == replay when event-time disorder is 4 hours") {
    val cfg = Ledger.Config(seed = 13L, nEvents = 2400, nDomains = 40,
      pagesPerDomain = 40, partitions = 2, segments = 4,
      outOfOrderLagMs = 4 * 3600 * 1000)
    val ledger = mkLedger("pl6_ledger", cfg)
    val work = tmpDir("pl6_work")
    Pipeline.runToCompletion(spark, pipeCfg(work, ledger))
    assert(IceLite.read(spark, s"$work/_metrics").count() > 1, "several batches")
    val batchTable = tmpDir("pl6_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)
    val d = Equivalence.diff(IceLite.read(spark, s"$work/pages"),
      IceLite.read(spark, batchTable))
    assert(d.isEmpty, s"diff rows: ${d.collect().take(5).mkString("\n")}")
  }

  /** Write `events` as one parquet file `name` into `ledger`, its mtime
    * `k` seconds after the previous file's, so the file source reads the
    * files in `k` order.
    */
  private def ledgerFile(ledger: String, name: String, k: Int,
      events: Seq[ChangeEvent]): Unit = {
    import spark.implicits._
    val tmp = tmpDir("pl_file")
    events.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(ledger, name)
    Files.move(part, dst)
    dst.toFile.setLastModified(System.currentTimeMillis() - 3600000L + k * 1000L)
  }

  test("an ALTER a later batch re-delivers is a no-op: table and schema " +
      "equal the replay's") {
    val alterAt = 150L
    val cfg = Ledger.Config(seed = 17L, nEvents = 400, nDomains = 10,
      pagesPerDomain = 8, partitions = 1, duplicateRate = 0.0,
      alterAt = Map(alterAt -> Ledger.addColumnJson("fetch_ms", "long")))
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    def ev(i: Long) = Ledger.makeEvent(cfg, cdf, i)
    val ledger = tmpDir("pl7_ledger")
    ledgerFile(ledger, "f0.parquet", 0, (0L until 200L).map(ev))
    // the second file re-delivers the ALTER with newer events
    ledgerFile(ledger, "f1.parquet", 1, ev(alterAt) +: (200L until 400L).map(ev))
    val work = tmpDir("pl7_work")
    Pipeline.runToCompletion(spark,
      pipeCfg(work, ledger).copy(maxFilesPerTrigger = 1))
    val batchTable = tmpDir("pl7_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)
    def schema(t: String) = IceLite.load(t).currentSchema
    assert(schema(s"$work/pages") == schema(batchTable))
    assert(schema(batchTable).fields.map(_.name).contains("fetch_ms"))
    assert(Equivalence.diff(IceLite.read(spark, s"$work/pages"),
      IceLite.read(spark, batchTable)).isEmpty)
  }

  test("a batch counts and covers the positions it delivers, also one an " +
      "earlier batch delivered") {
    val cfg = Ledger.Config(seed = 19L, nEvents = 20, nDomains = 4,
      pagesPerDomain = 4, partitions = 1, duplicateRate = 0.0)
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    def ev(i: Long) = Ledger.makeEvent(cfg, cdf, i)
    // a malformed event, for the dead-letter table
    val bad = ChangeEvent(1, 0L, "U", null, new java.sql.Timestamp(0L), null,
      null, null, Map.empty)
    val ledger = tmpDir("pl8_ledger")
    ledgerFile(ledger, "f0.parquet", 0, bad +: (0L until 10L).map(ev))
    // file 2 re-delivers position 3 of file 1, and positions 12 and the
    // malformed one twice
    ledgerFile(ledger, "f1.parquet", 1,
      Seq(ev(3), ev(12), bad, bad) ++ (10L until 15L).map(ev))
    val work = tmpDir("pl8_work")
    Pipeline.runToCompletion(spark, pipeCfg(work, ledger)
      .copy(maxFilesPerTrigger = 1, dlqDir = Some(s"$work/_dlq")))
    def rows(t: String, cols: String*) =
      IceLite.read(spark, s"$work/$t").orderBy("epoch_id").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
    assert(rows("_metrics", "epoch_id", "events_in") ==
      Seq(Seq(0L, 10L), Seq(1L, 6L)))
    assert(rows("_lineage", "epoch_id", "partition", "min_offset", "max_offset") ==
      Seq(Seq(0L, 0, 0L, 9L), Seq(1L, 0, 3L, 14L)))
    // one dead-letter row per batch that delivered the malformed position
    assert(IceLite.read(spark, s"$work/_dlq").count() == 2)
    val batchTable = tmpDir("pl8_batch")
    Replay.full(spark, ledger, batchTable, nBuckets = 8)
    assert(Equivalence.diff(IceLite.read(spark, s"$work/pages"),
      IceLite.read(spark, batchTable)).isEmpty)
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
    val work = tmpDir("pl5_work")
    // one batch: events_in counts its distinct positions, so each wire
    // duplicate collapses into the event it copies
    Pipeline.runToCompletion(spark,
      pipeCfg(work, ledger).copy(maxFilesPerTrigger = 1000))
    val metrics = IceLite.read(spark, s"$work/_metrics")
    assert(metrics.count() == 1, "one batch")
    val evIn = metrics.agg(sum("events_in")).head.getLong(0)
    assert(evIn == cfg.nEvents, "every unique event counted exactly once")
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
