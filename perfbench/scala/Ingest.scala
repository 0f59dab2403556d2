package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.TextExtract
import graft.icelite.IceLite
import graft.model.ChangeEvent
import graft.operators.{Dedup, Equivalence, Replay, Validate}
import graft.sources.Ledger
import graft.streaming.Pipeline
import graft.util.Det
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `ingest`: the engine's two write paths on one seeded ledger.
  *
  *  1. Bulk: the ledger is replayed with `Replay.full` into a fresh
  *     16-bucket table, again and again, at local[cores]. An op is one
  *     replay; its items are the ledger's events.
  *  2. Streaming: the last replayed table is the base for seeded delta
  *     segments that continue the ledger's global index (one ALTER, 1%
  *     malformed events routed to the DLQ), drained by
  *     `Pipeline.runToCompletion` with `maxFilesPerTrigger = 1`, so every
  *     segment is one micro-batch whatever the timing. An op is one
  *     micro-batch (its trigger latency from Spark's progress report); its
  *     items are the batch's input rows.
  *
  * Traced runs add a replay at one pinned core for the scaling ratio.
  */
object Ingest {
  val Events = 8000L
  val Buckets = 16
  val MinReplays = 2
  val SegmentEvents = 300L
  val WarmSegments = 1
  val DrainSegments = 2
  val Segments: Int = WarmSegments + DrainSegments

  /** `graft.Bench`'s ledger shape, scaled to this benchmark's run length
    * (Bench's 64 buckets hold 32M events; 16 keep the files of an 8k-event
    * replay from being mostly per-file overhead).
    */
  def config(seed: Long): Ledger.Config = Ledger.Config(
    seed = seed, nEvents = Events, nDomains = 1000, pagesPerDomain = 100,
    partitions = 16, segments = 4, duplicateRate = 0.03, deleteRate = 0.04)

  /** The delta continues the ledger's index space; one ALTER lands in the
    * second measured micro-batch and about 1% of events are malformed.
    */
  def deltaConfig(seed: Long): Ledger.Config = config(seed).copy(
    malformedRate = 0.01,
    alterAt = Map((Events + (WarmSegments + 1) * SegmentEvents + 17) ->
      Ledger.addColumnJson("fetch_ms", "long")))

  /** Delta segment k: events [lo, hi) plus wire duplicates re-delivering an
    * earlier event of the same segment.
    */
  private def segmentEvents(cfg: Ledger.Config, cdf: Array[Double], k: Int): Seq[ChangeEvent] = {
    val lo = Events + k * SegmentEvents
    val hi = lo + SegmentEvents
    (lo until hi).flatMap { i =>
      val e = Ledger.makeEvent(cfg, cdf, i)
      if (i > lo && Det.uniform(cfg.seed, i, 5) < cfg.duplicateRate) {
        val back = 1 + Det.uniformInt(cfg.seed, i, 6, 64)
        Seq(e, Ledger.makeEvent(cfg, cdf, math.max(lo, i - back)))
      } else Seq(e)
    }
  }

  /** Set-up: synthesize the ledger and stage every delta segment as one
    * parquet file under `staged`, named in stream order.
    */
  private def setup(spark: SparkSession, h: Harness, tag: String): (String, String) = {
    import spark.implicits._
    val ledger = h.dir(s"$tag/ledger")
    val staged = h.dir(s"$tag/staged")
    Ledger.synthesize(spark, config(h.args.seed), ledger)
    val cfg = deltaConfig(h.args.seed)
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    val tmp = h.dir(s"$tag/segments-tmp")
    spark.range(0, Segments, 1, Segments).as[Long]
      .flatMap(k => segmentEvents(cfg, cdf, k.toInt))
      .toDF().write.parquet(tmp)
    // one file per segment, in index order (range partitions keep order)
    val parts = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    require(parts.size == Segments, s"expected $Segments segment files, got ${parts.size}")
    Files.createDirectories(Paths.get(staged))
    parts.zipWithIndex.foreach { case (p, k) =>
      Files.move(p, Paths.get(staged, f"seg-$k%05d.parquet"))
    }
    Harness.delete(tmp)
    (ledger, staged)
  }

  def run(spark: SparkSession, h: Harness): Unit = {
    // set-up, three times into fresh directories
    var last: (String, String) = null
    (1 to 3).foreach { k =>
      if (last != null) Harness.delete(h.dir(s"setup-${k - 1}"))
      last = h.setup(setup(spark, h, s"setup-$k"))
    }
    h.phase("setup")
    val (ledger, staged) = last
    val events = spark.read.parquet(ledger).count()

    // 1. bulk replays; the previous table is deleted before the timed
    // call, so an op times only `Replay.full`
    var table = ""
    def replay(tag: String): Unit = {
      if (table.nonEmpty) Harness.delete(table)
      table = h.dir(s"table-$tag")
      h.op(spark, "replay", events)(
        Replay.full(spark, ledger, table, nBuckets = Buckets, epochPrefix = s"bench-$tag"))
    }
    // warm-up replay, unmeasured: the first one in a JVM pays the JIT
    replay("warm")
    h.ops.clear()
    h.phase("warm")
    val start = System.nanoTime()
    var i = 0
    // traced runs replay four times, traced, untraced, untraced, traced,
    // so the JVM's warm-up drift cancels out of the tracing overhead
    val replays = if (h.tracer.nonEmpty) 4 else MinReplays
    while (i < replays || (System.nanoTime() - start) / 1e9 < h.args.seconds) {
      h.tracing(spark, on = i % 4 == 0 || i % 4 == 3)
      replay(s"r$i")
      val m = IceLite.load(table)
      val (files, bytes) = Harness.parquetFiles(table)
      h.annotate("files_added" -> m.files.size.toDouble,
        "buckets_rewritten" -> m.files.map(_.bucket).distinct.size.toDouble,
        "bytes_added" -> bytes.toDouble, "files_on_disk" -> files.toDouble,
        "files_per_bucket_max" -> m.filesPerBucket.values.max.toDouble)
      i += 1
    }
    h.tracing(spark, on = false)
    h.detail("events") = events
    h.detail("replays") = i
    h.phase("replays")

    // 2. streaming upserts into the last replayed table
    val stream = new Stream(spark, h, table, staged)
    stream.run()
    h.phase("window")

    stream.check(ledger)
    h.phase("check")
    if (h.args.trace) scaling(spark, h, ledger, events)
  }

  /** The streaming half: stages segments into the pipeline's ledger
    * directory and drains them, recording one op per micro-batch.
    */
  private final class Stream(spark: SparkSession, h: Harness, table: String,
      staged: String) {
    private val root = Paths.get(table).getParent.resolve("stream").toString
    private val ledger = s"$root/ledger"
    Files.createDirectories(Paths.get(ledger))
    val cfg = Pipeline.Config(ledgerDir = ledger, tableDir = table,
      checkpointDir = s"$root/checkpoint", lineageDir = s"$root/lineage",
      metricsDir = s"$root/metrics", nBuckets = Buckets, maxFilesPerTrigger = 1,
      dlqDir = Some(s"$root/dlq"))
    private val batchOps = mutable.ArrayBuffer[Int]()

    /** Move every staged segment into the ledger with increasing mtimes,
      * in order, so the file source reads them one per micro-batch in
      * stream order.
      */
    private def stage(): Unit = {
      val t = System.currentTimeMillis() - 3600000L
      (0 until Segments).foreach { k =>
        val dst = Paths.get(ledger, f"seg-$k%05d.parquet")
        Files.move(Paths.get(staged, f"seg-$k%05d.parquet"), dst,
          StandardCopyOption.ATOMIC_MOVE)
        dst.toFile.setLastModified(t + k * 1000L)
      }
    }

    def run(): Unit = {
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val from = IceLite.currentVersion(table)
      // one drain; its leading batches are a warm-up, unmeasured: they pay
      // the JIT and the query's first planning. Traced runs trace it whole
      // (their tracing overhead comes from the replays)
      h.tracing(spark, on = true)
      stage()
      h.attempted += Segments
      try Pipeline.runToCompletion(spark, cfg) catch {
        case e: Throwable => System.err.println(s"[perfbench] drain failed: $e")
      }
      progress.waitFor(Segments)
      val batches = progress.all
      // a staged segment that never reported progress counts as failed
      h.failed += math.max(0, Segments - batches.size)
      batches.drop(WarmSegments).foreach { p =>
        batchOps += h.ops.size
        h.ops += Op("batch", p.t0, p.t0 + p.triggerMs, p.rows, h.isTracing,
          s"batch:${p.batchId}", Map("addbatch_ms" -> p.addBatchMs,
            "state_rows" -> p.stateRows, "state_mem_bytes" -> p.stateMem))
      }
      h.tracing(spark, on = false)
      spark.streams.removeListener(progress)
      tableEffects(from)
      val m = IceLite.load(table)
      h.layerExtra("table.files_on_disk") = Harness.parquetFiles(s"$table/data")._1.toDouble
      h.layerExtra("table.files_per_bucket_max") = m.filesPerBucket.values.max.toDouble
    }

    /** Annotate each measured batch with what it did to the table: the
      * data files its commit (epoch key `stream.<batchId>`) added, the
      * buckets they fall in and their bytes, from the version log.
      */
    private def tableEffects(from: Int): Unit = {
      val bySpan = batchOps.map(i => h.ops(i).span -> i).toMap
      (from + 1 to IceLite.currentVersion(table)).foreach { v =>
        val m = IceLite.loadVersion(table, v)
        val prev = IceLite.loadVersion(table, v - 1).files.map(_.path).toSet
        val added = m.files.filterNot(f => prev.contains(f.path))
        BatchKey.findFirstMatchIn(m.epochKey)
          .flatMap(k => bySpan.get(s"batch:${k.group(1)}")).foreach { i =>
            h.ops(i) = h.ops(i).copy(extra = h.ops(i).extra ++ Map(
              "files_added" -> added.size.toDouble,
              "buckets_rewritten" -> added.map(_.bucket).distinct.size.toDouble,
              "bytes_added" -> added.map(f => Files.size(Paths.get(f.path))).sum.toDouble))
          }
      }
    }

    /** Output checks. The final table (the last replay, then every
      * applied micro-batch) equals latest-per-key + extract_text over the
      * ledger and every applied delta segment — deletes win as tombstones,
      * so they leave no row — and carries the ALTER's column; a wrong
      * replay or a wrong micro-batch both show here. The lineage ranges
      * cover each applied delta event's (partition, offset) exactly once.
      */
    def check(base: String): Unit = {
      val covers = h.ops.size.toLong
      val all = h.dir("check/ledger")
      Files.createDirectories(Paths.get(all))
      (Files.list(Paths.get(base)).iterator().asScala ++
        Files.list(Paths.get(ledger)).iterator().asScala)
        .filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex
        .foreach { case (p, i) => Files.createLink(Paths.get(all, f"f$i%05d-${p.getFileName}"), p) }
      val columns = Seq("url", "warc_ts", "html", "text", "lang").map(col)
      val expected = Dedup.latestPerKey(
          Validate.valid(Ledger.scan(spark, all)).filter(col("op") =!= "ALTER"))
        .filter(col("op") =!= "D")
        .withColumn("text", TextExtract.extract_text(col("html")))
        .select(columns: _*)
      val got = IceLite.read(spark, table)
      val bad = Equivalence.diff(got.select(columns: _*), expected).limit(5).collect()
      h.check("table_equals_latest_per_key", bad.isEmpty && got.columns.contains("fetch_ms"),
        (bad.map(_.toString.take(120)) ++
          (if (got.columns.contains("fetch_ms")) Nil else Seq("ALTER column missing")))
          .mkString("; "), covers = covers)

      // every valid, non-ALTER delta event's (partition, offset) is inside
      // exactly one lineage range, and every range starts and ends on one
      val events = Validate.valid(Ledger.scan(spark, ledger))
        .filter(col("op") =!= "ALTER").select("partition", "offset").distinct()
        .collect().groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      val ranges = IceLite.read(spark, cfg.lineageDir)
        .select("partition", "min_offset", "max_offset").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val problems = mutable.ArrayBuffer[String]()
      events.foreach { case (p, offs) =>
        val rs = ranges.filter(_._1 == p)
        offs.foreach { o =>
          val n = rs.count { case (_, lo, hi) => lo <= o && o <= hi }
          if (n != 1 && problems.size < 5) problems += s"p$p/o$o in $n ranges"
        }
        rs.foreach { case (_, lo, hi) =>
          if ((!offs.contains(lo) || !offs.contains(hi)) && problems.size < 5) {
            problems += s"p$p range [$lo,$hi] ends off the events"
          }
        }
      }
      h.check("lineage_covers_offsets_once", problems.isEmpty && events.nonEmpty,
        problems.mkString("; "), covers = covers)
    }
  }

  private val BatchKey = """^stream\.(\d+)$""".r

  /** One replay with every JVM thread pinned to one core (`taskset -acp
    * 0`, as `graft.Bench.pinSelf` does); the JIT is already warm. Reports
    * events/s at one core and the scaling ratio evps@cores / (cores *
    * evps@1), against the median measured replay.
    */
  private def scaling(spark: SparkSession, h: Harness, ledger: String,
      events: Long): Unit = {
    val wide = h.ops.filter(_.kind == "replay").map(o => events * 1000.0 / o.ms).sorted
    if (!Harness.pinSelf("0")) return
    val evps1 = try {
      val table = h.dir("table-1c")
      val t0 = System.nanoTime()
      Replay.full(spark, ledger, table, nBuckets = Buckets, epochPrefix = "one", nSalts = 4)
      val sec = (System.nanoTime() - t0) / 1e9
      Harness.delete(table)
      events / sec
    } finally Harness.pinSelf(s"0-${h.args.cores - 1}")
    h.layerExtra("replay.evps_1c") = evps1
    h.layerExtra("replay.scaling_eff") = wide(wide.size / 2) / (h.args.cores * evps1)
  }

  final case class Progress(batchId: Long, t0: Double, triggerMs: Double,
      addBatchMs: Double, rows: Long, stateRows: Double, stateMem: Double)

  /** Collects every micro-batch's progress report. */
  final class ProgressLog extends StreamingQueryListener {
    private val reports = mutable.ArrayBuffer[Progress]()
    def size: Int = synchronized(reports.size)
    def all: Seq[Progress] = synchronized(reports.toSeq)
    def waitFor(n: Int): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (size < n && System.nanoTime() < deadline) Thread.sleep(5)
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        synchronized {
          reports += Progress(p.batchId, t0, ms("triggerExecution"), ms("addBatch"),
            p.numInputRows, p.stateOperators.map(_.numRowsTotal.toDouble).sum,
            p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        }
      }
    }
  }
}
