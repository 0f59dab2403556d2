package graft.sources

import graft.model.{ChangeEvent, Model}
import graft.util.Det
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Deterministic synthetic "Kafka-carried binlog" of web-page change events
  * (SURVEY.md §2.6, FIXTURES.md §B.1).
  *
  * The reference system tails a real Kafka topic; this sandbox has no Kafka
  * jars, so the ledger is a partitioned, replayable parquet file-ledger with
  * Kafka semantics: `(partition, offset)` positions, monotone offsets per
  * partition, at-least-once delivery (wire duplicates injected across segment
  * boundaries), out-of-order event time within a bounded lag, Zipf-skewed hot
  * domains, and mid-stream ALTER (schema-change) events.
  *
  * Every field of every event is a pure function of `(cfg.seed, globalIndex)`
  * — see [[graft.util.Det]] — so the same config always produces the same
  * ledger regardless of Spark parallelism. Segments are written in global
  * order so Structured Streaming's file source (ordered by mod-time) replays
  * them as a roughly offset-ordered stream.
  */
object Ledger {

  /** Knobs (FIXTURES.md §B.1). `alterAt` maps a global event index to the
    * ALTER payload that fires there; events after an `addColumn` ALTER carry
    * the new column's value in `extra` until schema promotion.
    */
  case class Config(
      seed: Long = 42L,
      nEvents: Long = 100000L,
      nDomains: Int = 200,
      pagesPerDomain: Int = 50,
      partitions: Int = 8,
      segments: Int = 4,
      duplicateRate: Double = 0.05,
      deleteRate: Double = 0.05,
      malformedRate: Double = 0.0,
      outOfOrderLagMs: Int = 600000,
      zipfSkew: Double = 1.2,
      htmlParagraphs: Int = 6,
      alterAt: Map[Long, String] = Map.empty)

  /** `{"addColumn":{"name":"fetch_ms","type":"long"}}` — the default ALTER. */
  def addColumnJson(name: String, typ: String): String =
    s"""{"addColumn":{"name":"$name","type":"$typ"}}"""

  private val langs = Array("en", "de", "fr", "es", "zh", "pt", "ru", "ja")
  private val words = Array(
    "crawl", "page", "index", "link", "data", "web", "archive", "text",
    "content", "search", "query", "record", "stream", "batch", "event",
    "table", "merge", "commit", "offset", "schema")
  private val baseEpochMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** Names of extra columns active at global index `i` (post-ALTER). */
  private def activeExtras(cfg: Config, i: Long): Seq[(String, String)] =
    cfg.alterAt.toSeq.sortBy(_._1).collect {
      case (pos, json) if pos < i && json.contains("addColumn") =>
        val name = json.split("\"name\":\"")(1).split("\"")(0)
        val typ = json.split("\"type\":\"")(1).split("\"")(0)
        (name, typ)
    }

  /** The pure generator: event at global index `i`. */
  def makeEvent(cfg: Config, domainCdf: Array[Double], i: Long): ChangeEvent = {
    val partition = (i % cfg.partitions).toInt
    val offset = i / cfg.partitions
    cfg.alterAt.get(i) match {
      case Some(json) =>
        ChangeEvent(partition, offset, "ALTER", null,
          new java.sql.Timestamp(baseEpochMs + i * 1000L), null, null, json,
          Map.empty)
      case None if Det.uniform(cfg.seed, i, 9) < cfg.malformedRate =>
        // broken wire event: no key — must land in the DLQ, not the table
        ChangeEvent(partition, offset, "U", null,
          new java.sql.Timestamp(baseEpochMs + i * 1000L), null, null, null,
          Map.empty)
      case None =>
        val domain = Det.zipfPick(domainCdf, Det.uniform(cfg.seed, i, 1))
        val path = Det.uniformInt(cfg.seed, i, 2, cfg.pagesPerDomain)
        val url = s"https://www.d$domain.example.com/page/$path"
        val lagMs = Det.uniformInt(cfg.seed, i, 3, cfg.outOfOrderLagMs)
        val ts = new java.sql.Timestamp(baseEpochMs + i * 1000L - lagMs)
        val uOp = Det.uniform(cfg.seed, i, 4)
        val op =
          if (uOp < cfg.deleteRate) "D"
          else if (uOp < cfg.deleteRate + 0.3) "I"
          else "U"
        val lang = langs(math.abs(url.hashCode) % langs.length)
        val html = if (op == "D") null else makeHtml(cfg, url, i)
        val extra = activeExtras(cfg, i).map { case (name, _) =>
          name -> Det.uniformInt(cfg.seed, i, 7 + name.hashCode, 100000).toString
        }.toMap
        ChangeEvent(partition, offset, op, url, ts, html, lang, null, extra)
    }
  }

  /** Deterministic pseudo-HTML: title + paragraphs + entities + noise tags.
    * Content depends on (url, i) so updates change the page body; the bytes
    * are the ground truth for the `extract_text` byte-identity invariant.
    */
  def makeHtml(cfg: Config, url: String, i: Long): Array[Byte] = {
    val sb = new StringBuilder(cfg.htmlParagraphs * 160 + 256)
    sb.append("<!DOCTYPE html><html><head><title>")
    sb.append(url).append(" v").append(Det.mix64(cfg.seed, i, 10) & 0xffff)
    sb.append("</title><style>body{margin:0}</style>")
    sb.append("<script>var x=").append(i).append(";</script></head><body>")
    var p = 0
    while (p < cfg.htmlParagraphs) {
      sb.append("<p class=\"t\">")
      var w = 0
      while (w < 18) {
        val wi = Det.uniformInt(cfg.seed, i, 100 + p * 32 + w, words.length)
        sb.append(words(wi))
        if (w % 7 == 3) sb.append(" &amp; ") else sb.append(' ')
        w += 1
      }
      sb.append("</p>")
      p += 1
    }
    sb.append("<div>&lt;tail&gt;&nbsp;").append(i % 97).append("</div>")
    sb.append("</body></html>")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Generate the full event sequence (base events + injected wire
    * duplicates) as a Dataset. Duplicates replicate an earlier event
    * byte-for-byte (same partition/offset/payload) — at-least-once wire.
    */
  def events(spark: SparkSession, cfg: Config): Dataset[ChangeEvent] = {
    import spark.implicits._
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    val base = spark.range(0, cfg.nEvents, 1,
      math.max(1, spark.sparkContext.defaultParallelism))
      .map(i => makeEvent(cfg, cdf, i))
    val dups = spark.range(1, cfg.nEvents, 1,
      math.max(1, spark.sparkContext.defaultParallelism))
      .filter(i => Det.uniform(cfg.seed, i, 5) < cfg.duplicateRate)
      .map { i =>
        val back = 1 + Det.uniformInt(cfg.seed, i, 6, 64)
        makeEvent(cfg, cdf, math.max(0, i - back))
      }
    base.union(dups)
  }

  /** Write the ledger as `segments` parquet appends in global-index order so
    * file mod-times reproduce stream order for the file source. Returns the
    * ledger directory.
    */
  def synthesize(spark: SparkSession, cfg: Config, dir: String): String = {
    import spark.implicits._
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    val per = math.max(1L, (cfg.nEvents + cfg.segments - 1) / cfg.segments)
    var k = 0L
    while (k < cfg.segments && k * per < cfg.nEvents) {
      val lo = k * per
      val hi = math.min(cfg.nEvents, lo + per)
      val base = spark.range(lo, hi, 1,
        math.max(1, spark.sparkContext.defaultParallelism))
        .map(i => makeEvent(cfg, cdf, i))
      // duplicates are injected into the segment of their *re-delivery*
      // position i, replaying an earlier event (possibly a prior segment's).
      val dups = spark.range(math.max(1, lo), hi, 1,
        math.max(1, spark.sparkContext.defaultParallelism))
        .filter(i => Det.uniform(cfg.seed, i, 5) < cfg.duplicateRate)
        .map { i =>
          val back = 1 + Det.uniformInt(cfg.seed, i, 6, 64)
          makeEvent(cfg, cdf, math.max(0, i - back))
        }
      base.union(dups).toDF().write.mode("append").parquet(dir)
      k += 1
    }
    dir
  }

  /** Batch scan of a ledger directory, schema-pinned. */
  def scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Model.envelopeSchema).parquet(dir)

  /** Streaming tail of a ledger directory (file source; offsets are
    * checkpointed by Structured Streaming).
    */
  def tail(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(Model.envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
}
