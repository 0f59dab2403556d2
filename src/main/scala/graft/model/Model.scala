package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine (SURVEY.md §1).
  *
  * The reference (`BASELINE.json` north_star) is a Kafka-Connect-style CDC
  * log-collector; its record model is re-expressed here as a typed Spark
  * `Dataset[ChangeEvent]` envelope plus the `pages` target-table shape from
  * BASELINE.json `input_hint`.
  */

/** One change event on the wire — the Connect `SourceRecord` analog.
  *
  * `(partition, offset)` is the source position (Kafka partition/offset
  * analog); the dedup key mandated by the spec is `(url, warc_ts, offset)`.
  *
  * @param partition source partition; offsets are monotone within it
  * @param offset    monotone per-partition position — the "event-offset"
  * @param op        "I" (insert) | "U" (update) | "D" (delete) | "ALTER"
  * @param url       upsert key; null for ALTER events
  * @param warc_ts   event time (WARC capture timestamp), µs precision UTC
  * @param html      raw page bytes; null for D/ALTER
  * @param lang      ISO language code (nullable)
  * @param alterJson DDL payload for op=ALTER, else null
  * @param extra     post-evolution column values before schema promotion
  */
case class ChangeEvent(
    partition: Int,
    offset: Long,
    op: String,
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    lang: String,
    alterJson: String,
    extra: Map[String, String])

object Model {

  /** Envelope schema — used for schema-pinned ledger reads (batch + stream). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("alterJson", StringType, nullable = true),
    StructField("extra", MapType(StringType, StringType), nullable = true)))

  /** Authoritative target-table shape (BASELINE.json input_hint). */
  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))
}
