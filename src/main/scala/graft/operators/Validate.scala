package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dead-letter routing (Kafka Connect `errors.tolerance=all` +
  * `errors.deadletterqueue.*` analog): ONE validity rule shared by the
  * batch-replay and streaming paths, so both produce identical table state
  * AND identical DLQ contents — malformed events must never silently
  * diverge the two.
  */
object Validate {

  /** A data event is valid iff it has a key, an event time, and a known op;
    * an ALTER is valid iff it carries a payload.
    */
  val isValid: Column = {
    val dataOk = col("url").isNotNull && col("warc_ts").isNotNull &&
      col("op").isin("I", "U", "D")
    val alterOk = col("op") === "ALTER" && col("alterJson").isNotNull
    dataOk || alterOk
  }

  def valid(events: DataFrame): DataFrame = events.filter(isValid)

  /** Invalid events in the sidecar `_dlq` shape (FIXTURES.md §B.3):
    * source position + a raw rendering + the reason, one row per position
    * (wire copies of a malformed event are identical).
    */
  def invalid(events: DataFrame): DataFrame =
    events.filter(!isValid).dropDuplicates("partition", "offset").select(
      col("partition"), col("offset"),
      to_json(struct(col("op"), col("url"), col("warc_ts"), col("lang"),
        col("alterJson"))).as("raw"),
      when(col("op") === "ALTER", lit("alter-without-payload"))
        .when(!col("op").isin("I", "U", "D", "ALTER"), lit("unknown-op"))
        .when(col("url").isNull, lit("null-key"))
        .otherwise(lit("null-event-time")).as("error"))
}
