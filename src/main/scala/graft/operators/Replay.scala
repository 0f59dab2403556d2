package graft.operators

import graft.icelite.IceLite
import graft.model.Model
import graft.sources.Ledger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full batch replay of a change ledger into a fresh (or resumable) table —
  * the reconvergence path: "a full replay of 10^10 change events reconverges
  * to the reference connector's final table state" (BASELINE.json).
  *
  * ALTER events split the ledger into schema segments by their global
  * sequence position; each segment is one idempotent MERGE epoch, each ALTER
  * one metadata-only epoch. Because every epoch is an idempotent IceLite
  * commit, a replay that crashes anywhere can simply be re-run end-to-end:
  * committed epochs no-op, the rest complete — no duplicates, no gaps.
  */
object Replay {

  /** Replay a ledger directory into `tableDir`. Returns the segment count.
    * Malformed events are routed to the `dlqDir` sidecar table (when set)
    * under the SAME validity rule as the streaming path.
    */
  def full(spark: SparkSession, ledgerDir: String, tableDir: String,
      nBuckets: Int = 32, epochPrefix: String = "replay", nSalts: Int = 4,
      dlqDir: Option[String] = None): Int = {
    if (!IceLite.exists(tableDir)) {
      IceLite.create(tableDir, Model.pagesSchema, nBuckets)
    }
    val raw = Ledger.scan(spark, ledgerDir)
    dlqDir.foreach { dq =>
      IceLite.append(spark, dq, s"$epochPrefix.dlq", Validate.invalid(raw))
    }
    val events = Validate.valid(raw)
    // total order across partitions: (offset, partition) lexicographic —
    // needs no "how many partitions" pre-query (one less Spark action)
    def g = struct(col("offset"), col("partition"))

    // distinct: ALTER events can be wire-duplicated like any other event;
    // a duplicate must not shift segment numbering or add empty epochs
    val alters = events.filter(col("op") === "ALTER")
      .select(col("offset"), col("partition"), col("alterJson"))
      .distinct()
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getString(2)))
      .sortBy(_._1)

    var lo: Option[(Long, Int)] = None
    var seg = 0
    def bound(p: (Long, Int)) = struct(lit(p._1), lit(p._2))
    def mergeSegment(hi: Option[(Long, Int)]): Unit = {
      val slice = events.filter(col("op") =!= "ALTER"
        && lo.map(b => g > bound(b)).getOrElse(lit(true))
        && hi.map(b => g < bound(b)).getOrElse(lit(true)))
      Merge(spark, tableDir, slice, s"$epochPrefix.$seg", nSalts)
      seg += 1
    }
    alters.foreach { case (pos, json) =>
      mergeSegment(Some(pos))
      SchemaEvolution(tableDir, json, s"$epochPrefix.alter.${pos._1}-${pos._2}")
      lo = Some(pos)
    }
    mergeSegment(None)
    seg
  }
}
