package graft.operators

import graft.icelite.IceLite
import graft.model.Model
import graft.sources.Ledger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Full batch replay of a change ledger into a fresh (or resumable) table —
  * the reconvergence path: "a full replay of 10^10 change events reconverges
  * to the reference connector's final table state" (BASELINE.json).
  *
  * [[applySlice]] is the one routine that applies a slice of the ledger —
  * a whole replay or one micro-batch of `Pipeline` — so both paths split
  * at ALTERs by one rule, and a stream equals the replay of its input for
  * every ALTER kind and every batch boundary. ALTERs are walked in ledger
  * order `(offset, partition)`:
  *  - an `addColumn` commits ahead of the merge of the segment that holds
  *    it: events before it carry no value for the new column (`extra`
  *    holds post-evolution values), so their merged rows do not change;
  *  - every other ALTER (rename, drop, widen) closes a segment: the
  *    segment's winners merge under the schema in force at their
  *    positions, then the ALTER commits.
  * A ledger whose ALTERs only add columns is one merge.
  *
  * Every effect is an idempotent IceLite commit: segment k merges under
  * `mergeKey(k)` (a replay's `<epochPrefix>.<k>`), an ALTER at `(o, p)`
  * commits under `<alterPrefix>.<o>-<p>`, and a segment without winners
  * commits nothing. A replay that crashes anywhere can simply be re-run
  * end-to-end: committed epochs no-op, the rest complete — no duplicates,
  * no gaps.
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
    // distinct: ALTER events can be wire-duplicated like any other event;
    // a duplicate must not shift segment numbering or add empty epochs
    val alters = events.filter(col("op") === "ALTER")
      .select(col("offset"), col("partition"), col("alterJson"))
      .distinct()
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getString(2)))
      .sortBy(_._1)
    applySlice(spark, tableDir, events, alters, k => s"$epochPrefix.$k",
      s"$epochPrefix.alter", nSalts).size
  }

  /** Apply one ledger slice: `events` are its valid events, `alters` its
    * distinct ALTERs as `((offset, partition), alterJson)` in ledger order.
    * Returns the dedup's [[Merge.BatchStats]] of each segment, in order.
    */
  def applySlice(spark: SparkSession, tableDir: String, events: DataFrame,
      alters: Seq[((Long, Int), String)], mergeKey: Int => String,
      alterPrefix: String, nSalts: Int): Seq[Merge.BatchStats] = {
    val nBuckets = IceLite.load(tableDir).numBuckets
    val data = events.filter(col("op") =!= "ALTER")
    // total order across partitions: (offset, partition) lexicographic —
    // needs no "how many partitions" pre-query (one less Spark action)
    def g = struct(col("offset"), col("partition"))
    def at(p: (Long, Int)) = struct(lit(p._1), lit(p._2))
    val stats = mutable.ArrayBuffer[Merge.BatchStats]()
    var lo: Option[(Long, Int)] = None
    def mergeSegment(hi: Option[(Long, Int)]): Unit = {
      val (winners, s) = Dedup.latestPerKeyAdaptive(data.filter(
        lo.fold(lit(true))(g > at(_)) && hi.fold(lit(true))(g < at(_))), nBuckets)
      if (s.winners > 0) {
        Merge(spark, tableDir, winners, mergeKey(stats.size), nSalts, Some(s))
      }
      stats += s
    }
    alters.foreach { case (pos, json) =>
      if (!SchemaEvolution.addsColumn(json)) {
        mergeSegment(Some(pos))
        lo = Some(pos)
      }
      SchemaEvolution(tableDir, json, s"$alterPrefix.${pos._1}-${pos._2}")
    }
    mergeSegment(None)
    stats.toSeq
  }
}
