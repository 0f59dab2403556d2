package graft.operators

import graft.icelite.IceLite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Incremental CDC read of an IceLite table: the NET row changes between
  * two snapshot versions, as (key, change_type, current columns).
  *
  * Downstream consumers (a second-hop pipeline, a search indexer) read
  * this instead of re-scanning the table — the lake-side equivalent of the
  * binlog the engine ingests.
  *
  * A key live in both snapshots is an update iff its version tuple
  * `(warc_ts, _offset, _partition)` moved OR its content differs: an
  * `xxhash64` of the newer version's columns, each read from the older
  * version by field id and cast to the newer type (a rename or widen
  * between them is no change), or null where the older version lacks it
  * (as the newer read of its files null-fills). The content test catches
  * SQL DML, which edits rows in place and keeps their stored position.
  * Map columns (unhashable) are not compared.
  */
object Changes {

  /** Changes from `fromVersion` to `toVersion` (default: current).
    * change_type ∈ {insert, update, delete}.
    *
    * BUCKET-PRUNED: both snapshot scans read ONLY the buckets
    * [[IceLite.Metadata.changedBuckets]] names (the one "bucket changed"
    * rule, the commit's conflict check uses it too): an unchanged bucket's
    * content is byte-identical in both versions, so no key in it can have
    * a changed winner tuple or contribute a diff row. The newer scan also
    * carries the rows emitted for inserts and updates (no third read):
    * O(changed buckets) per delta instead of two full table scans (the
    * streaming change source calls this per micro-batch). The key→bucket
    * layout invariant (a key's rows live only in
    * `Salt.bucket(key, numBuckets)`, and `numBuckets` is fixed at
    * `create`) makes pruning per bucket sound: a key's older and newer
    * rows meet in one bucket.
    */
  def between(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val to = toVersion.getOrElse(IceLite.currentVersion(dir))
    val mFrom = IceLite.loadVersion(dir, fromVersion)
    val mTo = IceLite.loadVersion(dir, to)
    val key = mTo.currentSchema.fields.head.name
    val buckets = mTo.changedBuckets(mFrom)
    // key, event-time and content columns resolved PER VERSION by field
    // id: a rename between the two snapshots must not break the diff (the
    // read path reconciles each version to ITS OWN schema's names)
    val content = mTo.currentSchema.fields.filterNot(f => hasMap(f.dataType))
    def keyed(m: IceLite.Metadata, p: String, hashed: Seq[Column],
        carried: Seq[Column]) = {
      val s = m.currentSchema
      val tsName = s.fields.find(_.id == Merge.versionFieldId)
        .getOrElse(sys.error(s"version field missing in v${m.version}")).name
      // each value's null flag too: xxhash64 skips nulls, so (null, x) and
      // (x, null) would otherwise hash alike
      IceLite.readInternal(spark, dir, Some(m.version), Some(buckets))
        .select(Seq(col(s.fields.head.name).as(s"${p}_key"),
          col(tsName).as(s"${p}_ts"), col("_offset").as(s"${p}_off"),
          col("_partition").as(s"${p}_part"), col("_deleted").as(s"${p}_del"),
          xxhash64(hashed.flatMap(c => Seq(c, c.isNull)): _*).as(s"${p}_hash")) ++
          carried: _*)
    }
    val a = keyed(mFrom, "a", content.map(f =>
      mFrom.currentSchema.fields.find(_.id == f.id)
        .fold(lit(null))(g => col(g.name)).cast(f.dataType)), Nil)
    // the newer side carries its row: the output of inserts and updates
    val rest = mTo.currentSchema.fields.tail.map(_.name)
    val b = keyed(mTo, "b", content.map(f => col(f.name)),
      rest.map(n => col(n).as(s"b_row_$n")))
    val aLive = col("a_key").isNotNull && !col("a_del")
    val bLive = col("b_key").isNotNull && !col("b_del")
    val same =
      col("a_ts") <=> col("b_ts") && col("a_off") <=> col("b_off") &&
        col("a_part") <=> col("b_part") && col("a_hash") === col("b_hash")
    a.join(b, col("a_key") === col("b_key"), "full_outer")
      .withColumn("change_type",
        when(!aLive && bLive, lit("insert"))
          .when(aLive && !bLive, lit("delete"))
          .when(aLive && bLive && !same, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(Seq(coalesce(col("b_key"), col("a_key")).as(key),
        col("change_type")) ++ rest.map(n => when(bLive, col(s"b_row_$n")).as(n)): _*)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
