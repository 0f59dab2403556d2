package graft.operators

import graft.icelite.IceLite
import graft.icelite.IceLite.{Field, Schema}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** ALTER-event interpreter: evolve the target schema WITHOUT replay or data
  * rewrite (BASELINE.json north_star "evolve the target schema on ALTER
  * events without replay").
  *
  * An ALTER is a metadata-only IceLite commit: a new schema-id is appended
  * to the snapshot log and becomes current; existing data files are
  * untouched (the read path reconciles them by field id — null-fill for
  * added columns, rename by id, widening cast). Idempotent per epoch key
  * like every commit.
  *
  * Payloads (the wire format of op=ALTER `alterJson`):
  * {{{
  *   {"addColumn":   {"name": "fetch_ms", "type": "long"}}
  *   {"renameColumn":{"from": "lang", "to": "language"}}
  *   {"widenColumn": {"name": "fetch_ms", "type": "double"}}
  *   {"dropColumn":  {"name": "fetch_ms"}}
  * }}}
  */
object SchemaEvolution {

  def parseType(s: String): DataType = s.toLowerCase match {
    case "int" | "integer" => IntegerType
    case "long" | "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "boolean" => BooleanType
    case "timestamp" => TimestampType
    case "date" => DateType
    case "binary" => BinaryType
    case other => DataType.fromDDL(other)
  }

  /** Legal widenings (Iceberg-spec subset). */
  private def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (IntegerType, DoubleType) => true
    case (LongType, DoubleType) => true
    case (a: DecimalType, b: DecimalType) =>
      b.precision >= a.precision && b.scale == a.scale
    case _ => false
  }

  /** Compute the evolved schema; pure, for reuse in tests.
    *
    * `usedFieldIds`: every field id EVER minted in the table (all
    * schemas, not just the current one). Field ids are the identity the
    * read path reconciles old files by, so an id must never be reused —
    * minting `max(current)+1` after a dropColumn would hand the dropped
    * column's id to a NEW column, and every pre-drop data file would
    * silently resurface the dropped column's stored values under the new
    * name. Callers pass the all-schemas id set; the default (current
    * schema only) is safe only for tables that never dropped a column.
    */
  def evolve(cur: Schema, alterJson: String, newSchemaId: Int,
      usedFieldIds: Set[Int] = Set.empty): Schema = {
    val o = JsonMethods.parse(alterJson).asInstanceOf[JObject].obj.toMap
    def s(v: JValue): String = v.asInstanceOf[JString].s
    val fields: Seq[Field] = o.head match {
      case ("addColumn", body: JObject) =>
        val m = body.obj.toMap
        val name = s(m("name"))
        require(!cur.fields.exists(_.name == name), s"column exists: $name")
        val nextId = (usedFieldIds ++ cur.fields.map(_.id)).max + 1
        cur.fields :+ Field(nextId, name, parseType(s(m("type"))), nullable = true)
      case ("renameColumn", body: JObject) =>
        val m = body.obj.toMap
        val from = s(m("from")); val to = s(m("to"))
        require(cur.fields.exists(_.name == from), s"no column: $from")
        require(!cur.fields.exists(_.name == to), s"column exists: $to")
        cur.fields.map(f => if (f.name == from) f.copy(name = to) else f)
      case ("widenColumn", body: JObject) =>
        val m = body.obj.toMap
        val name = s(m("name")); val to = parseType(s(m("type")))
        cur.fields.map { f =>
          if (f.name == name) {
            require(canWiden(f.dataType, to),
              s"illegal widen ${f.dataType.simpleString} -> ${to.simpleString}")
            f.copy(dataType = to)
          } else f
        }
      case ("dropColumn", body: JObject) =>
        val m = body.obj.toMap
        val name = s(m("name"))
        require(cur.fields.exists(_.name == name), s"no column: $name")
        require(cur.fields.head.name != name, "cannot drop the key column")
        require(!cur.fields.find(_.name == name) // NB: json4s also has a
          .exists(_.id == graft.operators.Merge.versionFieldId), // `Merge`
          "cannot drop the event-time (merge version) column")
        cur.fields.filterNot(_.name == name)
      case (op, _) => sys.error(s"unknown ALTER op: $op")
    }
    Schema(newSchemaId, fields)
  }

  /** Whether an ALTER adds a column: no event before it carries a value
    * for the new column, so `Replay.applySlice` commits it ahead of the
    * merge of the segment that holds it.
    */
  def addsColumn(alterJson: String): Boolean =
    (JsonMethods.parse(alterJson) \ "addColumn").isInstanceOf[JObject]

  /** Apply an ALTER to the table as a metadata-only commit. */
  def apply(tableDir: String, alterJson: String, epochKey: String): Unit = {
    val m = IceLite.load(tableDir)
    if (m.committedEpoch(epochKey)) return
    val next = evolve(m.currentSchema, alterJson,
      m.schemas.map(_.schemaId).max + 1,
      usedFieldIds = m.schemas.flatMap(_.fields.map(_.id)).toSet)
    IceLite.commit(tableDir, epochKey, "alter", newSchema = Some(next))
  }
}
