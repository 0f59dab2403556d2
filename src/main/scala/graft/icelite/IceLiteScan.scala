package graft.icelite

import graft.functions.Salt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.PlanBridge

/** The one read of an analyzed icelite relation: its table pinned to one
  * version and checked against the schema the query was analyzed
  * against. The scan substitution, the SQL DML target
  * (`operators.SqlMerge`) and the v1 relation's own fallback scan all
  * read through here, so a schema evolution between analysis and
  * execution fails every surface the same way and never silently changes
  * a column set.
  *
  * `attrs`: the analyzed output, key first. `evolved`: the analyzed
  * columns the table does not have yet (MERGE WITH SCHEMA EVOLUTION adds
  * them with its own commit).
  */
final case class IceLiteScan(dir: String, meta: IceLite.Metadata,
    attrs: Seq[AttributeReference], evolved: Seq[AttributeReference]) {

  def key: AttributeReference = attrs.head
  def numBuckets: Int = meta.numBuckets

  /** The live rows of `meta.version`, pruned to `buckets`, as a plan whose
    * output carries the analyzed attribute ids (explicit-exprId aliases,
    * so analyzer-produced conditions and assignments resolve against it
    * unchanged). An `evolved` column null-fills, exactly as a post-ALTER
    * read of the stored files would; `position` appends the stored CDC
    * position as [[IceLiteScan.offsetCol]]/[[IceLiteScan.partitionCol]].
    */
  def plan(spark: SparkSession, buckets: Option[Set[Int]],
      position: Boolean = false): LogicalPlan = {
    val base = PlanBridge.analyzed(
      IceLite.read(spark, dir, Some(meta.version), buckets, position))
    val byName = base.output.map(a => a.name -> a).toMap
    val cols = attrs.map(a => Alias(byName.getOrElse(a.name,
      Literal(null, a.dataType)), a.name)(exprId = a.exprId))
    val pos =
      if (!position) Nil
      else Seq(Alias(byName("_offset"), IceLiteScan.offsetCol)(),
        Alias(byName("_partition"), IceLiteScan.partitionCol)())
    Project(cols ++ pos, base)
  }
}

object IceLiteScan {
  val offsetCol = "__graft_t_offset"
  val partitionCol = "__graft_t_partition"

  /** Pin the table at `dir` to `version` (default: the current one) and
    * check its schema is still the one `output` was analyzed against —
    * else fail with the schema-drift error (data-only commits never
    * change the schema, so ordinary reads stay fresh). With `evolving`,
    * analyzed columns the table lacks are exempt.
    */
  def apply(dir: String, version: Option[Int], output: Seq[Attribute],
      evolving: Boolean = false): IceLiteScan = {
    val meta = version.fold(IceLite.load(dir))(IceLite.loadVersion(dir, _))
    val attrs = output.map(_.asInstanceOf[AttributeReference])
    val existing = meta.currentSchema.fields.map(_.name).toSet
    val evolved = if (evolving) attrs.filterNot(a => existing(a.name)) else Nil
    if (meta.currentSchema.struct.fields.map(f => (f.name, f.dataType)).toSeq !=
        attrs.filterNot(evolved.contains).map(a => (a.name, a.dataType))) {
      throw new IllegalStateException(
        s"icelite: $dir schema evolved since this query was analyzed — " +
          "run REFRESH TABLE (or re-create the DataFrame) and re-run")
    }
    IceLiteScan(dir, meta, attrs, evolved)
  }
}

/** Optimizer rule that replaces a v1 [[IceLiteRelation]] scan with the
  * engine's own parquet read plan ([[IceLiteScan]]), INLINE in the query.
  *
  * Why: the DSv1 boundary (`buildScan` returning `RDD[Row]`) costs an
  * internal→Row→internal conversion and breaks whole-stage codegen at the
  * relation seam — a constant-factor tax every `SELECT ... FROM t` pays.
  * The substituted plan keeps vectorized parquet readers + whole-stage
  * codegen end-to-end, and lets Catalyst push filters and prune columns
  * natively into the parquet scans.
  *
  * This rule is where icelite reads are pruned. It runs in the
  * operator-optimization fixpoint batch, AFTER predicate pushdown has
  * moved filters adjacent to the relation, so key-literal conjuncts
  * (`Salt.bucketsPinnedBy`) of the adjacent Filter prune the METADATA
  * file list to the keys' buckets before the parquet relation is even
  * built (a point lookup on a 10^5-bucket table opens a handful of
  * files). The Filter node itself is left in place; later fixpoint
  * iterations push it into the substituted parquet scans
  * (`PushedFilters` row-group skipping). The SQL DML surface is
  * unaffected: MERGE / UPDATE / DELETE plans are rewritten into leaf
  * commands at post-hoc resolution, before the optimizer ever sees their
  * inner relations.
  */
class IceLiteScanSubstitution(spark: SparkSession) extends Rule[LogicalPlan] {

  private def substitute(lr: LogicalRelation, rel: IceLiteRelation,
      cond: Option[Expression]): LogicalPlan = {
    val scan = IceLiteScan(rel.dir, rel.version, lr.output)
    scan.plan(spark,
      cond.flatMap(Salt.bucketsPinnedBy(_, scan.key, scan.numBuckets)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[IceLiteRelation] =>
      Filter(cond, substitute(lr, lr.relation.asInstanceOf[IceLiteRelation],
        Some(cond)))
    case lr: LogicalRelation if lr.relation.isInstanceOf[IceLiteRelation] =>
      substitute(lr, lr.relation.asInstanceOf[IceLiteRelation], None)
  }
}
