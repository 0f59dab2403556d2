package graft.operators

import scala.annotation.tailrec

import graft.functions.Salt
import graft.icelite.{IceLite, IceLiteRelation, IceLiteScan}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

/** SQL `MERGE INTO` surface for IceLite tables (SURVEY §4.3's "revisit
  * if a MERGE INTO SQL surface is added": this is that revisit).
  *
  * Spark's analyzer fully resolves `MergeIntoTable` over a v1 relation —
  * only the PLANNER rejects it (`BasicOperators` throws "MERGE INTO TABLE
  * is not supported temporarily", verified against Spark 4.1). So the
  * whole surface is one post-hoc resolution rule that rewrites the
  * resolved `MergeIntoTable` into a `LeafRunnableCommand` executing
  * standard SQL MERGE semantics as Catalyst-planned dataflow:
  *
  *  - target ⟗ source on the merge condition (left-outer when there are
  *    no NOT MATCHED clauses — source-only rows would be dropped anyway);
  *  - first-matching-clause action resolution as a CASE chain (clause
  *    order is the SQL-mandated priority);
  *  - cardinality check + multi-match dedup in ONE hash-partitioned
  *    window (per-target-row groups; source-only rows get singleton
  *    groups so no single-task skew);
  *  - bucket-scoped rewrite: only buckets that gained, lost or changed a
  *    row are rewritten, committed with `baseVersion` so a concurrent
  *    CDC merge CONFLICTS instead of being clobbered (serializable
  *    isolation; the command re-reads and re-executes on conflict);
  *  - when the merge condition pins the storage key (`t.key = s.expr`),
  *    the target SCAN is bucket-pruned to the source keys' buckets —
  *    the same pruning the CDC merge uses, so a point-merge into a
  *    10^5-bucket table reads a handful of buckets, not the table.
  *
  * Semantics notes (documented divergences from the CDC merge operator):
  * `WHEN MATCHED ... DELETE` deletes immediately (no tombstone — SQL
  * statement semantics, not late-data CDC fencing); existing tombstones
  * in rewritten buckets are preserved unless the statement re-inserts
  * that key; unchanged and updated rows keep their stored CDC position
  * (`_offset`/`_partition`), inserted rows get a null position.
  */
object SqlMerge {

  @tailrec
  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAlias(child)
    // the WITH SCHEMA EVOLUTION widening wrapper (see
    // [[SqlMergeEvolutionRule]]): pass-through attributes + null-literal
    // aliases over the relation — transparent for target identification
    case Project(pl, child) if pl.forall {
      case _: AttributeReference => true
      case Alias(l: org.apache.spark.sql.catalyst.expressions.Literal, _)
        if l.value == null => true
      case _ => false
    } => stripAlias(child)
    case other => other
  }

  /** The IceLite relation beneath a MERGE target, if it is one. */
  def iceTarget(p: LogicalPlan): Option[IceLiteRelation] = stripAlias(p) match {
    case lr: LogicalRelation => lr.relation match {
      case r: IceLiteRelation => Some(r)
      case _ => None
    }
    case _ => None
  }

  /** One MERGE clause, normalized: per-target-column assignment values
    * looked up by position (v1 targets are never "rewritable", so the
    * analyzer leaves assignments unaligned — we align here by exprId).
    */
  private case class Clause(idx: Int, cond: Option[Expression],
      isDelete: Boolean, assigns: Map[Int, Expression])

  private def clauses(actions: Seq[MergeAction],
      tgtAttrs: Seq[AttributeReference]): Seq[Clause] =
    actions.zipWithIndex.map {
      case (u: UpdateAction, i) => Clause(i, u.condition, isDelete = false,
        assignMap(u.assignments, tgtAttrs))
      case (d: DeleteAction, i) => Clause(i, d.condition, isDelete = true,
        Map.empty)
      case (ins: InsertAction, i) => Clause(i, ins.condition,
        isDelete = false, assignMap(ins.assignments, tgtAttrs))
      case (other, _) => throw new UnsupportedOperationException(
        s"MERGE INTO icelite: unsupported clause $other (star actions " +
          "should have been expanded by the analyzer)")
    }

  private def assignMap(as: Seq[Assignment],
      tgtAttrs: Seq[AttributeReference]): Map[Int, Expression] =
    as.map { a =>
      a.key match {
        case ar: AttributeReference =>
          val i = tgtAttrs.indexWhere(_.exprId == ar.exprId)
          if (i < 0) throw new UnsupportedOperationException(
            s"MERGE INTO icelite: assignment key $ar is not a top-level " +
              "target column")
          i -> a.value
        case other => throw new UnsupportedOperationException(
          s"MERGE INTO icelite: only top-level column assignments are " +
            s"supported, got $other")
      }
    }.toMap

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def cc(e: Expression): Column = ColumnBridge.column(e)

  /** Execute once against the current table version; throws
    * [[graft.icelite.CommitConflictException]] if a concurrent commit
    * invalidates the read (the command's retry loop re-executes).
    */
  def execute(spark: SparkSession, merge: MergeIntoTable): Unit = {
    val t = target(merge.targetTable, evolving = merge.withSchemaEvolution)
    val (pre, tgtAttrs, keyAttr, nB) = (t.meta, t.attrs, t.key, t.numBuckets)
    // WITH SCHEMA EVOLUTION: the resolution rule widened the analyzed
    // target with the source's new columns. The TABLE is NOT altered up
    // front — the new columns ride the merge's OWN commit
    // (IceLite.commit's newSchema, same metadata shape the ALTER
    // interpreter produces), Delta-style ATOMIC evolution: a statement
    // that fails after analysis (cardinality violation, key-uniqueness
    // abort, exhausted conflict retries) — or that matches nothing and
    // no-ops — leaves the table schema untouched. The pinned target scan
    // null-fills the not-yet-existing columns, exactly what a post-ALTER
    // read of the old files would produce, so the dataflow is unchanged.
    // New field ids are minted above every id EVER used (all schemas,
    // not just current): after a dropColumn, max(current)+1 would REUSE
    // the dropped id and the by-field-id read reconciliation would
    // resurrect the dropped column's stored values into the new column
    val usedIds = pre.schemas.flatMap(_.fields.map(_.id)).toSet
    val newSchema: Option[IceLite.Schema] =
      if (t.evolved.isEmpty) None
      else Some(IceLite.Schema(
        pre.schemas.map(_.schemaId).max + 1,
        t.evolved.zipWithIndex.foldLeft(pre.currentSchema.fields) {
          case (fs, (a, k)) => fs :+ IceLite.Field(usedIds.max + 1 + k,
            a.name, a.dataType, nullable = true)
        }))

    val matched = clauses(merge.matchedActions, tgtAttrs)
    val inserts = clauses(merge.notMatchedActions, tgtAttrs)
    val nmbs = clauses(merge.notMatchedBySourceActions, tgtAttrs)

    // ---- bucket pruning: sound only when every affected bucket is
    // derivable from the source keys (condition pins t.key to a source
    // expression, updates never move a row's key, inserts use that same
    // key expression, nothing touches rows without a source match). The
    // key expression must be deterministic: the probe and the join both
    // evaluate it
    val srcAttrSet = AttributeSet(merge.sourceTable.output)
    val srcKeyExpr = conjuncts(merge.mergeCondition).collectFirst {
      case EqualTo(l, r) if l.semanticEquals(keyAttr) &&
        r.references.subsetOf(srcAttrSet) && r.deterministic => r
      case EqualTo(l, r) if r.semanticEquals(keyAttr) &&
        l.references.subsetOf(srcAttrSet) && l.deterministic => l
    }
    val updatesPreserveKey = (matched ++ nmbs).forall(c =>
      c.isDelete || c.assigns.get(0).forall(_.semanticEquals(keyAttr)))
    val insertsUseKey = srcKeyExpr.exists(ske =>
      inserts.forall(_.assigns.get(0).exists(_.semanticEquals(ske))))
    val canPrune = srcKeyExpr.isDefined && nmbs.isEmpty &&
      updatesPreserveKey && insertsUseKey

    // a pruning MERGE reads its source twice (the bucket probe, then the
    // join): the source is frozen once, so both see the same rows even
    // when it is nondeterministic or scans a table a concurrent commit
    // changes (the checkpoint keeps the analyzed attribute ids; the probe
    // fills it, see [[rewrite]])
    val srcDF = PlanBridge.ofRows(spark, merge.sourceTable)
    val frozenSrc =
      if (canPrune) Some(srcDF.localCheckpoint(eager = false)) else None
    try {
      val scanBuckets = frozenSrc.map(_.select(
          Salt.bucket(cc(srcKeyExpr.get), nB).as("__b"))
        .filter(col("__b").isNotNull).distinct()
        .collect().map(_.getInt(0)).toSet)

      // ---- the merge dataflow over the target scan: version-pinned,
      // bucket-pruned when the probe ran, WITH the stored CDC position
      // columns — and with the analyzer's attribute ids grafted on via
      // explicit-exprId aliases, so the merge condition and assignment
      // expressions resolve against it unchanged
      val tb = pinnedTarget(spark, t, scanBuckets)
        .withColumn("__rid", monotonically_increasing_id())
        .withColumn("__t_ex", lit(true))
      val sb = frozenSrc.getOrElse(srcDF)
        .withColumn("__sid", monotonically_increasing_id())
        .withColumn("__s_ex", lit(true))
      val joinType = if (inserts.nonEmpty) "full_outer" else "left_outer"
      val joined = tb.join(sb, cc(merge.mergeCondition), joinType)

      val isM = col("__t_ex").isNotNull && col("__s_ex").isNotNull
      val isS = col("__t_ex").isNull
      val isT = col("__t_ex").isNotNull && col("__s_ex").isNull

      // index of the first clause whose condition holds, else -1 (SQL gives
      // clause order priority; a null condition falls through)
      def firstClause(cs: Seq[Clause]): Column =
        cs.foldRight(lit(-1): Column)((c, acc) =>
          when(c.cond.map(cc).getOrElse(lit(true)), lit(c.idx)).otherwise(acc))

      val acted = joined
        .withColumn("__mact", when(isM, firstClause(matched)).otherwise(lit(-1)))
        .withColumn("__nmact", when(isS, firstClause(inserts)).otherwise(lit(-1)))
        .withColumn("__tact", when(isT, firstClause(nmbs)).otherwise(lit(-1)))

      // one window does both duties: cardinality violation (two+ clauses
      // firing for the same target row) and multi-match dedup (a target row
      // matching k source rows with no firing clause must survive ONCE).
      // Partition key (side, per-row id): matched copies share their target
      // row's group; source-only rows get singleton groups — no skew.
      val wkey = coalesce(col("__rid"), col("__sid"))
      val w = Window.partitionBy(col("__t_ex"), wkey)
      val wo = w.orderBy(col("__sid").asc_nulls_first)
      val withCard = acted
        .withColumn("__fcnt",
          sum(when(col("__mact") >= 0, 1).otherwise(0)).over(w))
        .withColumn("__cno", row_number().over(wo))

      val mDel = matched.filter(_.isDelete).map(_.idx)
      val tDel = nmbs.filter(_.isDelete).map(_.idx)
      def isin(c: Column, idxs: Seq[Int]): Column =
        if (idxs.isEmpty) lit(false) else c.isInCollection(idxs)

      val cardMsg = "MERGE INTO icelite: a target row matched multiple " +
        "source rows that attempt to update or delete it " +
        "(MERGE cardinality violation)"
      val keep =
        when(isM && col("__fcnt") > 1,
          assert_true(lit(false), lit(cardMsg)).isNotNull)
        .when(isM && col("__mact") >= 0, !isin(col("__mact"), mDel))
        .when(isM, col("__fcnt") === 0 && col("__cno") === 1)
        .when(isS, col("__nmact") >= 0)
        .when(isT && col("__tact") >= 0, !isin(col("__tact"), tDel))
        .otherwise(lit(true))
      val changed = (isM && col("__mact") >= 0) ||
        (isS && col("__nmact") >= 0) || (isT && col("__tact") >= 0)

      // final value of target column j under the firing clause (store
      // assignment casts to the column type, ANSI semantics); unassigned
      // columns keep their value on UPDATE and get null on INSERT
      def clauseValue(cs: Seq[Clause], actCol: Column, j: Int,
          default: Column): Column =
        cs.filterNot(_.isDelete).foldRight(default)((c, acc) =>
          when(actCol === c.idx,
            c.assigns.get(j).map(e => cc(e).cast(tgtAttrs(j).dataType))
              .getOrElse(default)).otherwise(acc))
      def finalValue(j: Int): Column = {
        val old = cc(tgtAttrs(j))
        val nul = lit(null).cast(tgtAttrs(j).dataType)
        when(isM, clauseValue(matched, col("__mact"), j, old))
          .when(isS, clauseValue(inserts, col("__nmact"), j, nul))
          .otherwise(clauseValue(nmbs, col("__tact"), j, old))
      }

      // inserts, duplicate source keys and key-reassigning updates can put
      // a new key into a bucket (see rewrite)
      rewrite(spark, t, "sqlmerge",
        marked(withCard, t, tgtAttrs.indices.map(finalValue), keep, changed,
          when(col("__t_ex").isNotNull, Salt.bucket(cc(keyAttr), nB))),
        scanBuckets,
        introducesKeys = inserts.nonEmpty || !updatesPreserveKey, newSchema)
    } finally frozenSrc.foreach(PlanBridge.releaseCheckpoint)
  }

  // ------------------------------------------------------------ shared
  // machinery for the three DML surfaces (MERGE / UPDATE / DELETE)

  /** The icelite scan beneath an analyzed DML target, pinned to the
    * current version (every scan reads `meta.version`, the commit
    * validates against it) and guarded against schema drift. With
    * `evolving`, target columns the table lacks are exempt: they evolve
    * with the commit.
    */
  private def target(plan: LogicalPlan, evolving: Boolean = false): IceLiteScan =
    IceLiteScan(iceTarget(plan).getOrElse(
      sys.error("icelite SQL DML on a non-icelite target")).dir,
      None, plan.output, evolving)

  /** The target's live rows pruned to `scanBuckets`, with the analyzed
    * attribute ids and the stored CDC position (see [[IceLiteScan.plan]]).
    */
  private def pinnedTarget(spark: SparkSession, t: IceLiteScan,
      scanBuckets: Option[Set[Int]]): DataFrame =
    PlanBridge.ofRows(spark, t.plan(spark, scanBuckets, position = true))

  /** A statement's marked frame, the one shape [[rewrite]] consumes: the
    * final target column values, `__keep` (the row survives), `__changed`
    * (a clause fired on it), `__oldb` (its bucket before the statement,
    * null for inserted rows), `__newb` (its final key's bucket, null for
    * removed rows) and the stored CDC position as `_offset`/`_partition`.
    */
  private def marked(df: DataFrame, t: IceLiteScan, values: Seq[Column],
      keep: Column, changed: Column, oldb: Column): DataFrame =
    df.select(values.zip(t.attrs).map { case (v, a) => v.as(a.name) } ++ Seq(
        keep.as("__keep"), changed.as("__changed"), oldb.as("__oldb"),
        col(IceLiteScan.offsetCol).as("_offset"),
        col(IceLiteScan.partitionCol).as("_partition")): _*)
      .withColumn("__newb",
        when(col("__keep"), Salt.bucket(col(t.key.name), t.numBuckets)))

  /** The statement skeleton shared by MERGE, UPDATE and DELETE: find the
    * affected buckets (old and new bucket of every changed row) and
    * rewrite exactly those, each as the statement's surviving rows.
    * `stmt` is the statement's [[marked]] frame over a target scan pruned
    * to `scanBuckets` (None: the whole table).
    *
    * The frame is evaluated ONCE: a local checkpoint (not a cache, so
    * per-statement frames don't pin the CacheManager) freezes it. It is
    * lazy, so the affected-bucket collect — which reads every partition —
    * fills its blocks, and the write job's every read of the frame (the
    * rewrite set, the key-uniqueness guard, the tombstone re-insert
    * anti-join) reads them. So a nondeterministic value is computed once,
    * and nothing the write job runs re-evaluates the statement. Every exit
    * path releases the blocks, a failed evaluation included.
    *
    * The rewrite set commits as the new content of the affected buckets:
    * their CDC tombstones are preserved (late-data fencing) unless the
    * statement re-inserted the key, and the commit validates against
    * `t.meta` so a concurrent committer CONFLICTS, never clobbers. The
    * epoch key is [[IceLite.uniqueEpoch]]'s: never folded into the epoch
    * high-water mark, so concurrent DML statements can't mask each other.
    *
    * `introducesKeys`: true for statements that can put a NEW key into a
    * bucket (MERGE inserts, key-reassigning UPDATE). Those — and only
    * those — need (a) the key-uniqueness guard: a per-key window over the
    * rewrite set (collisions are bucket-local by the layout invariant,
    * and the rewrite set fully covers the affected buckets) fails the
    * statement BEFORE the commit if two live rows would share a key (the
    * one-live-row-per-key invariant every other operator assumes); and
    * (b) the tombstone re-insert anti-join — a statement that cannot mint
    * keys cannot collide with a tombstoned key (live and tombstoned key
    * sets are disjoint), so both steps are skipped entirely then.
    */
  private def rewrite(spark: SparkSession, t: IceLiteScan, opName: String,
      stmt: DataFrame, scanBuckets: Option[Set[Int]], introducesKeys: Boolean,
      newSchema: Option[IceLite.Schema] = None): Unit = {
    val keyName = t.key.name
    val frozen = stmt.localCheckpoint(eager = false)
    try {
      val affected = frozen.filter(col("__changed"))
        .select(explode(array(col("__oldb"), col("__newb"))).as("b"))
        .filter(col("b").isNotNull)
        .distinct().collect().map(_.getInt(0)).toSet
      if (affected.isEmpty) return // nothing changed: a no-op
      scanBuckets.foreach { sbs =>
        if (!affected.subsetOf(sbs)) sys.error(
          s"internal: pruning unsound — affected $affected ⊄ scanned $sbs")
      }
      val out = frozen.filter(col("__keep") && col("__newb").isInCollection(affected))
        .select(t.attrs.map(a => col(a.name)) ++ Seq(col("_offset"),
          col("_partition"), lit(false).as("_deleted"),
          col("__newb").as("_bucket")): _*)
      val guarded =
        if (!introducesKeys) out
        else {
          val dupMsg = s"$opName: two live rows would share key `$keyName` " +
            "after this statement (an INSERT or key reassignment collides " +
            "with an existing live key) — key uniqueness violation"
          val wk = Window.partitionBy(col(keyName))
          out.withColumn("__kc", count(lit(1)).over(wk))
            // filter (not a dropped projection — column pruning would erase
            // it): evaluated during the write, aborts before any commit
            .filter(when(col("__kc") > 1,
              assert_true(lit(false), lit(dupMsg)).isNotNull)
              .otherwise(lit(true)))
            .drop("__kc")
        }
      val tombs0 = IceLite.readInternal(spark, t.dir, Some(t.meta.version),
          Some(affected))
        .filter(col("_deleted"))
      val tombs1 = (if (introducesKeys)
          tombs0.join(out.select(col(keyName)), Seq(keyName), "left_anti")
        else tombs0)
        .withColumn("_bucket", Salt.bucket(col(keyName), t.numBuckets))
      // atomic evolution: tombstones were read under the pre-statement
      // schema — null-fill the statement's new columns, as any
      // post-evolution read of old files would
      val tombs = newSchema.fold(tombs1)(s =>
        s.fields.filterNot(f => tombs1.columns.contains(f.name))
          .foldLeft(tombs1)((df, f) =>
            df.withColumn(f.name, lit(null).cast(f.dataType))))
      // one file per rewritten bucket (not one per task per bucket): DML
      // statements must not crowd buckets into needing compaction
      IceLite.replaceBuckets(t.dir, IceLite.uniqueEpoch(opName), opName,
        t.meta, guarded.unionByName(tombs.select(out.columns.map(col): _*))
          .repartition(col("_bucket")), affected, newSchema)
    } finally PlanBridge.releaseCheckpoint(frozen)
  }

  // ------------------------------------------------------------ UPDATE

  /** SQL `UPDATE t SET ... [WHERE ...]`: a bucket-scoped rewrite of the
    * buckets holding (or receiving, when the key itself is assigned)
    * matching rows. Scan pruning applies when the WHERE pins the key and
    * the key is not reassigned.
    */
  def executeUpdate(spark: SparkSession, update: UpdateTable): Unit = {
    val t = target(update.table)
    val assigns = assignMap(update.assignments, t.attrs)
    val cond = update.condition
      .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
    val keyReassigned = assigns.get(0).exists(!_.semanticEquals(t.key))
    val hit = coalesce(cc(cond), lit(false))
    def finalValue(j: Int): Column = {
      val old = cc(t.attrs(j))
      assigns.get(j).map(e =>
        when(hit, cc(e).cast(t.attrs(j).dataType)).otherwise(old))
        .getOrElse(old)
    }
    // moved rows need their NEW bucket read too: no scan pruning
    val scanBuckets = if (keyReassigned) None
      else Salt.bucketsPinnedBy(cond, t.key, t.numBuckets)
    rewrite(spark, t, "sqlupdate",
      marked(pinnedTarget(spark, t, scanBuckets), t,
        t.attrs.indices.map(finalValue), keep = lit(true), changed = hit,
        Salt.bucket(cc(t.key), t.numBuckets)),
      scanBuckets, introducesKeys = keyReassigned)
  }

  // ------------------------------------------------------------ DELETE

  /** SQL `DELETE FROM t [WHERE ...]`: rewrite the buckets holding matching
    * rows without them. Immediate deletes (no tombstone — statement
    * semantics, same note as MERGE's DELETE); existing tombstones in the
    * rewritten buckets are preserved.
    */
  def executeDelete(spark: SparkSession, delete: DeleteFromTable): Unit = {
    val t = target(delete.table)
    val hit = coalesce(cc(delete.condition), lit(false))
    val scanBuckets =
      Salt.bucketsPinnedBy(delete.condition, t.key, t.numBuckets)
    rewrite(spark, t, "sqldelete",
      marked(pinnedTarget(spark, t, scanBuckets), t, t.attrs.map(cc),
        keep = !hit, changed = hit, Salt.bucket(cc(t.key), t.numBuckets)),
      scanBuckets, introducesKeys = false)
  }
}

/** Base for the three DML command nodes: executes eagerly like every SQL
  * DML, re-executing on commit conflict (each attempt reads the current
  * version afresh — a conflict only means a concurrent committer changed
  * an affected bucket first).
  */
sealed trait SqlDmlCommand extends LeafRunnableCommand {
  protected def executeOnce(spark: SparkSession): Unit
  override def run(spark: SparkSession): Seq[Row] = {
    IceLite.retryOnConflict(executeOnce(spark))
    Seq.empty
  }
}

case class SqlMergeCommand(merge: MergeIntoTable) extends SqlDmlCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(merge)
  override protected def executeOnce(spark: SparkSession): Unit =
    SqlMerge.execute(spark, merge)
}

case class SqlUpdateCommand(update: UpdateTable) extends SqlDmlCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(update)
  override protected def executeOnce(spark: SparkSession): Unit =
    SqlMerge.executeUpdate(spark, update)
}

case class SqlDeleteCommand(delete: DeleteFromTable) extends SqlDmlCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(delete)
  override protected def executeOnce(spark: SparkSession): Unit =
    SqlMerge.executeDelete(spark, delete)
}

/** Resolution rule for `MERGE ... WITH SCHEMA EVOLUTION` over an icelite
  * target: widen the analyzed target with the SOURCE's new columns (as
  * null-literal aliases appended in source order) so assignments and star
  * expansions referencing them RESOLVE — Spark's own evolution resolution
  * only covers v2 relations, and without the widening `tg.newcol = ...`
  * dies with UNRESOLVED_COLUMN before any post-hoc rule runs.
  *
  * New columns are derived from the source SCHEMA, Delta-like: star
  * actions (`UPDATE SET *` / `INSERT *`) pull in EVERY source column the
  * target lacks; explicit assignments pull in only the assigned names
  * that exist in the source — an assignment to a name in neither target
  * nor source still fails resolution with the standard clear error, and
  * unreferenced source columns never pollute the table. The widening is
  * pure plan surgery — the TABLE evolves at execution time
  * (SqlMerge.execute applies one metadata-only ALTER per missing column
  * through the same interpreter the CDC ALTER path uses), so EXPLAIN
  * never mutates state. Idempotent under the analyzer's fixpoint: once
  * widened, no wanted column is missing.
  */
class SqlMergeEvolutionRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.withSchemaEvolution &&
        m.sourceTable.resolved && m.targetTable.resolved &&
        SqlMerge.iceTarget(m.targetTable).isDefined =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.plans.logical.{InsertStarAction, UpdateStarAction}
      val tgtOut = m.targetTable.output
      val actions = m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions
      val hasStar = actions.exists {
        case _: UpdateStarAction | _: InsertStarAction => true
        case _ => false
      }
      val assignedNames: Seq[String] = actions.flatMap {
        case u: UpdateAction => u.assignments.map(_.key)
        case i: InsertAction => i.assignments.map(_.key)
        case _ => Nil
      }.collect { case ua: UnresolvedAttribute => ua.nameParts.last }
      val missing = m.sourceTable.output.filterNot(s =>
        tgtOut.exists(t => conf.resolver(t.name, s.name)))
      val newCols =
        if (hasStar) missing
        else missing.filter(s =>
          assignedNames.exists(conf.resolver(_, s.name)))
      if (newCols.isEmpty) m
      else {
        def widen(p: LogicalPlan): LogicalPlan = Project(
          p.output ++ newCols.map(s => Alias(
            org.apache.spark.sql.catalyst.expressions.Literal(null,
              s.dataType), s.name)()),
          p)
        // widen INSIDE the target's alias, so `tg.newcol` references
        // resolve with their qualifier (SubqueryAlias re-qualifies its
        // child's output)
        val widened = m.targetTable match {
          case SubqueryAlias(id, child) => SubqueryAlias(id, widen(child))
          case other => widen(other)
        }
        m.copy(targetTable = widened)
      }
    case other => other
  }
}

/** Post-hoc resolution rule: resolved MERGE / UPDATE / DELETE over an
  * icelite v1 relation → the matching command. Anything else is left for
  * Spark to handle (or reject) as usual.
  */
class SqlDmlRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable
        if m.resolved && SqlMerge.iceTarget(m.targetTable).isDefined =>
      SqlMergeCommand(m)
    case u: UpdateTable
        if u.resolved && SqlMerge.iceTarget(u.table).isDefined =>
      SqlUpdateCommand(u)
    case d: DeleteFromTable
        if d.resolved && SqlMerge.iceTarget(d.table).isDefined =>
      SqlDeleteCommand(d)
    case other => other
  }
}
