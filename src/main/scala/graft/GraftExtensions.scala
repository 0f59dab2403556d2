package graft

import graft.functions.ExtractTextExpression
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the canonical way to install the
  * engine's Catalyst extensions into any session, including spark-submit
  * jobs that never touch engine code directly:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Injects the native `extract_text` expression for SQL use, and the SQL
  * DML surface for icelite tables (`MERGE INTO`, `UPDATE`, `DELETE FROM`):
  * Spark's analyzer fully resolves all three over a v1 relation (only the
  * planner rejects them), so ONE post-hoc resolution rule rewrites the
  * resolved plans into eager commands — see `operators/SqlMerge.scala`.
  * Its optimizer rule, `icelite.IceLiteScanSubstitution`, is where icelite
  * reads get pushdown and bucket pruning; a session without these
  * extensions reads through the v1 relation's unpruned, guarded fallback
  * scan. (No custom planner strategies: the engine's CDC merge remains
  * Catalyst-planned dataflow — SURVEY.md §4.3.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("extract_text"),
      new ExpressionInfo(classOf[ExtractTextExpression].getName,
        "extract_text"),
      (children: Seq[Expression]) => ExtractTextExpression(children.head)))
    // MERGE ... WITH SCHEMA EVOLUTION: widen the analyzed target with the
    // source's new columns during resolution (Spark only does this for v2
    // relations); the command ALTERs the table at execution time
    ext.injectResolutionRule(_ => new graft.operators.SqlMergeEvolutionRule)
    ext.injectPostHocResolutionRule(_ => new graft.operators.SqlDmlRule)
    // batch SELECTs over format("icelite") / catalog tables: swap the
    // DSv1 relation for the engine's pruned parquet read plan inline,
    // keeping whole-stage codegen + vectorized readers end-to-end (the v1
    // RDD[Row] seam stays only as the unpruned, guarded fallback)
    ext.injectOptimizerRule(s => new graft.icelite.IceLiteScanSubstitution(s))
  }
}
