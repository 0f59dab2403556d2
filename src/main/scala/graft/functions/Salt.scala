package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.functions._

/** Explicit skew handling (BASELINE.json north_rule: "salted repartitioning
  * on url-hash to defuse hot-domain skew").
  *
  * Two DISTINCT hash roles — never conflate them (SURVEY.md §7 watch list):
  *
  *  - [[bucket]] — the STORAGE bucket: `pmod(xxhash64(url), nBuckets)`.
  *    Stable table layout; unsalted, so a key always lives in one bucket.
  *  - the SHUFFLE key, built by `Merge`: the merge is repartitioned once
  *    on `(_bucket, pmod(hash(url), lanes))`, `lanes` ≤ `nSalts` sized by
  *    `Merge.effectiveSalts`, and picks each url's freshest row inside
  *    that shuffle. Spreads a hot bucket's *write/compute* work over up to
  *    `lanes` tasks without changing layout. The lane hash is murmur3
  *    (`hash`), not the bucket's `xxhash64`: when `lanes` divides
  *    `nBuckets`, an xxhash64 lane would be a function of the bucket, and
  *    each bucket would land in a single lane.
  *
  * All expression composition (codegen'd builtins) — no UDF.
  */
object Salt {

  /** Storage bucket for a url. */
  def bucket(url: Column, nBuckets: Int): Column =
    pmod(xxhash64(url), lit(nBuckets.toLong)).cast("int")

  /** [[bucket]] of one literal key, evaluated DRIVER-SIDE (metadata/bucket
    * pruning from point predicates). Built from the same Catalyst
    * expressions `bucket`'s Column resolves to — `cast(pmod(xxhash64(v),
    * n) as int)`, seed 42 — because a Column built from
    * `functions.xxhash64` holds an UNRESOLVED function until the analyzer
    * runs and cannot be `eval`'d directly. The data-source pruning spec
    * pins read/write agreement by destroying every other bucket's files.
    */
  def bucketOfLiteral(l: Literal, nBuckets: Int): Int =
    expressions.Cast(
      expressions.Pmod(new expressions.XxHash64(Seq(l)),
        expressions.Literal(nBuckets.toLong)),
      org.apache.spark.sql.types.IntegerType).eval(null).asInstanceOf[Int]

  /** [[bucketOfLiteral]] over a plain Scala/Java value. */
  def bucketOfValue(v: Any, nBuckets: Int): Int =
    bucketOfLiteral(Literal(v), nBuckets)

  /** Storage buckets a condition pins through its `key`: the buckets of
    * the literals of the first conjunct `key = lit` or `key <=> lit`
    * (either operand order) or `key IN (lits)`. Sound whatever the rest
    * of the condition does, because a matching row satisfies EVERY
    * conjunct; None when no conjunct pins the key. The one pruning rule
    * for both icelite scans (`IceLiteScanSubstitution`) and SQL DML
    * targets (`SqlMerge`).
    */
  def bucketsPinnedBy(cond: Expression, key: Expression,
      nBuckets: Int): Option[Set[Int]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def pins(k: Expression, l: Literal) = k.semanticEquals(key) && l.value != null
    def one(l: Literal) = Set(bucketOfLiteral(l, nBuckets))
    conjuncts(cond).collectFirst {
      case EqualTo(k, l: Literal) if pins(k, l) => one(l)
      case EqualTo(l: Literal, k) if pins(k, l) => one(l)
      case EqualNullSafe(k, l: Literal) if pins(k, l) => one(l)
      case EqualNullSafe(l: Literal, k) if pins(k, l) => one(l)
      case In(k, vs) if k.semanticEquals(key) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        vs.collect { case l: Literal if l.value != null =>
          bucketOfLiteral(l, nBuckets) }.toSet
    }
  }
}
