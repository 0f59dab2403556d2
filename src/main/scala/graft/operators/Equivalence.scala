package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Table-state equivalence oracle (BASELINE.json: "assert table-state
  * equivalence", "byte-identical extracted text per url").
  *
  * Two tables are equivalent iff the symmetric difference of their
  * normalized row multisets is empty. Binary columns are compared by md5 so
  * the diff is a plain set operation; `text` (a UTF-8 string) is compared
  * verbatim, which IS byte identity for valid UTF-8.
  */
object Equivalence {

  /** Each side re-rooted on its own RDD: over a `dropDuplicates(cols)`
    * input, Spark 4.1's `exceptAll` rewrite leaves its `ReplicateRows`
    * referencing the pre-dedup attributes and fails with
    * INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND; a leaf has no such attributes.
    */
  private def normalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case BinaryType => md5(col(f.name)).as(f.name + "_md5")
        case _ => col(f.name)
      }
    }
    val n = df.select(cols.toIndexedSeq: _*)
    n.sparkSession.createDataFrame(n.rdd, n.schema)
  }

  /** Empty iff a ≡ b (as multisets of normalized rows). Each diff row is
    * tagged with the side that has the surplus.
    */
  def diff(a: DataFrame, b: DataFrame): DataFrame = {
    val na = normalize(a)
    val nb = normalize(b)
    na.exceptAll(nb).withColumn("_side", lit("a"))
      .unionAll(nb.exceptAll(na).withColumn("_side", lit("b")))
  }
}
