package graft

import graft.functions.{ExtractTextExpression, TextExtract}
import org.apache.spark.sql.functions._

/** The native Catalyst expression must agree with the frozen function in
  * BOTH execution modes (interpreted + whole-stage codegen), and be usable
  * from SQL.
  */
class ExtractTextExpressionSpec extends SparkTestBase {
  import spark.implicits._

  private val htmls = (0 until 100).map(i => graft.sources.Ledger.makeHtml(
    graft.sources.Ledger.Config(seed = 3), s"https://e.example.com/$i", i)) ++
    Seq(null, "<p>x &amp; y</p>".getBytes("UTF-8"), Array.empty[Byte])

  test("expression == frozen function, codegen on and off") {
    val df = htmls.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("id", "html")
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      // fallback=false: a codegen compile error must FAIL the test, not
      // silently interpret (this caught a missing static forwarder)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val got = df.select(col("id"),
          ExtractTextExpression.extract_text(col("html")).as("t"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        htmls.zipWithIndex.foreach { case (h, i) =>
          assert(got(i.toLong) == TextExtract.extract(h), s"row $i mode $mode")
        }
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("registered for SQL") {
    // the shared test session installs GraftExtensions, whose
    // injectFunction is the one SQL registration
    Seq(Tuple1("<b>sql &lt;path&gt;</b>".getBytes("UTF-8"))).toDF("html")
      .createOrReplaceTempView("pages_v")
    val out = spark.sql("SELECT extract_text(html) AS t FROM pages_v")
      .head().getString(0)
    assert(out == "sql <path>")
  }

  test("no ScalaUDF node in the merge projection plan") {
    val df = Seq(Tuple1("<p>a</p>".getBytes("UTF-8"))).toDF("html")
      .select(ExtractTextExpression.extract_text(col("html")))
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }
}
