package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Tokenizer-TRUE token counting: a real byte-pair-merge encoder over a
  * merge table shipped as a resource (`graft/bpe-merges.txt` — rank =
  * line order, the standard published BPE formulation: repeatedly merge
  * the adjacent pair with the lowest rank until none applies). The
  * bundled table is a small hand-authored English-oriented demo
  * vocabulary; a production deployment drops a full learned merge file
  * (same one-merge-per-line format) in its place and nothing else
  * changes. [[TextAnalysis.tokenCountBpeish]] remains the cheap
  * DuckDB-oracled proxy; this is the exact count a token-budget
  * accountant wants, sbt-proven against golden vectors and a
  * driver-side reference.
  *
  * Pretokenization: maximal runs of letters, runs of digits, or a single
  * non-space symbol (whitespace never becomes a token) — each pretoken
  * is BPE-encoded independently, so the work per document is linear in
  * its length and the expression stays a pure projection (no shuffle,
  * no state; a per-executor memo cache exploits the Zipfian word
  * distribution).
  */
object Bpe {

  /** (left, right) → rank, loaded once per JVM from the resource. */
  lazy val merges: Map[(String, String), Int] = {
    val in = getClass.getResourceAsStream("/graft/bpe-merges.txt")
    require(in != null, "missing resource graft/bpe-merges.txt")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .zipWithIndex
        .map { case (l, rank) =>
          val sp = l.split(" ")
          require(sp.length == 2, s"bad merge line: '$l'")
          (sp(0), sp(1)) -> rank
        }.toMap
    } finally in.close()
  }

  /** Standard greedy BPE: start from single characters, repeatedly merge
    * the adjacent pair with the LOWEST rank (ties broken leftmost), stop
    * when no adjacent pair is in the table. Returns the token count
    * (the subword strings themselves are internal).
    */
  def encodeCount(word: String): Int = {
    if (word.length <= 1) return word.length
    var toks = word.map(_.toString).toArray
    var done = false
    while (!done && toks.length > 1) {
      var best = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < toks.length - 1) {
        val r = merges.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        // merge EVERY occurrence of the winning pair left-to-right (the
        // published algorithm's per-iteration step)
        val (l, r) = (toks(bestAt), toks(bestAt + 1))
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += l + r; j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.toArray
      }
    }
    toks.length
  }

  /** Pretokens: letter runs | digit runs | single non-space symbol. */
  private def pretokens(text: String): Iterator[String] =
    new Iterator[String] {
      private var i = 0
      private def skipWs(): Unit =
        while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1
      skipWs()
      def hasNext: Boolean = i < text.length
      def next(): String = {
        val start = i
        val c = text.charAt(i)
        if (Character.isLetter(c)) {
          while (i < text.length && Character.isLetter(text.charAt(i))) i += 1
        } else if (Character.isDigit(c)) {
          while (i < text.length && Character.isDigit(text.charAt(i))) i += 1
        } else i += 1
        val t = text.substring(start, i)
        skipWs()
        t
      }
    }

  /** Executor-local word→count memo (Zipfian corpora hit it constantly);
    * bounded so a high-cardinality corpus cannot grow it without limit.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val cacheCap = 65536

  /** Exact BPE token count of a document. */
  def countTokens(text: String): Int = {
    var n = 0
    val it = pretokens(text)
    while (it.hasNext) {
      val w = it.next()
      var c = cache.get(w)
      if (c == null) {
        c = Integer.valueOf(encodeCount(w))
        if (cache.size < cacheCap) cache.put(w, c)
      }
      n += c.intValue()
    }
    n
  }
}

/** `token_count_bpe(text: string) → int` as a native codegen expression
  * (same rationale and shape as [[ExtractTextExpression]]: a direct
  * static call inside the generated loop, no UDF row conversion).
  */
case class BpeCountExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_count_bpe needs STRING input, got ${child.dataType.simpleString}")
    }
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_count_bpe"

  override protected def nullSafeEval(input: Any): Any =
    BpeCountExpression.evalUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeCountExpression.evalUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : BpeCountExpression = copy(child = newChild)
}

object BpeCountExpression {

  /** Static entry point shared by interpreted eval and generated code
    * (NOT named `eval` — see ExtractTextExpression's forwarder note).
    */
  def evalUtf8(text: UTF8String): Int = Bpe.countTokens(text.toString)

  /** Column form. */
  def token_count_bpe(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BpeCountExpression(ColumnBridge.expr(c)))
  }
}
