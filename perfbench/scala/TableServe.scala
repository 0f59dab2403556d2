package graft.perfbench

import scala.collection.mutable

import graft.functions.{DedupOps, Similarity}
import graft.icelite.IceLite
import graft.operators.{Changes, Equivalence, Maintenance, Replay}
import graft.sources.Ledger
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** `table_serve`: a seeded op mix on a replay-built pages table registered
  * with `CREATE TABLE ... USING icelite`. Mostly point reads by url, plus
  * `warc_ts` range reads, `Changes.between` reads, SQL MERGE, INSERT of
  * new urls, UPDATE and DELETE by predicate, each DML followed by
  * `Maintenance.compactIfNeeded`, and two analytic reads over the pages'
  * text: exact-duplicate groups (`DedupOps.exactGroups`) and cosine
  * top-k (`Similarity.bruteForceTopK`) over per-url vectors. An op is one
  * read or one DML statement with its compaction; an item is one op.
  */
object TableServe {
  val Events = 4000L
  val Buckets = 8
  val MergeRows = 200
  val InsertRows = 100
  val Dim = 64
  val TopK = 3

  def config(seed: Long): Ledger.Config = Ledger.Config(
    seed = seed, nEvents = Events, nDomains = 80, pagesPerDomain = 100,
    partitions = 8, segments = 2, duplicateRate = 0.03, deleteRate = 0.04)

  /** One round of the op mix: for each DML kind, two point reads, then
    * the statement (with the `compactIfNeeded` after it), then one
    * heavier read: a
    * `warc_ts` range read after MERGE, exact-duplicate groups after
    * INSERT, a `Changes.between` read after UPDATE and a cosine top-k
    * after DELETE. Runs measure whole rounds, so every run has the same
    * mix whatever its speed; the seed picks the urls, ranges, predicates
    * and query vectors.
    */
  val Round: Seq[String] = Seq("merge" -> "range", "insert" -> "fingerprint",
      "update" -> "changes", "delete" -> "ann").flatMap { case (dml, read) =>
    Seq.fill(2)("point") ++ Seq(dml, read)
  }

  /** A DML statement and the version range it produced, re-checked after
    * the measured window against a recomputation from its pre-state.
    */
  private final case class Dml(kind: String, before: Int, after: Int,
      expected: DataFrame => DataFrame)

  /** An analytic read's answer and what it read, re-checked after the
    * measured window by a driver-side recomputation.
    */
  private final case class Answer(kind: String, version: Int, rows: Array[Row],
      queries: Seq[Long])

  /** A deterministic `Dim`-element float vector per url, in [-1, 1). */
  def vector(url: Column): Column =
    array((0 until Dim).map(d =>
      ((pmod(xxhash64(url, lit(d)), lit(2000L)) - 1000L) / 1000.0).cast("float")): _*)

  /** Exact-duplicate groups of `text`: the fingerprint `DedupOps.exactGroups`
    * uses (md5 of the lower-cased, whitespace-collapsed text), computed on
    * the driver; fingerprint -> (group size, smallest url).
    */
  def groupsOnDriver(rows: Array[Row]): Map[String, (Long, String)] =
    rows.groupBy(r => md5Hex(r.getString(1).replaceAll("\\s+", " ")
        .toLowerCase(java.util.Locale.ROOT)))
      .map { case (fp, rs) => fp -> (rs.length.toLong, rs.map(_.getString(0)).min) }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Top-`TopK` cosine neighbours of `q` among `vecs` (ties by id), on the
    * driver, in the order `Similarity.bruteForceTopK` defines them.
    */
  def topKOnDriver(vecs: Map[Long, Array[Double]], q: Long): Seq[(Long, Double)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val qv = vecs(q)
    val qn = math.sqrt(dot(qv, qv))
    vecs.iterator.filter(_._1 != q).map { case (id, v) =>
      id -> dot(qv, v) / (qn * math.sqrt(dot(v, v)))
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(TopK)
  }

  def run(spark: SparkSession, h: Harness): Unit = {
    val cfg = config(h.args.seed)
    var dir = ""
    (1 to 3).foreach { k =>
      if (dir.nonEmpty) {
        spark.sql("DROP TABLE IF EXISTS pages")
        Harness.delete(h.dir(s"setup-${k - 1}"))
      }
      dir = h.setup {
        val ledger = h.dir(s"setup-$k/ledger")
        val table = h.dir(s"setup-$k/table")
        Ledger.synthesize(spark, cfg, ledger)
        Replay.full(spark, ledger, table, nBuckets = Buckets, epochPrefix = "base")
        spark.sql(s"CREATE TABLE pages USING icelite OPTIONS (path '$table')")
        table
      }
    }
    h.phase("setup")
    val urls = IceLite.read(spark, dir).select("url").orderBy("url").collect().map(_.getString(0))
    val tsRange = IceLite.read(spark, dir).agg(min("warc_ts"), max("warc_ts")).collect()(0)
    val (tsLo, tsHi) = (tsRange.getTimestamp(0).getTime, tsRange.getTimestamp(1).getTime)
    val rnd = new scala.util.Random(h.args.seed)
    // the vectors the cosine top-k reads: one per base url, written once
    val vectors = h.dir("vectors")
    IceLite.read(spark, dir).select(xxhash64(col("url")).as("vec_id"), vector(col("url")).as("vec"))
      .write.parquet(vectors)
    val vecIds = spark.read.parquet(vectors).select("vec_id").collect().map(_.getLong(0)).sorted
    val answers = mutable.ArrayBuffer[Answer]()
    val dmls = mutable.ArrayBuffer[Dml]()
    var fresh = 0

    def scanCounts(df: DataFrame): (Double, Double) = {
      val scans = PlanScans(df.queryExecution.executedPlan)
      (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble,
        scans.map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum.toDouble)
    }
    def read(kind: String, sql: String): Unit = {
      var df: DataFrame = null
      h.op(spark, kind, 1L) { df = spark.sql(sql); df.collect() }
      if (df != null) {
        val (files, bytes) = scanCounts(df)
        h.annotate("files_read" -> files, "bytes_read" -> bytes)
      }
    }
    def newRows(n: Int, tag: String): DataFrame = {
      import spark.implicits._
      val base = tsHi + 1000L * (dmls.size + 1)
      // a MERGE source updates n/2 distinct existing urls and adds n/2 new
      val existing = if (tag == "m") rnd.shuffle(urls.indices.toVector).take(n / 2) else Vector()
      (0 until n).map { i =>
        val url = if (i < existing.size) urls(existing(i))
          else { fresh += 1; s"https://new.example.com/$tag/$fresh" }
        val html = Ledger.makeHtml(cfg, url, base + i)
        (url, new java.sql.Timestamp(base + i), html,
          graft.functions.TextExtract.extract(html), "en")
      }.toDF("url", "warc_ts", "html", "text", "lang")
    }
    // one DML op: the statement, then the `compactIfNeeded` an application
    // runs after each write; the compaction's own time is kept as well
    def dml(kind: String, statement: => Unit, expected: DataFrame => DataFrame): Unit = {
      val before = IceLite.currentVersion(dir)
      val filesBefore = IceLite.load(dir).files.map(_.path).toSet
      var after = before
      var compactMs = 0.0
      h.op(spark, kind, 1L) {
        statement
        after = IceLite.currentVersion(dir)
        val c0 = System.nanoTime()
        Maintenance.compactIfNeeded(spark, dir)
        compactMs = (System.nanoTime() - c0) / 1e6
      }.foreach { _ =>
        val added = IceLite.loadVersion(dir, after).files.filterNot(f => filesBefore.contains(f.path))
        h.annotate("files_added" -> added.size.toDouble,
          "buckets_rewritten" -> added.map(_.bucket).distinct.size.toDouble,
          "compact_ms" -> compactMs)
        dmls += Dml(kind, before, after, expected)
      }
    }

    // predicates come from a random base url, so they always match rows
    // (Zipf leaves many domain ids without a page): its domain, and its
    // domain's pages whose number starts with the url's first digit
    def someUrl(): String = urls(rnd.nextInt(urls.length))

    def one(kind: String): Unit = kind match {
      case "point" =>
        val u = if (rnd.nextInt(10) == 0) s"https://missing.example.com/${rnd.nextInt()}"
          else urls(rnd.nextInt(urls.length))
        read("point", s"SELECT url, warc_ts, text, lang FROM pages WHERE url = '$u'")
      case "range" =>
        val lo = tsLo + (rnd.nextDouble() * 0.95 * (tsHi - tsLo)).toLong
        val hi = lo + (tsHi - tsLo) / 20
        read("range", "SELECT lang, count(*), sum(length(text)) FROM pages " +
          s"WHERE warc_ts BETWEEN timestamp_millis($lo) AND timestamp_millis($hi) GROUP BY lang")
      case "changes" =>
        val v = IceLite.currentVersion(dir)
        h.op(spark, "changes", 1L)(Changes.between(spark, dir, math.max(1, v - 2), Some(v)).collect())
      case "fingerprint" =>
        val v = IceLite.currentVersion(dir)
        h.op(spark, "fingerprint", 1L)(
          DedupOps.exactGroups(spark.table("pages"), "url", "text").collect())
          .foreach(rows => answers += Answer("fingerprint", v, rows, Nil))
      case "ann" =>
        val qs = Seq.fill(3)(vecIds(rnd.nextInt(vecIds.length))).distinct
        h.op(spark, "ann", 1L)(Similarity.bruteForceTopK(spark.read.parquet(vectors),
          "vec_id", "vec", col("id").isin(qs: _*), TopK).collect())
          .foreach(rows => answers += Answer("ann", 0, rows, qs))
      case "merge" =>
        val src = newRows(MergeRows, "m")
        src.createOrReplaceTempView("serve_src")
        dml("merge", spark.sql(
          """MERGE INTO pages tg USING serve_src s ON tg.url = s.url
            |WHEN MATCHED THEN UPDATE SET tg.warc_ts = s.warc_ts, tg.html = s.html,
            |  tg.text = s.text, tg.lang = s.lang
            |WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
            |  VALUES (s.url, s.warc_ts, s.html, s.text, s.lang)""".stripMargin),
          pre => pre.join(src.select("url"), Seq("url"), "left_anti").unionByName(src))
      case "insert" =>
        val src = newRows(InsertRows, "i")
        src.createOrReplaceTempView("serve_ins")
        dml("insert", spark.sql("INSERT INTO pages SELECT url, warc_ts, html, text, lang FROM serve_ins"),
          pre => pre.unionByName(src))
      case "update" =>
        val u = someUrl()
        val prefix = u.take(u.indexOf("/page/") + 1)
        dml("update", spark.sql(s"UPDATE pages SET lang = 'upd' WHERE startswith(url, '$prefix')"),
          pre => pre.withColumn("lang",
            when(col("url").startsWith(prefix), lit("upd")).otherwise(col("lang"))))
      case "delete" =>
        val u = someUrl()
        val prefix = u.take(u.indexOf("/page/") + "/page/".length + 1)
        dml("delete", spark.sql(s"DELETE FROM pages WHERE startswith(url, '$prefix')"),
          pre => pre.filter(!col("url").startsWith(prefix)))
    }
    // warm-up, unmeasured (point reads need none: a run holds eight)
    Seq("range", "merge").foreach(one)
    h.ops.clear(); dmls.clear() // warm-up failures still count
    h.phase("warm")

    val start = System.nanoTime()
    val reads = mutable.Map[String, Int]().withDefaultValue(0)
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < h.args.seconds) {
      Round.foreach { kind =>
        // traced runs trace every DML statement and every other read of each
        // kind; the untraced reads give the tracing overhead
        if (Set("point", "range", "changes", "fingerprint", "ann")(kind)) {
          h.alternate(spark, reads(kind))
          reads(kind) += 1
        } else h.alternate(spark, 0)
        one(kind)
      }
      rounds += 1
    }
    h.phase("window")
    h.tracing(spark, on = false)
    val m = IceLite.load(dir)
    h.layerExtra("table.files_on_disk") = Harness.parquetFiles(s"$dir/data")._1.toDouble
    h.layerExtra("table.files_per_bucket_max") = m.filesPerBucket.values.max.toDouble
    h.detail("rounds") = rounds
    h.detail("dml_statements") = dmls.size

    // output checks: each DML's post-state equals its recomputation from the
    // pre-state (time travel to the version before the statement)
    dmls.foreach { d =>
      val pre = IceLite.read(spark, dir, Some(d.before))
      val post = IceLite.read(spark, dir, Some(d.after))
      val bad = Equivalence.diff(post, d.expected(pre)).limit(3).collect()
      h.check(s"${d.kind}@v${d.after}", bad.isEmpty, bad.map(_.toString.take(120)).mkString("; "))
    }
    h.check("dml_statements_checked", dmls.nonEmpty, if (dmls.isEmpty) "no DML statement ran" else "")

    // the analytic reads: exact-duplicate groups equal the driver's
    // grouping of the version the op read; each cosine top-k has the
    // driver's neighbour cosines (a tie may swap neighbour ids)
    lazy val vecs = spark.read.parquet(vectors).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    answers.foreach {
      case Answer("fingerprint", v, rows, _) =>
        val want = groupsOnDriver(IceLite.read(spark, dir, Some(v))
          .select("url", "text").collect())
        val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
        h.check(s"fingerprint@v$v", got == want,
          if (got == want) "" else s"${got.size} groups, driver ${want.size}")
      case Answer(_, _, rows, qs) =>
        val bad = qs.filterNot { q =>
          val got = rows.filter(_.getLong(0) == q).sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
          val want = topKOnDriver(vecs, q).map { case (_, c) => BigDecimal(c)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
          got == want
        }
        h.check(s"ann@${qs.mkString(",")}", bad.isEmpty,
          if (bad.isEmpty) "" else s"queries ${bad.mkString(",")} differ")
    }
    h.check("analytic_reads_checked", answers.exists(_.kind == "fingerprint") &&
      answers.exists(_.kind == "ann"), "")
  }
}

/** The file scans of an executed plan, looking inside adaptive plans. */
private object PlanScans extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }
}
