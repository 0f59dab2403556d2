package graft

import graft.functions.Salt
import graft.icelite.IceLite
import graft.model.ChangeEvent
import graft.operators.{Changes, Maintenance, SchemaEvolution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental CDC read + SparkSessionExtensions registration. */
class ChangesSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(off: Long, op: String, url: String, ts: Long,
      body: String): ChangeEvent =
    ChangeEvent(0, off, op, url, new java.sql.Timestamp(ts),
      if (op == "D") null else body.getBytes("UTF-8"), "en", null, Map.empty)

  test("changes between snapshots classify insert/update/delete exactly") {
    val table = tmpDir("chg")
    IceLite.create(table, graft.model.Model.pagesSchema, 4)
    val u = (i: Int) => s"https://c.example.com/$i"
    merge(table, Seq(
      ev(0, "I", u(1), 1000, "<p>one</p>"),
      ev(1, "I", u(2), 1000, "<p>two</p>"),
      ev(2, "I", u(3), 1000, "<p>three</p>")).toDF(), "b1")
    val v1 = IceLite.currentVersion(table)
    merge(table, Seq(
      ev(3, "U", u(2), 2000, "<p>two-v2</p>"), // update
      ev(4, "D", u(3), 2000, ""),              // delete
      ev(5, "I", u(4), 2000, "<p>four</p>"),   // insert
      ev(6, "U", u(1), 500, "<p>stale</p>")).toDF(), "b2") // older: no-op
    val got = Changes.between(spark, table, v1)
      .select(col("url"), col("change_type"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((u(2), "update"), (u(3), "delete"), (u(4), "insert")))
    // updated row carries the new payload
    val updText = Changes.between(spark, table, v1)
      .filter(col("change_type") === "update").head().getAs[String]("text")
    assert(updText == "two-v2")
    // self-diff is empty
    assert(Changes.between(spark, table, IceLite.currentVersion(table)).isEmpty)
  }

  test("between reads only buckets whose manifest ref changed " +
      "(destroyed untouched buckets prove the pruning)") {
    val table = tmpDir("chgprune")
    IceLite.create(table, graft.model.Model.pagesSchema, 8)
    val urls = (0 until 40).map(i => s"https://p.example.com/$i")
    val byBucket = urls.groupBy(u => graft.functions.Salt.bucketOfValue(u, 8))
    assert(byBucket.size >= 2, "fixture must span several buckets")
    val (tb, tUrls) = byBucket.maxBy(_._2.size)
    merge(table, urls.zipWithIndex.map { case (u, i) =>
      ev(i.toLong, "I", u, 1000, s"<p>v1-$i</p>") }.toDF(), "pb1")
    val v1 = IceLite.currentVersion(table)
    // second commit touches ONLY bucket tb: update + delete existing keys
    // of tb, insert a fresh key that hashes into tb
    val newUrl = (1000 to 4000).map(i => s"https://p.example.com/n$i")
      .find(u => graft.functions.Salt.bucketOfValue(u, 8) == tb).get
    merge(table, Seq(
      ev(100, "U", tUrls.head, 2000, "<p>v2</p>"),
      ev(101, "I", newUrl, 2000, "<p>new</p>"),
      ev(102, "D", tUrls(1), 2000, "")).toDF(), "pb2")
    val expected = Set((tUrls.head, "update"), (newUrl, "insert"),
      (tUrls(1), "delete"))
    def diff(): Set[(String, String)] = Changes.between(spark, table, v1)
      .select(col("url"), col("change_type"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(diff() == expected) // pruned result == full diff semantics
    // destroy every data file of every UNTOUCHED bucket: the unpruned
    // form full-outer-joined both complete snapshots and would now fail
    // at scan time; the manifest-ref-diff form must never open them
    val it = java.nio.file.Files.list(
      java.nio.file.Paths.get(table, "data")).iterator()
    var destroyed = 0
    while (it.hasNext) {
      val p = it.next()
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.contains(s"-b$tb-")) {
        java.nio.file.Files.delete(p)
        destroyed += 1
      }
    }
    assert(destroyed > 0, "destruction must have removed other buckets")
    assert(diff() == expected)
    // the attach scan is pruned too: the update row's payload still reads
    val updText = Changes.between(spark, table, v1)
      .filter(col("change_type") === "update").head().getAs[String]("text")
    assert(updText == "v2")
  }

  /** A SQL-registered `(url, v, tag)` table: `v` holds field id 2, the
    * event-time column, and each row's `_offset` is its `v`.
    */
  private def sqlTable(name: String, nBuckets: Int,
      rows: Seq[(String, Long, String)]): String = {
    val dir = tmpDir(name)
    IceLite.create(dir, StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("tag", StringType, nullable = true))), nBuckets)
    appendRows(dir, "app.1", rows)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING icelite OPTIONS (path '$dir')")
    dir
  }

  private def appendRows(dir: String, epoch: String,
      rows: Seq[(String, Long, String)]): Unit = {
    val m = IceLite.load(dir)
    val df = rows.toDF("url", "v", "tag")
      .withColumn("_offset", col("v"))
      .withColumn("_partition", lit(0))
      .withColumn("_deleted", lit(false))
      .withColumn("_bucket", Salt.bucket(col("url"), m.numBuckets))
    IceLite.commit(dir, epoch, "append",
      newFiles = IceLite.stageFiles(dir, epoch, df, m.currentSchemaId))
  }

  private def diff(dir: String, from: Int): Set[(String, String)] =
    Changes.between(spark, dir, from).select(col("url"), col("change_type"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("SQL edits that keep the stored position are reported: an UPDATE " +
      "and a MERGE WHEN MATCHED THEN UPDATE that keeps the event time") {
    val dir = sqlTable("chg_sql", 4,
      Seq(("a", 1L, "x"), ("b", 2L, "x"), ("c", 3L, "x")))
    val v1 = IceLite.currentVersion(dir)
    spark.sql("UPDATE chg_sql SET tag = 'y' WHERE url = 'a'")
    assert(diff(dir, v1) == Set(("a", "update")))
    assert(Changes.between(spark, dir, v1).head().getAs[String]("tag") == "y")
    val v2 = IceLite.currentVersion(dir)
    Seq(("b", "z")).toDF("u", "nt").createOrReplaceTempView("chg_src")
    spark.sql("""
      MERGE INTO chg_sql tg USING chg_src s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.tag = s.nt
    """)
    assert(diff(dir, v2) == Set(("b", "update")))
    assert(diff(dir, v1) == Set(("a", "update"), ("b", "update")))
  }

  test("a compaction-only delta reports nothing") {
    val dir = sqlTable("chg_compact", 2, Seq(("k0", 0L, "x")))
    (1 to 5).foreach(i => appendRows(dir, s"app.${i + 1}",
      Seq((s"k$i", i.toLong, "x"))))
    val v1 = IceLite.currentVersion(dir)
    assert(Maintenance.compact(spark, dir, "compact.1",
      maxFilesPerBucket = 1) > 0)
    assert(IceLite.load(dir).manifests.map(_.path).toSet !=
      IceLite.loadVersion(dir, v1).manifests.map(_.path).toSet)
    assert(diff(dir, v1).isEmpty)
  }

  test("a widen ALTER (v long -> double) then an UPDATE of one key " +
      "reports only that key") {
    val urls = (0 until 12).map(i => s"w$i")
    val dir = sqlTable("chg_widen", 2, urls.map(u => (u, 7L, "x")))
    val v1 = IceLite.currentVersion(dir)
    SchemaEvolution(dir,
      """{"widenColumn":{"name":"v","type":"double"}}""", "alt.1")
    // a fresh catalog entry sees the widened schema
    spark.sql(s"CREATE TABLE chg_widen2 USING icelite OPTIONS (path '$dir')")
    try spark.sql("UPDATE chg_widen2 SET tag = 'y' WHERE url = 'w3'")
    finally spark.sql("DROP TABLE chg_widen2")
    // the rewritten bucket holds other keys, read as long before and as
    // double after: none of them is an update
    assert(urls.count(u => Salt.bucketOfValue(u, 2) ==
      Salt.bucketOfValue("w3", 2)) > 1)
    assert(diff(dir, v1) == Set(("w3", "update")))
  }

  test("an UPDATE that only sets a column added after the older " +
      "snapshot is reported") {
    val dir = sqlTable("chg_added", 2, Seq(("a", 1L, "x"), ("b", 2L, "x")))
    val v1 = IceLite.currentVersion(dir)
    SchemaEvolution(dir,
      """{"addColumn":{"name":"score","type":"long"}}""", "alt.1")
    spark.sql(s"CREATE TABLE chg_added2 USING icelite OPTIONS (path '$dir')")
    try spark.sql("UPDATE chg_added2 SET score = 5 WHERE url = 'a'")
    finally spark.sql("DROP TABLE chg_added2")
    assert(diff(dir, v1) == Set(("a", "update")))
  }

  test("extract_text is SQL-callable after registration") {
    // registered by GraftExtensions, which the shared test session installs
    val out = spark.sql(
      "SELECT extract_text(CAST('<i>ok &amp; fine</i>' AS BINARY)) AS t")
      .head().getString(0)
    assert(out == "ok & fine")
  }
}
