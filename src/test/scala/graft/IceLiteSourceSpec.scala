package graft

import graft.icelite.IceLite
import graft.model.Model
import org.apache.spark.sql.functions._

/** The Spark Data Source surface (`format("icelite")` + SQL
  * CREATE TABLE USING / SELECT / INSERT INTO) over IceLite tables.
  */
class IceLiteSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def mkRows(n: Int, tag: String = "t") =
    (1 to n).map(i => (s"https://$tag.example.com/$i",
      new java.sql.Timestamp(1000L * i), Array[Byte](i.toByte), s"text$i",
      "en", i.toLong, 0, false))
      .toDF("url", "warc_ts", "html", "text", "lang",
        "_offset", "_partition", "_deleted")
      .withColumn("_bucket", pmod(xxhash64(col("url")), lit(4L)).cast("int"))

  private def mkTable(name: String, n: Int): String = {
    val dir = tmpDir(name)
    IceLite.create(dir, Model.pagesSchema, 4)
    val staged = IceLite.stageFiles(dir, "e1", mkRows(n), 1)
    IceLite.commit(dir, "e1", "merge", staged, replacedBuckets = (0 until 4).toSet)
    dir
  }

  test("format(icelite): current read, time travel option, column pruning") {
    val dir = mkTable("dsv1", 10)
    val v1 = IceLite.currentVersion(dir)
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)

    val cur = spark.read.format("icelite").load(dir)
    assert(cur.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
    assert(cur.count() == 3)
    // engine read and source read agree exactly
    assert(graft.operators.Equivalence.diff(cur,
      IceLite.read(spark, dir)).isEmpty)
    // time travel through the option
    val old = spark.read.format("icelite").option("version", v1).load(dir)
    assert(old.count() == 10)
    // ... and by timestamp: the v1 commit's own wall-clock pins v1, the
    // far future pins the head, and either style of literal parses
    val t1 = IceLite.loadVersion(dir, v1).committedAtMs
    assert(spark.read.format("icelite")
      .option("timestampAsOf", t1.toString).load(dir).count() == 10)
    assert(spark.read.format("icelite")
      .option("timestampAsOf", "2999-01-01 00:00:00").load(dir)
      .count() == 3)
    intercept[IllegalArgumentException] {
      spark.read.format("icelite").option("timestampAsOf", "0")
        .load(dir).count()
    }
    // pruned projection reaches the parquet scan through the inner plan
    val plan = cur.select("url").queryExecution.executedPlan.toString
    assert(!plan.contains("html"), s"payload column not pruned:\n$plan")
  }

  test("SQL: CREATE TABLE USING icelite, SELECT, INSERT INTO (epoch commit)") {
    val dir = mkTable("dsql", 5)
    spark.sql(
      s"CREATE TABLE ice_pages USING icelite OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT url FROM ice_pages").count() == 5)
      mkRows(2, "ins").select("url", "warc_ts", "html", "text", "lang")
        .createOrReplaceTempView("new_rows")
      spark.sql("INSERT INTO ice_pages SELECT * FROM new_rows")
      assert(spark.sql("SELECT count(*) FROM ice_pages").head.getLong(0) == 7)
      // the INSERT landed as an ordinary commit: engine read agrees
      assert(IceLite.read(spark, dir).count() == 7)
    } finally spark.sql("DROP TABLE ice_pages")
  }

  test("filter pushdown: pushed filters reach the relation; key equality " +
      "prunes the scan to the key's bucket (other buckets never opened)") {
    val dir = mkTable("dprune", 30)
    val m = IceLite.load(dir)
    val probeUrl = "https://t.example.com/7"
    val probeBucket = spark.range(1)
      .select(graft.functions.Salt.bucket(lit(probeUrl), m.numBuckets))
      .head.getInt(0)
    // physically destroy every OTHER bucket's files: only a scan that
    // metadata-prunes to the probe bucket can possibly succeed
    m.files.filterNot(_.bucket == probeBucket).foreach { f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(f.path))
    }
    val hit = spark.read.format("icelite").load(dir)
      .filter(col("url") === probeUrl)
    assert(hit.select("text").head.getString(0) == "text7")
    // IN-list over two keys prunes to their buckets
    val in2 = spark.read.format("icelite").load(dir)
      .filter(col("url").isin(probeUrl))
    assert(in2.count() == 1)
    // the physical scan reports the pushed filter
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("url"),
      s"filter not pushed:\n$plan")
    // an unpruned scan must fail (its other-bucket files are gone) —
    // proving the success above came from bucket pruning, not luck
    intercept[Exception] {
      spark.read.format("icelite").load(dir).count()
    }
  }

  test("writeStream.format(icelite): per-batch epoch commits fold into " +
      "the high-water mark; restart with same checkpoint is exactly-once") {
    import graft.sources.Ledger
    val led = tmpDir("sink_led"); val cp = tmpDir("sink_cp")
    val out = tmpDir("sink_out") + "/t"
    Ledger.synthesize(spark, Ledger.Config(seed = 7L, nEvents = 400,
      nDomains = 10, pagesPerDomain = 5, partitions = 2, segments = 1,
      duplicateRate = 0, deleteRate = 0), led)
    val expected = spark.read.parquet(led).count()
    def run(): Unit = {
      val q = Ledger.tail(spark, led, maxFilesPerTrigger = 1)
        .writeStream.format("icelite")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.format("icelite").load(out).count() == expected)
    // several micro-batches (maxFilesPerTrigger=1) → epochs folded to HWM
    assert(IceLite.load(out).epochHwm.get("stream.sink").exists(_ >= 1))
    // restart on the SAME checkpoint re-offers nothing new; a replayed
    // tail batch would be an epoch no-op — count must not move
    run()
    assert(spark.read.format("icelite").load(out).count() == expected)
  }

  test("readStream.format(icelite): table-as-change-stream — offsets are " +
      "snapshot versions; restart on same checkpoint streams only new " +
      "commits") {
    val dir = mkTable("dstream", 10) // v2 = initial 10 rows
    val cp = tmpDir("dstream_cp")
    val out = tmpDir("dstream_out")
    def drain(): Unit = {
      val q = spark.readStream.format("icelite")
        .option("startingVersion", 1) // stream history from the empty table
        .load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(out)
    assert(first.count() == 10)
    assert(first.select("change_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("insert"))
    // a new commit replaces everything with rows 1..3 (identical version
    // tuples) -> net delta is exactly the 7 disappearing urls as deletes
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)
    drain()
    val all = spark.read.parquet(out)
    assert(all.count() == 17)
    assert(all.filter(col("change_type") === "delete").count() == 7)
    // idempotent restart with nothing new: no extra rows
    drain()
    assert(spark.read.parquet(out).count() == 17)
    // a SQL UPDATE keeps the row's stored position: still streamed
    spark.sql(s"CREATE TABLE ice_dstream USING icelite OPTIONS (path '$dir')")
    try spark.sql(
      "UPDATE ice_dstream SET text = 'edited' WHERE url = 'https://t.example.com/1'")
    finally spark.sql("DROP TABLE ice_dstream")
    drain()
    assert(spark.read.parquet(out).filter(col("change_type") === "update")
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("https://t.example.com/1", "edited")))
  }

  test("scan substitution: SQL reads keep whole-stage codegen end-to-end " +
      "(no RDD[Row] seam) and still agree with the engine read") {
    val dir = mkTable("dsubst", 12)
    spark.sql(s"CREATE TABLE ice_subst USING icelite OPTIONS (path '$dir')")
    try {
      val agg = spark.sql(
        "SELECT sum(length(text)) AS n FROM ice_subst WHERE lang = 'en'")
      val expected = IceLite.read(spark, dir).filter(col("lang") === "en")
        .agg(sum(length(col("text")))).head.getLong(0)
      assert(agg.collect()(0).getLong(0) == expected) // collect: runs THIS
      // query execution (head would plan a separate limited one), so AQE
      // finalizes the plan below
      val physical = agg.queryExecution.executedPlan.toString
      // the v1 boundary would show as "Scan ExistingRDD" + a row converter;
      // the substituted plan is parquet scan -> codegen'd hash aggregate
      assert(!physical.contains("ExistingRDD"),
        s"DSv1 RDD seam still present:\n$physical")
      assert(physical.contains("FileScan parquet") ||
        physical.contains("Scan parquet"), s"no parquet scan:\n$physical")
      // whole-stage codegen renders as "*(n)" operator prefixes
      assert(physical.contains("*(1)"), s"no codegen span:\n$physical")
      // time travel stays correct through substitution
      val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
      IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)
      assert(spark.read.format("icelite").option("version", 2).load(dir)
        .count() == 12)
      assert(spark.sql("SELECT count(*) FROM ice_subst").head.getLong(0) == 3)
    } finally spark.sql("DROP TABLE ice_subst")
  }

  test("readStream restart with DEFAULT starting version: commits landing " +
      "while the query was down are drained on restart (the initial " +
      "version is persisted per checkpoint, not recomputed)") {
    val dir = mkTable("drestart", 10) // v2 = initial rows
    val cp = tmpDir("drestart_cp")
    val out = tmpDir("drestart_out")
    def drain(): Unit = {
      val q = spark.readStream.format("icelite").load(dir) // NO option
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // first start: current version persisted as the baseline
    // while the query is DOWN, a commit replaces everything with 3 rows
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)
    drain() // restart MUST offer the pending version (pre-fix: stalled)
    // first drain had nothing (baseline = current); the while-down commit
    // replaced rows 1..10 with identical 1..3 -> net delta = 7 deletes
    val all = spark.read.parquet(out)
    assert(all.count() == 7, "pending commit not drained on restart")
    assert(all.filter(col("change_type") === "delete").count() == 7)
  }

  test("change stream across a schema evolution: restart picks up the " +
      "evolved column (stream schema is frozen per run, renewed per start)") {
    val dir = mkTable("dalter", 4)
    val cp = tmpDir("dalter_cp")
    def drain(out: String): Unit = {
      val q = spark.readStream.format("icelite").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(tmpDir("dalter_out1")) // baseline drained at the old schema
    graft.operators.SchemaEvolution(dir,
      """{"addColumn":{"name":"score","type":"long"}}""", "alt.stream.1")
    val s2 = IceLite.stageFiles(dir, "e2",
      mkRows(2, "new").withColumn("score", lit(7L)) // new urls -> inserts
        .select("url", "warc_ts", "html", "text", "lang", "score",
          "_offset", "_partition", "_deleted", "_bucket"),
      IceLite.load(dir).currentSchemaId)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)
    val out2 = tmpDir("dalter_out2")
    drain(out2) // restart: schema re-frozen at the evolved definition
    val evolved = spark.read.parquet(out2)
    assert(evolved.columns.contains("score"), "evolved column missing")
    val ins = evolved.filter(col("change_type") === "insert")
      .select("score").collect()
    assert(ins.length == 2 && ins.forall(_.getLong(0) == 7L))
  }

  test("change-stream admission control: maxVersionsPerBatch bounds each " +
      "micro-batch during catch-up (3 capped batches, not one giant delta)") {
    val dir = mkTable("dcap", 10) // v2 = rows 1..10
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet) // v3: rows 1..3
    val s3 = IceLite.stageFiles(dir, "e3", mkRows(2, "cap"), 1)
    IceLite.commit(dir, "e3", "merge", s3, (0 until 4).toSet) // v4: 2 cap rows
    val out = tmpDir("dcap_out")
    val q = spark.readStream.format("icelite")
      .option("startingVersion", 1).option("maxVersionsPerBatch", 1)
      .load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", tmpDir("dcap_cp"))
      .start()
    try {
      q.processAllAvailable()
      // deltas: v1->v2 = 10 inserts; v2->v3 = 7 deletes; v3->v4 = 3
      // deletes + 2 inserts -> 22 change rows over exactly 3 data batches
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"expected 3 capped batches, got ${batches.map(_.numInputRows).toSeq}")
    } finally q.stop()
    assert(spark.read.parquet(out).count() == 22)
  }

  test("SQL INSERT OVERWRITE replaces the table content as one commit; " +
      "SQL CTAS creates a table USING icelite") {
    val dir = mkTable("dsqlow", 6)
    spark.sql(s"CREATE TABLE ice_ow USING icelite OPTIONS (path '$dir')")
    try {
      mkRows(2, "ow").select("url", "warc_ts", "html", "text", "lang")
        .createOrReplaceTempView("ow_rows")
      spark.sql("INSERT OVERWRITE ice_ow SELECT * FROM ow_rows")
      assert(spark.sql("SELECT count(*) FROM ice_ow").head.getLong(0) == 2)
      assert(IceLite.load(dir).operation == "overwrite")
      assert(IceLite.read(spark, dir).count() == 2)
    } finally spark.sql("DROP TABLE ice_ow")
    // CTAS: CREATE TABLE ... USING icelite AS SELECT
    val dir2 = tmpDir("dsqlctas")
    mkRows(3, "ctas").select("url", "warc_ts", "html", "text", "lang")
      .createOrReplaceTempView("ctas_rows")
    spark.sql(s"""CREATE TABLE ice_ctas USING icelite
      OPTIONS (path '$dir2/t') AS SELECT * FROM ctas_rows""")
    try {
      assert(spark.sql("SELECT count(*) FROM ice_ctas").head.getLong(0) == 3)
      assert(IceLite.read(spark, s"$dir2/t").count() == 3)
    } finally spark.sql("DROP TABLE ice_ctas")
  }

  test("write: append commits are epoch-idempotent; overwrite replaces") {
    val dir = tmpDir("dwrite")
    val rows = mkRows(4, "w").select("url", "warc_ts", "html", "text", "lang")
    rows.write.format("icelite").option("epoch", "job.1").mode("append").save(dir)
    // a RETRIED job with the same epoch key must be a no-op replay
    rows.write.format("icelite").option("epoch", "job.1").mode("append").save(dir)
    assert(spark.read.format("icelite").load(dir).count() == 4)
    rows.limit(2).write.format("icelite").option("epoch", "job.2")
      .mode("overwrite").save(dir)
    assert(spark.read.format("icelite").load(dir).count() == 2)
  }

  test("change-stream AvailableNow honours maxVersionsPerBatch: three " +
      "pending versions drain as 3 capped batches, not one") {
    val dir = mkTable("dcapnow", 10) // v2 = rows 1..10
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(3), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet) // v3: rows 1..3
    val s3 = IceLite.stageFiles(dir, "e3", mkRows(2, "cap"), 1)
    IceLite.commit(dir, "e3", "merge", s3, (0 until 4).toSet) // v4: 2 cap rows
    val out = tmpDir("dcapnow_out")
    val q = spark.readStream.format("icelite")
      .option("startingVersion", 1).option("maxVersionsPerBatch", 1)
      .load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", tmpDir("dcapnow_cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // deltas: v1->v2 = 10 inserts; v2->v3 = 7 deletes; v3->v4 = 3
    // deletes + 2 inserts -> 22 change rows over exactly 3 data batches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.map(_.numInputRows).toSeq == Seq(10L, 7L, 5L),
      s"expected 3 capped batches, got ${batches.map(_.numInputRows).toSeq}")
    assert(spark.read.parquet(out).count() == 22)
  }

  private def messages(e: Throwable): Seq[String] =
    if (e == null) Nil else Option(e.getMessage).toSeq ++ messages(e.getCause)

  test("schema drift: a DataFrame analyzed before an ALTER fails its " +
      "collect with the drift message; a fresh read sees the new column") {
    val dir = mkTable("ddrift", 5)
    val stale = spark.read.format("icelite").load(dir)
    graft.operators.SchemaEvolution(dir,
      """{"addColumn":{"name":"score","type":"long"}}""", "alt.drift.1")
    val e = intercept[Exception](stale.collect())
    assert(messages(e).exists(m => m.contains(dir) &&
      m.contains("REFRESH TABLE")), messages(e).mkString(" | "))
    val fresh = spark.read.format("icelite").load(dir)
    assert(fresh.columns.last == "score")
    assert(fresh.filter(col("score").isNull).count() == 5)
  }

  test("v1 relation fallback: buildScan() returns exactly IceLite.read's " +
      "rows (tombstones masked, time travel kept) behind the same guard") {
    import graft.icelite.IceLiteRelation
    val dir = mkTable("dv1scan", 8)
    val v1 = IceLite.currentVersion(dir)
    val tombs = mkRows(3, "gone").withColumn("_deleted", lit(true))
    val s2 = IceLite.stageFiles(dir, "e2", tombs, 1)
    IceLite.commit(dir, "e2", "append", s2) // 3 tombstones, 8 live rows
    def scan(version: Option[Int]) = {
      val rel = IceLiteRelation(spark.sqlContext, dir, version)
      spark.createDataFrame(rel.buildScan(), rel.schema)
    }
    assert(scan(None).count() == 8)
    assert(graft.operators.Equivalence.diff(scan(None),
      IceLite.read(spark, dir)).isEmpty)
    assert(graft.operators.Equivalence.diff(scan(Some(v1)),
      IceLite.read(spark, dir, Some(v1))).isEmpty)
    // a relation whose schema froze before an ALTER fails the scan
    val rel = IceLiteRelation(spark.sqlContext, dir, None)
    assert(rel.schema.fieldNames.toSeq ==
      Seq("url", "warc_ts", "html", "text", "lang"))
    graft.operators.SchemaEvolution(dir,
      """{"addColumn":{"name":"score","type":"long"}}""", "alt.v1.1")
    val e = intercept[IllegalStateException](rel.buildScan())
    assert(e.getMessage.contains(dir) && e.getMessage.contains("REFRESH TABLE"))
  }
}
