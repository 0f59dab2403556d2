package graft

import graft.icelite.IceLite
import graft.sources.Ledger
import graft.operators.Replay
import graft.streaming.Pipeline
import org.apache.spark.sql.SparkSession

/** Demo CLI: synthesize a change ledger, apply it into an IceLite table
  * (batch replay, or the Structured Streaming pipeline with `--stream`),
  * show the result. Usage:
  * {{{ sbt "runMain graft.Demo <workDir> [nEvents] [alterAt] [--stream]" }}}
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val streaming = args.contains("--stream")
    val pos = args.filterNot(_ == "--stream")
    val work = pos.headOption.getOrElse(sys.error("usage: Demo <workDir>"))
    val n = if (pos.length > 1) pos(1).toLong else 20000L
    val alter = if (pos.length > 2) Some(pos(2).toLong) else None
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .withExtensions(new GraftExtensions)
      .appName("thorspark-demo")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Ledger.Config(nEvents = n, malformedRate = 0.02,
      alterAt = alter.map(p => p -> Ledger.addColumnJson("fetch_ms", "long")).toMap)
    val ledger = s"$work/ledger"
    val table = s"$work/pages"
    val t0 = System.nanoTime()
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(ledger))) {
      Ledger.synthesize(spark, cfg, ledger)
    }
    val t1 = System.nanoTime()
    val dlq = s"$work/_dlq"
    val mode = if (streaming) {
      Pipeline.runToCompletion(spark, Pipeline.Config(
        ledgerDir = ledger, tableDir = table,
        checkpointDir = s"$work/checkpoint", lineageDir = s"$work/_lineage",
        metricsDir = s"$work/_metrics", dlqDir = Some(dlq)))
      "streamed"
    } else {
      val segs = Replay.full(spark, ledger, table, dlqDir = Some(dlq))
      s"replayed $segs segment(s)"
    }
    val t2 = System.nanoTime()
    if (IceLite.exists(dlq)) {
      println(s"=== dlq: ${IceLite.read(spark, dlq).count()} malformed events")
    }
    // the auto-compaction surface: metadata-only crowding probe, compacts
    // only when some bucket exceeds the threshold (a pipeline calls this
    // after every commit, gated on the filesPerBucket of the metadata that
    // Merge returns)
    val crowd = IceLite.load(table).filesPerBucket.values.maxOption.getOrElse(0)
    val compacted = graft.operators.Maintenance.compactIfNeeded(
      spark, table, maxFilesPerBucket = 2)
    println(s"=== maintenance: max files/bucket $crowd -> compacted " +
      s"$compacted bucket(s); files now ${IceLite.load(table).files.size}")
    // SparkSessionExtensions path: extract_text injected by GraftExtensions
    val sqlText = spark.sql(
      "SELECT extract_text(CAST('<b>ext &amp; ok</b>' AS BINARY)) AS t")
      .head().getString(0)
    println(s"=== extensions: SQL extract_text -> '$sqlText'")

    val m = IceLite.load(table)
    val live = IceLite.read(spark, table)
    println(f"=== ledger: $n events in ${(t1 - t0) / 1e9}%.1fs; " +
      f"$mode in ${(t2 - t1) / 1e9}%.1fs")
    if (streaming) {
      println("=== metrics:")
      IceLite.read(spark, s"$work/_metrics").orderBy("epoch_id").show(50, false)
      println("=== lineage (first rows):")
      IceLite.read(spark, s"$work/_lineage")
        .orderBy("epoch_id", "partition").show(8, false)
    }
    println(f"=== throughput: ${n / ((t2 - t1) / 1e9)}%.0f events/sec applied")
    println(s"=== table: snapshot=${m.snapshotId} version=${m.version} " +
      s"schema=${m.currentSchema.struct.simpleString}")
    println(s"=== live rows: ${live.count()}")
    live.orderBy("url").show(10, 60)
    // the Data Source surface reads the same table through format("icelite")
    // and plain SQL — counts must agree with the engine read above.
    // (SQL reaches a DSv1 source via CREATE TABLE USING; the
    // `icelite.`path`` SQL-on-file shorthand is file-format-only in Spark.)
    spark.sql("DROP TABLE IF EXISTS demo_pages")
    spark.sql(s"CREATE TABLE demo_pages USING icelite OPTIONS (path '$table')")
    val dsCount = spark.read.format("icelite").load(table).count()
    val sqlCount = spark.sql("SELECT count(*) FROM demo_pages").head.getLong(0)
    println(s"=== data source: format(\"icelite\") rows=$dsCount, " +
      s"SQL table rows=$sqlCount")
    // SQL MERGE INTO surface (GraftExtensions): conditional update +
    // insert-if-absent — written so a re-run is a detected no-op (no new
    // commit), keeping the version-hint idempotence probe intact
    // exclude this block's own inserted row: the re-run must pick the SAME
    // url, or the statement oscillates instead of no-opping
    val firstUrl = spark.sql("""SELECT url FROM demo_pages
        WHERE url NOT LIKE 'https://demo.invalid%'
        ORDER BY url LIMIT 1""").head.getString(0)
    import spark.implicits._
    Seq((firstUrl, "xx"), ("https://demo.invalid/merged", "yy"))
      .toDF("u", "l").createOrReplaceTempView("demo_merge_src")
    spark.sql("""
      MERGE INTO demo_pages t USING demo_merge_src s ON t.url = s.u
      WHEN MATCHED AND t.lang IS DISTINCT FROM s.l
        THEN UPDATE SET t.lang = s.l
      WHEN NOT MATCHED THEN INSERT (url, lang) VALUES (s.u, s.l)
    """)
    val mergedLang = spark.sql(
      s"SELECT lang FROM demo_pages WHERE url = '$firstUrl'").head.getString(0)
    val mergedRows = spark.sql("SELECT count(*) FROM demo_pages")
      .head.getLong(0)
    println(s"=== sql merge: rows=$mergedRows, lang(first)=$mergedLang, " +
      s"version=${IceLite.currentVersion(table)}")
    // change-stream surface: replay the table's whole history as a bounded
    // stream (fresh checkpoint per run — read-only, version-hint stable)
    val csCp = java.nio.file.Files.createTempDirectory("demo_cs").toString
    val csq = spark.readStream.format("icelite")
      .option("startingVersion", 1).load(table)
      .writeStream.format("memory").queryName("demo_changes")
      .option("checkpointLocation", csCp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    csq.awaitTermination()
    val csCount = spark.sql(
      "SELECT count(*) FROM demo_changes WHERE change_type = 'insert'")
      .head.getLong(0)
    println(s"=== change stream: $csCount net inserts replaying v1->" +
      s"v${IceLite.currentVersion(table)}")
    spark.stop()
  }
}
