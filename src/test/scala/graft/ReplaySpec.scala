package graft

import graft.functions.TextExtract
import graft.icelite.IceLite
import graft.model.ChangeEvent
import graft.operators.{Equivalence, Merge, Replay, SchemaEvolution}
import graft.sources.Ledger
import graft.util.Det

/** End-to-end batch replay vs an in-memory oracle (SURVEY.md §7 M2 exit).
  *
  * The oracle applies the spec semantics directly: latest event per url
  * under the total order (warc_ts, offset, partition) wins; a winning D is a
  * tombstone; `text` = frozen extractor over the winner's html. The engine
  * must reconverge to exactly this state, byte-identical text per url.
  */
class ReplaySpec extends SparkTestBase {

  def oracleState(events: Seq[ChangeEvent]): Map[String, ChangeEvent] =
    events.filter(_.op != "ALTER")
      .groupBy(_.url)
      .map { case (u, es) =>
        u -> es.maxBy(e => (e.warc_ts.getTime, e.offset, e.partition.toLong))
      }

  test("full replay reconverges to oracle state, byte-identical text per url") {
    val cfg = Ledger.Config(seed = 42L, nEvents = 5000, nDomains = 40,
      pagesPerDomain = 12, partitions = 4, segments = 3,
      duplicateRate = 0.08, deleteRate = 0.07)
    val ledger = tmpDir("ledger")
    val table = tmpDir("table")
    Ledger.synthesize(spark, cfg, ledger)

    Replay.full(spark, ledger, table, nBuckets = 16)

    // oracle from the same pure generator (includes injected duplicates —
    // harmless: they are copies of existing events)
    import spark.implicits._
    val all = Ledger.scan(spark, ledger).as[ChangeEvent].collect().toSeq
    val want = oracleState(all)
    val live = want.filter(_._2.op != "D")

    val got = IceLite.read(spark, table).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == live.size, s"row count: got ${got.size}, want ${live.size}")
    live.foreach { case (url, ev) =>
      val row = got(url)
      assert(row.getTimestamp(1) == ev.warc_ts, s"warc_ts for $url")
      assert(java.util.Arrays.equals(row.getAs[Array[Byte]](2), ev.html),
        s"html for $url")
      assert(row.getString(3) == TextExtract.extract(ev.html),
        s"text byte-identity for $url")
      assert(row.getString(4) == ev.lang, s"lang for $url")
    }
  }

  test("winner dedup: the broadcast branch and the latestPerKey fallback " +
      "(maxBroadcastKeys = 0) give the same rows and the same BatchStats") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, md5}
    val cfg = Ledger.Config(seed = 11L, nEvents = 3000, nDomains = 20,
      pagesPerDomain = 10, partitions = 3, segments = 2,
      duplicateRate = 0.1, deleteRate = 0.1)
    val ledger = tmpDir("dedup-gate")
    Ledger.synthesize(spark, cfg, ledger)
    val events = Ledger.scan(spark, ledger).filter(col("op") =!= "ALTER")
    val (bcast, bcastStats) = Dedup.latestPerKeyAdaptive(events, nBuckets = 8)
    val (fallback, fallbackStats) =
      Dedup.latestPerKeyAdaptive(events, nBuckets = 8, maxBroadcastKeys = 0)
    assert(bcastStats == fallbackStats && bcastStats.buckets.nonEmpty)
    assert(Equivalence.diff(bcast.drop("extra"), fallback.drop("extra")).isEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("url"), col("warc_ts"), col("offset"), col("partition"),
        col("op"), md5(col("html")), col("lang")).collect().toSet
    val got = rows(bcast)
    assert(got.size == bcastStats.winners && got == rows(fallback))
  }

  test("replay is idempotent: running it twice changes nothing") {
    val cfg = Ledger.Config(seed = 7L, nEvents = 1200, nDomains = 10,
      pagesPerDomain = 8, partitions = 2, segments = 2)
    val ledger = tmpDir("ledger2")
    val table = tmpDir("table2")
    Ledger.synthesize(spark, cfg, ledger)
    def snapshot() = IceLite.read(spark, table).collect().map(r =>
      (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2).toSeq,
        r.getString(3), r.getString(4))).toSet
    Replay.full(spark, ledger, table, nBuckets = 8)
    val v1 = IceLite.currentVersion(table)
    val rows1 = snapshot()
    Replay.full(spark, ledger, table, nBuckets = 8) // same epoch keys → no-ops
    assert(IceLite.currentVersion(table) == v1, "no new snapshots on replay")
    assert(snapshot() == rows1)
  }

  test("deletes leave tombstones that mask later-arriving older events") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = tmpDir("table3")
    IceLite.create(table, graft.model.Model.pagesSchema, 4)
    def ev(off: Long, op: String, ts: Long, body: String): ChangeEvent =
      ChangeEvent(0, off, op, "https://u.example.com/1",
        new java.sql.Timestamp(ts),
        if (op == "D") null else body.getBytes("UTF-8"), "en", null, Map.empty)
    // batch 1: insert @t=1000 then delete @t=3000
    graft.operators.Merge(spark, table,
      Seq(ev(0, "I", 1000, "<p>one</p>"), ev(1, "D", 3000, "")).toDF(), "b1")
    assert(IceLite.read(spark, table).count() == 0, "deleted")
    // batch 2: a LATE update @t=2000 (older than the delete) must NOT resurrect
    graft.operators.Merge(spark, table,
      Seq(ev(2, "U", 2000, "<p>late</p>")).toDF(), "b2")
    assert(IceLite.read(spark, table).count() == 0, "tombstone masks older event")
    // batch 3: a genuinely newer insert @t=4000 DOES revive the url
    graft.operators.Merge(spark, table,
      Seq(ev(3, "I", 4000, "<p>back</p>")).toDF(), "b3")
    val rows = IceLite.read(spark, table).collect()
    assert(rows.length == 1 && rows(0).getString(3) == "back")
  }

  private def event(off: Long, url: String, ts: Long, body: String) =
    ChangeEvent(0, off, "I", url, new java.sql.Timestamp(ts),
      body.getBytes("UTF-8"), "en", null, Map.empty)

  test("a merge into a table that dropped html extracts text from the " +
      "event's html, into an empty and into a non-empty table") {
    import spark.implicits._
    val u = (i: Int) => s"https://nohtml.example.com/$i"
    Seq(false, true).foreach { stored =>
      val table = tmpDir("nohtml")
      IceLite.create(table, graft.model.Model.pagesSchema, 4)
      if (stored) Merge(spark, table, Seq(event(0, u(0), 5000, "<p>zero</p>")).toDF(), "b0")
      SchemaEvolution(table, """{"dropColumn":{"name":"html"}}""", "drop-html")
      // u(0) arrives late: it loses to a stored row and wins in an empty table
      val batch = event(1, u(0), 100, "<p>late</p>") +:
        (2 to 7).map(i => event(i, u(i), 1000, s"<p>page $i</p>"))
      Merge(spark, table, batch.toDF(), "b1")
      val got = IceLite.read(spark, table)
      assert(got.columns.toSeq == Seq("url", "warc_ts", "text", "lang"))
      val want = batch.map(e => e.url -> TextExtract.extract(e.html)).toMap ++
        (if (stored) Map(u(0) -> TextExtract.extract("<p>zero</p>".getBytes("UTF-8")))
         else Map.empty)
      assert(got.collect().map(r => r.getString(0) -> r.getString(2)).toMap == want,
        s"stored rows: $stored")
    }
  }

  test("one merge dataflow: into buckets holding no files Catalyst removes " +
      "the join; into stored rows the join stays") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.PlanBridge
    val table = tmpDir("onedataflow")
    IceLite.create(table, graft.model.Model.pagesSchema, 4)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)
    // the node names of the one Spark execution a Merge runs: its write
    def mergePlan(ts: Long, epoch: String): Seq[String] = {
      val batch = (1 to 6).map(i =>
        event(i, s"https://flow.example.com/$i", ts, s"<p>$i at $ts</p>")).toDF()
      val r = batch.select(Merge.batchStatsCols(col("url"), 4): _*).head()
      val stats = Merge.BatchStats(r.getSeq[Int](0).toSet, r.getLong(1))
      PlanBridge.waitForListeners(spark)
      plans.clear()
      Merge(spark, table, batch, epoch, deduped = Some(stats))
      PlanBridge.waitForListeners(spark)
      assert(plans.size == 1, s"$epoch: one execution")
      nodes(plans.peek())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val first = mergePlan(1000, "b1")
      assert(!first.exists(_.contains("Join")), first)
      val second = mergePlan(2000, "b2")
      assert(second.exists(_.contains("Join")), second)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(IceLite.read(spark, table).select("text").as[String].collect().toSet ==
      (1 to 6).map(i => s"$i at 2000").toSet)
  }

  test("a replay whose ALTERs only add columns commits one merge, with " +
      "the rows of one merge per ALTER-delimited segment; a rename splits it") {
    import org.apache.spark.sql.functions.{col, lit, struct}
    import graft.operators.Validate
    val adds = Map(400L -> Ledger.addColumnJson("fetch_ms", "long"),
      1100L -> Ledger.addColumnJson("crawl_id", "string"))
    val rename = 800L -> """{"renameColumn":{"from":"lang","to":"language"}}"""
    Seq(adds, adds + rename).foreach { alterAt =>
      val cfg = Ledger.Config(seed = 5L, nEvents = 1500, nDomains = 12,
        pagesPerDomain = 10, partitions = 3, segments = 2,
        duplicateRate = 0.08, deleteRate = 0.08, alterAt = alterAt)
      val ledger = tmpDir("addonly-ledger")
      Ledger.synthesize(spark, cfg, ledger)
      val table = tmpDir("addonly")
      val merges = if (alterAt.contains(rename._1)) 2 else 1
      assert(Replay.full(spark, ledger, table, nBuckets = 8) == merges)
      // create, then each ALTER by position and each segment's merge
      val ops = (1 to IceLite.currentVersion(table))
        .map(IceLite.loadVersion(table, _).operation)
      assert(ops == (if (merges == 1) Seq("create", "alter", "alter", "merge")
        else Seq("create", "alter", "merge", "alter", "alter", "merge")), ops)

      // by hand: one Merge per ALTER-delimited segment, the ALTER between
      val byHand = tmpDir("addonly-segmented")
      IceLite.create(byHand, graft.model.Model.pagesSchema, 8)
      val events = Validate.valid(Ledger.scan(spark, ledger))
        .filter(col("op") =!= "ALTER")
      def pos(i: Long) = struct(lit(i / cfg.partitions), lit((i % cfg.partitions).toInt))
      val g = struct(col("offset"), col("partition"))
      val cuts = alterAt.keys.toSeq.sorted
      (None +: cuts.map(Some(_))).zip(cuts.map(Some(_)) :+ None).zipWithIndex
        .foreach { case ((lo, hi), k) =>
          Merge(spark, byHand, events.filter(lo.fold(lit(true))(g > pos(_)) &&
            hi.fold(lit(true))(g < pos(_))), s"seg.$k")
          hi.foreach(i => SchemaEvolution(byHand, alterAt(i), s"alter.$i"))
        }
      assert(IceLite.load(table).currentSchema == IceLite.load(byHand).currentSchema)
      val d = Equivalence.diff(IceLite.readInternal(spark, table),
        IceLite.readInternal(spark, byHand))
      assert(d.isEmpty, s"diff rows: ${d.collect().take(5).mkString("\n")}")
      assert(IceLite.read(spark, table).filter(col("fetch_ms").isNotNull).count() > 0)
    }
  }

  test("Ledger.events holds exactly the rows synthesize writes") {
    import org.apache.spark.sql.functions.{col, to_json}
    val cfg = Ledger.Config(seed = 3L, nEvents = 900, nDomains = 10,
      pagesPerDomain = 6, partitions = 3, segments = 3, duplicateRate = 0.1,
      deleteRate = 0.1, malformedRate = 0.05,
      alterAt = Map(300L -> Ledger.addColumnJson("fetch_ms", "long")))
    val ledger = Ledger.synthesize(spark, cfg, tmpDir("events-ledger"))
    // exceptAll cannot compare maps: `extra` as JSON
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("extra", to_json(col("extra")))
    val written = rows(Ledger.scan(spark, ledger))
    val d = Equivalence.diff(rows(Ledger.events(spark, cfg).toDF()), written)
    assert(d.isEmpty, s"diff rows: ${d.collect().take(5).mkString("\n")}")
    assert(written.filter(col("op") === "ALTER").count() > 0)
    assert(written.filter(col("url").isNull && col("op") =!= "ALTER").count() > 0)
    assert(written.filter(col("extra") =!= "{}").count() > 0)
  }

  test("generator is deterministic and partitioning-independent") {
    val cfg = Ledger.Config(seed = 99L, nEvents = 500, partitions = 4)
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    val a = (0L until 500L).map(Ledger.makeEvent(cfg, cdf, _))
    val b = (0L until 500L).map(Ledger.makeEvent(cfg, cdf, _))
    (a zip b).foreach { case (x, y) =>
      assert(x.copy(html = null) == y.copy(html = null))
      assert((x.html == null && y.html == null) ||
        java.util.Arrays.equals(x.html, y.html))
    }
    // offsets monotone per partition
    a.groupBy(_.partition).foreach { case (_, es) =>
      val offs = es.sortBy(_.offset).map(_.offset)
      assert(offs == offs.distinct.sorted)
    }
    // Zipf skew present: top domain clearly hotter than median
    val byDomain = a.filter(_.url != null).groupBy(e => e.url.split('/')(2))
    val counts = byDomain.values.map(_.size).toSeq.sorted
    assert(counts.max >= 3 * counts(counts.size / 2))
  }
}
