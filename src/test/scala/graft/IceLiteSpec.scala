package graft

import graft.icelite.IceLite
import graft.model.Model
import graft.operators.SchemaEvolution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IceLite table-format invariants (SURVEY.md §7 M1 exit tests). */
class IceLiteSpec extends SparkTestBase {
  import spark.implicits._

  private def mkRows(n: Int) =
    (1 to n).map(i => (s"https://t.example.com/$i",
      new java.sql.Timestamp(1000L * i), Array[Byte](i.toByte), s"text$i",
      "en", i.toLong, 0, false))
      .toDF("url", "warc_ts", "html", "text", "lang",
        "_offset", "_partition", "_deleted")
      .withColumn("_bucket", pmod(xxhash64(col("url")), lit(4L)).cast("int"))

  test("create + commit + read roundtrip") {
    val dir = tmpDir("ice1")
    IceLite.create(dir, Model.pagesSchema, 4)
    val staged = IceLite.stageFiles(dir, "e1", mkRows(10), 1)
    IceLite.commit(dir, "e1", "merge", staged, replacedBuckets = (0 until 4).toSet)
    val got = IceLite.read(spark, dir)
    assert(got.count() == 10)
    assert(got.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
  }

  test("a read of no files plans an empty local relation (Catalyst folds " +
      "joins and unions with it away)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tmpDir("ice_empty")
    IceLite.create(dir, Model.pagesSchema, 4)
    val staged = IceLite.stageFiles(dir, "e1",
      mkRows(10).filter(col("_bucket") =!= 3), 1)
    IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet)
    val none = tmpDir("ice_none")
    IceLite.create(none, Model.pagesSchema, 4)
    // a table without files, and buckets without files in a table with some
    Seq(IceLite.readInternal(spark, none),
      IceLite.readInternal(spark, dir, buckets = Some(Set(3)))).foreach { df =>
      df.queryExecution.optimizedPlan match {
        case l: LocalRelation => assert(l.data.isEmpty)
        case other => fail(s"not an empty LocalRelation:\n$other")
      }
      assert(df.columns.toSeq == Model.pagesSchema.fieldNames.toSeq ++
        IceLite.internalFields.map(_.name))
    }
    assert(IceLite.readInternal(spark, dir, buckets = Some(Set(0, 1, 2, 3)))
      .count() == staged.map(_.rows).sum)
  }

  test("epoch-keyed commits are idempotent (exactly-once replay)") {
    val dir = tmpDir("ice2")
    IceLite.create(dir, Model.pagesSchema, 4)
    val staged = IceLite.stageFiles(dir, "e1", mkRows(5), 1)
    val m1 = IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet)
    // replayed commit of the same epoch: metadata unchanged
    val m2 = IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet)
    assert(m1.version == m2.version && m1.snapshotId == m2.snapshotId)
    assert(IceLite.hasEpoch(dir, "e1") && !IceLite.hasEpoch(dir, "nope"))
    assert(IceLite.read(spark, dir).count() == 5)
  }

  test("time travel: old versions stay readable; hint is atomic pointer") {
    val dir = tmpDir("ice3")
    IceLite.create(dir, Model.pagesSchema, 4)
    val s1 = IceLite.stageFiles(dir, "e1", mkRows(3), 1)
    IceLite.commit(dir, "e1", "merge", s1, (0 until 4).toSet)
    val vAfterFirst = IceLite.currentVersion(dir)
    val s2 = IceLite.stageFiles(dir, "e2", mkRows(8), 1)
    IceLite.commit(dir, "e2", "merge", s2, (0 until 4).toSet)
    assert(IceLite.read(spark, dir).count() == 8)
    assert(IceLite.read(spark, dir, Some(vAfterFirst)).count() == 3)
  }

  test("schema evolution is metadata-only: add, rename, widen, no rewrite") {
    val dir = tmpDir("ice4")
    IceLite.create(dir, Model.pagesSchema, 4)
    val s1 = IceLite.stageFiles(dir, "e1", mkRows(4), 1)
    IceLite.commit(dir, "e1", "merge", s1, (0 until 4).toSet)
    val filesBefore = IceLite.load(dir).files.map(_.path).toSet

    SchemaEvolution(dir, """{"addColumn":{"name":"fetch_ms","type":"long"}}""", "a1")
    SchemaEvolution(dir, """{"renameColumn":{"from":"lang","to":"language"}}""", "a2")
    SchemaEvolution(dir, """{"widenColumn":{"name":"fetch_ms","type":"double"}}""", "a3")

    val m = IceLite.load(dir)
    assert(m.files.map(_.path).toSet == filesBefore, "NO data rewrite on ALTER")
    val got = IceLite.read(spark, dir)
    assert(got.columns.toSeq ==
      Seq("url", "warc_ts", "html", "text", "language", "fetch_ms"))
    assert(got.schema("fetch_ms").dataType == DoubleType)
    // old rows: added col null-filled, renamed col still carries data
    assert(got.filter(col("fetch_ms").isNotNull).count() == 0)
    assert(got.filter(col("language") === "en").count() == 4)
    // idempotent ALTER replay
    SchemaEvolution(dir, """{"addColumn":{"name":"x","type":"int"}}""", "a1")
    assert(!IceLite.load(dir).currentSchema.fields.exists(_.name == "x"))
  }

  test("illegal evolutions are rejected") {
    val dir = tmpDir("ice5")
    IceLite.create(dir, Model.pagesSchema, 4)
    intercept[IllegalArgumentException] {
      SchemaEvolution(dir, """{"widenColumn":{"name":"lang","type":"int"}}""", "b1")
    }
    intercept[IllegalArgumentException] {
      SchemaEvolution(dir, """{"dropColumn":{"name":"url"}}""", "b2")
    }
    intercept[IllegalArgumentException] {
      SchemaEvolution(dir, """{"addColumn":{"name":"url","type":"int"}}""", "b3")
    }
    // the event-time (merge version) column can be renamed but never dropped
    intercept[IllegalArgumentException] {
      SchemaEvolution(dir, """{"dropColumn":{"name":"warc_ts"}}""", "b4")
    }
  }

  private def env(rows: Seq[(String, Long, String)]) =
    rows.map { case (u, o, op) =>
      (0, o, op, u, new java.sql.Timestamp(1000L * o),
        s"<html><body>p$o</body></html>".getBytes("UTF-8"), "en",
        null: String, Map.empty[String, String])
    }.toDF("partition", "offset", "op", "url", "warc_ts", "html", "lang",
      "alterJson", "extra")

  test("merge + CDC read survive a RENAME of the event-time column " +
      "(version resolved by field id)") {
    val dir = tmpDir("ice6")
    IceLite.create(dir, Model.pagesSchema, 4)
    merge(dir,
      env(Seq(("https://r.example.com/a", 1L, "I"),
        ("https://r.example.com/b", 2L, "I"))), "m.0")
    val vAfterFirst = IceLite.currentVersion(dir)
    SchemaEvolution(dir,
      """{"renameColumn":{"from":"warc_ts","to":"captured_at"}}""", "m.alt")
    // a merge into the NON-EMPTY renamed table must still apply the
    // (event_time, offset, partition) condition — round-1 bug: hard-coded
    // c_warc_ts/e_warc_ts blew up with unresolved columns here
    merge(dir,
      env(Seq(("https://r.example.com/a", 9L, "U"),
        ("https://r.example.com/c", 3L, "I"))), "m.1")
    val got = IceLite.read(spark, dir)
    assert(got.columns.contains("captured_at") && got.count() == 3)
    assert(got.filter(col("url") === "https://r.example.com/a")
      .collect()(0).getTimestamp(1).getTime == 9000L)
    // stale update (older event time) must lose against the stored row
    merge(dir,
      env(Seq(("https://r.example.com/a", 4L, "U"))), "m.2")
    assert(IceLite.read(spark, dir)
      .filter(col("url") === "https://r.example.com/a")
      .collect()(0).getTimestamp(1).getTime == 9000L, "older event resurged")
    // incremental CDC diff across the rename is still computable
    val ch = graft.operators.Changes.between(spark, dir, vAfterFirst)
    assert(ch.filter(col("change_type") === "insert").count() == 1)
    assert(ch.filter(col("change_type") === "update").count() == 1)
  }

  /** Sum of sizes of metadata-dir files created by `body` (the bytes one
    * commit writes: new manifests + the new metadata JSON; hint excluded —
    * it's a fixed-size cache).
    */
  private def metadataBytesWritten(dir: String)(body: => Unit): Long = {
    import scala.jdk.CollectionConverters._
    val md = java.nio.file.Paths.get(dir, "metadata")
    def snap() = java.nio.file.Files.list(md).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("version-hint"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    val before = snap()
    body
    snap().filterNot { case (p, _) => before.contains(p) }.values.sum
  }

  private def mkRowsInBucket(n: Int, bucket: Int) =
    (1 to n).map(i => (s"https://t.example.com/$bucket/$i",
      new java.sql.Timestamp(1000L * i), Array[Byte](i.toByte), s"text$i",
      "en", i.toLong, 0, false))
      .toDF("url", "warc_ts", "html", "text", "lang",
        "_offset", "_partition", "_deleted")
      .withColumn("_bucket", lit(bucket))

  test("manifest split: a one-bucket commit writes O(touched bucket) " +
      "metadata bytes, flat as total live-file count grows 16x") {
    def build(name: String, commitsPerBucket: Int): String = {
      val dir = tmpDir(name)
      IceLite.create(dir, Model.pagesSchema, 8)
      (0 until commitsPerBucket).foreach { k =>
        (0 until 8).foreach { b =>
          val staged = IceLite.stageFiles(dir, s"load.$b.$k",
            mkRowsInBucket(2, b), 1)
          IceLite.commit(dir, s"load.$b.$k", "append", staged)
        }
      }
      dir
    }
    val small = build("man_small", 1) // 8 live files
    val big = build("man_big", 16)    // 128 live files
    def oneBucketCommit(dir: String): Long = metadataBytesWritten(dir) {
      val staged = IceLite.stageFiles(dir, "probe.0",
        mkRowsInBucket(1, 0), 1)
      IceLite.commit(dir, "probe.0", "merge", staged,
        replacedBuckets = Set(0))
    }
    val bytesSmall = oneBucketCommit(small)
    val bytesBig = oneBucketCommit(big)
    // inline-files metadata would scale ~16x here; the manifest list keeps
    // the commit's writes at one bucket manifest + O(buckets) refs
    assert(bytesBig < bytesSmall * 3,
      s"per-commit metadata grew with live files: $bytesSmall -> $bytesBig")
    // and the split loses nothing: full read still sees every live file
    assert(IceLite.read(spark, big).count() == 7 * 16 * 2 + 1)
    assert(IceLite.load(big).manifests.size == 8, "one manifest per bucket")
  }

  test("a load reads one metadata file: with every manifest but bucket " +
      "b's deleted, the version still loads and bucket b still reads") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val cfg = graft.sources.Ledger.Config(seed = 15L, nEvents = 600,
      nDomains = 8, pagesPerDomain = 8, partitions = 2, segments = 2,
      deleteRate = 0.1)
    val ledger = tmpDir("onefile-ledger")
    val table = tmpDir("onefile-table")
    graft.sources.Ledger.synthesize(spark, cfg, ledger)
    graft.operators.Replay.full(spark, ledger, table, nBuckets = 8)
    val before = IceLite.load(table)
    val b = before.manifests.head.bucket
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "_offset", "_partition", "_deleted").collect().toSet
    val expected = rows(IceLite.readInternal(spark, table)
      .filter(graft.functions.Salt.bucket(col("url"), 8) === b))
    assert(expected.nonEmpty)
    // destroy every manifest of every other bucket, in every version
    val listing = Files.list(Paths.get(table, "metadata"))
    val doomed = try listing.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("man-") && !n.endsWith(s"-b$b.json")
    }.toList finally listing.close()
    assert(doomed.nonEmpty)
    doomed.foreach(Files.delete)
    val m = IceLite.load(table)
    assert(IceLite.currentVersion(table) == before.version &&
      m.version == before.version)
    assert(m.committedEpoch("replay.0") && !m.committedEpoch("replay.1"))
    assert(m.filesPerBucket == before.filesPerBucket)
    assert(rows(IceLite.readInternal(spark, table,
      buckets = Some(Set(b)))) == expected)
    // the other buckets' file lists are gone: reading them fails
    intercept[java.nio.file.NoSuchFileException](m.files)
  }

  test("the conflict rule from both sides: a stale replaceBuckets " +
      "conflicts when a concurrent commit emptied or filled one of its " +
      "buckets, and rebases when it touched only other buckets") {
    import graft.icelite.CommitConflictException
    val dir = tmpDir("ice-rule")
    IceLite.create(dir, Model.pagesSchema, 4)
    // buckets 0 and 1 hold rows at the base; 2 and 3 are empty
    val base = IceLite.replaceBuckets(dir, "e1", "merge", IceLite.load(dir),
      mkRowsInBucket(2, 0).unionByName(mkRowsInBucket(2, 1)), Set(0, 1))
    // a concurrent commit empties bucket 0
    IceLite.commit(dir, "empty0", "delete", replacedBuckets = Set(0))
    intercept[CommitConflictException] {
      IceLite.replaceBuckets(dir, "stale0", "compact", base,
        mkRowsInBucket(3, 0), Set(0))
    }
    // a concurrent commit fills bucket 3, empty at the base
    IceLite.commit(dir, "fill3", "append",
      IceLite.stageFiles(dir, "fill3", mkRowsInBucket(2, 3), 1))
    intercept[CommitConflictException] {
      IceLite.replaceBuckets(dir, "stale3", "merge", base,
        mkRowsInBucket(1, 3), Set(3))
    }
    assert(IceLite.read(spark, dir).count() == 2 + 2)
    // bucket 1 is as the base read it: the stale rewrite rebases
    val m = IceLite.replaceBuckets(dir, "rebase1", "merge", base,
      mkRowsInBucket(5, 1), Set(1))
    assert(m.version == base.version + 3 && m.operation == "merge")
    assert(m.filesPerBucket.keySet == Set(1, 3))
    assert(IceLite.read(spark, dir).count() == 5 + 2)
  }

  test("load refuses metadata of any format but icelite/2, naming it") {
    val dir = tmpDir("ice_fmt")
    IceLite.create(dir, Model.pagesSchema, 4)
    val staged = IceLite.stageFiles(dir, "e1", mkRows(3), 1)
    IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet)
    val meta = java.nio.file.Paths.get(dir, "metadata",
      s"v${IceLite.currentVersion(dir)}.metadata.json")
    val json = new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
    assert(json.contains("\"icelite/2\""))
    java.nio.file.Files.write(meta,
      json.replace("\"icelite/2\"", "\"icelite/1\"").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](IceLite.load(dir))
    assert(e.getMessage.contains("icelite/1"), e.getMessage)
  }

  test("concurrent committers: conditional-create CAS — every epoch lands, " +
      "losers rebase, versions stay sequential") {
    val dir = tmpDir("icerace")
    IceLite.create(dir, Model.pagesSchema, 4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def committer(prefix: String) = new Thread(() => {
      try {
        (0 until 10).foreach { i =>
          IceLite.commit(dir, s"$prefix.$i", "merge", maxAttempts = 200)
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(committer("a"), committer("b"))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"committer failed: ${errs.peek()}")
    val m = IceLite.load(dir)
    assert(m.version == 21, "create + 20 contended commits, none lost")
    assert((0 until 10).forall(i =>
      m.committedEpoch(s"a.$i") && m.committedEpoch(s"b.$i")))
  }

  test("CasCatalog: the commit protocol runs rename-free on a conditional-" +
      "PUT object store; racing publishes of one version — exactly one wins") {
    val cat = new graft.icelite.CasCatalog
    val dir = tmpDir("icecas")
    IceLite.create(dir, Model.pagesSchema, 4, cat)
    val staged = IceLite.stageFiles(dir, "e1", mkRows(5), 1)
    IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet, catalog = cat)
    // replay no-op + read both work against the object-store catalog
    val v = IceLite.currentVersion(dir, cat)
    IceLite.commit(dir, "e1", "merge", staged, (0 until 4).toSet, catalog = cat)
    assert(IceLite.currentVersion(dir, cat) == v)
    assert(IceLite.read(spark, dir, catalog = cat).count() == 5)
    // nothing leaked into the FileCatalog layout: no metadata JSON on disk
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "metadata", "v1.metadata.json")))
    // the raw CAS: 8 threads race to create one version, exactly one wins
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until 8).map(i => new Thread(() => {
      if (cat.tryPublish(dir, 99, Array(i.toByte))) wins.incrementAndGet()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1)
  }

  test("epoch log folds to per-prefix high-water marks: metadata stays " +
      "O(live files) after 1000 commits") {
    val dir = tmpDir("ice7")
    IceLite.create(dir, Model.pagesSchema, 4)
    (0 until 1000).foreach { i =>
      IceLite.commit(dir, s"stream.$i", "merge")
      if (i % 50 == 0) IceLite.commit(dir, s"stream.$i.alter.0", "alter")
    }
    val m = IceLite.load(dir)
    // every epoch is still recognized as committed (replay no-ops) ...
    assert((0 until 1000).forall(i => m.committedEpoch(s"stream.$i")))
    assert(m.committedEpoch("stream.500.alter.0") &&
      !m.committedEpoch("stream.1000") && !m.committedEpoch("other.0"))
    val before = IceLite.currentVersion(dir)
    IceLite.commit(dir, "stream.123", "merge") // replay → no new version
    assert(IceLite.currentVersion(dir) == before)
    // ... but the metadata does NOT carry 1000 keys: numeric suffixes fold
    assert(m.epochLog.size <= 2, s"epochLog grew: ${m.epochLog.size}")
    val metaBytes = java.nio.file.Files.size(java.nio.file.Paths.get(
      dir, "metadata", s"v$before.metadata.json"))
    assert(metaBytes < 16 * 1024,
      s"metadata file is $metaBytes bytes after 1000 commits")
  }

  test("replaceBuckets validates against its base: a stale rewrite of a " +
      "bucket another commit changed conflicts instead of clobbering") {
    val dir = tmpDir("ice-replace")
    IceLite.create(dir, Model.pagesSchema, 4)
    val base = IceLite.replaceBuckets(dir, "e1", "merge",
      IceLite.load(dir), mkRows(8), (0 until 4).toSet)
    assert(base.operation == "merge" && IceLite.read(spark, dir).count() == 8)
    // a concurrent commit lands in every bucket after `base` was read
    IceLite.replaceBuckets(dir, "e2", "merge", base, mkRows(6),
      (0 until 4).toSet)
    intercept[graft.icelite.CommitConflictException] {
      IceLite.replaceBuckets(dir, "stale", "compact", base, mkRows(8),
        (0 until 4).toSet)
    }
    assert(IceLite.read(spark, dir).count() == 6, "concurrent commit intact")
  }

  test("replaceBuckets refuses staged rows outside the buckets it " +
      "replaces, committing nothing") {
    val dir = tmpDir("ice-stray")
    IceLite.create(dir, Model.pagesSchema, 4)
    val base = IceLite.replaceBuckets(dir, "e1", "merge",
      IceLite.load(dir), mkRows(8), (0 until 4).toSet)
    val e = intercept[IllegalStateException] {
      IceLite.replaceBuckets(dir, "stray", "merge", base,
        mkRowsInBucket(3, 2), Set(0, 1))
    }
    assert(e.getMessage.contains("stray") && e.getMessage.contains("2"),
      e.getMessage)
    assert(IceLite.currentVersion(dir) == base.version)
    assert(!IceLite.load(dir).committedEpoch("stray"))
    assert(IceLite.read(spark, dir).count() == 8)
  }

  test("retryOnConflict re-runs a conflicting body up to three attempts") {
    import graft.icelite.CommitConflictException
    var calls = 0
    val v = IceLite.retryOnConflict {
      calls += 1
      if (calls < 3) throw new CommitConflictException(s"conflict $calls")
      "done"
    }
    assert(v == "done" && calls == 3)
    calls = 0
    val e = intercept[CommitConflictException] {
      IceLite.retryOnConflict {
        calls += 1
        throw new CommitConflictException(s"conflict $calls")
      }
    }
    assert(calls == 3 && e.getMessage == "conflict 3")
    // any other failure is not retried
    calls = 0
    intercept[IllegalStateException] {
      IceLite.retryOnConflict { calls += 1; throw new IllegalStateException }
    }
    assert(calls == 1)
  }

  test("stageFiles: a null _bucket fails the write, naming the epoch, and " +
      "leaves nothing under data/") {
    val dir = tmpDir("icenull")
    IceLite.create(dir, Model.pagesSchema, 4)
    val rows = mkRows(6).withColumn("_bucket",
      when(col("_offset") === 3L, lit(null).cast(IntegerType))
        .otherwise(col("_bucket")))
    val e = intercept[Exception](IceLite.stageFiles(dir, "nullb.1", rows, 1))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("nullb.1")), msgs(e).mkString("|"))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
      .count() == 0, "no staged file or staging dir survives the failure")
  }

  test("stageFiles: a write that fails while another task still stages a " +
      "file leaves nothing under data/") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val dir = tmpDir("iceslow")
    IceLite.create(dir, Model.pagesSchema, 4)
    // partition 0 fails at once on a null _bucket; partition 1 stalls
    // after the sort (the writer's own sort is redundant here), ignoring
    // the kill's interrupt like a task in uninterruptible work, so its
    // first file opens after the job failed
    val stall = udf { (html: Array[Byte], p: Int) =>
      val end = System.nanoTime() + 1500000000L
      while (p == 1 && System.nanoTime() < end) {
        try Thread.sleep(50) catch { case _: InterruptedException => }
      }
      html
    }
    val rows = mkRows(8).coalesce(2)
      .withColumn("_bucket", when(spark_partition_id() === 0,
        lit(null).cast(IntegerType)).otherwise(col("_bucket")))
      .sortWithinPartitions("_bucket")
      .withColumn("html", stall(col("html"), spark_partition_id()))
    // both tasks of the write's job ended (tasks an earlier test left
    // running belong to other stages)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) ended.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[Exception](IceLite.stageFiles(dir, "slow.1", rows, 1))
      assert(ended.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
      .count() == 0, "no staged file or staging dir survives the failure")
  }

  test("stageFiles never overwrites a staged file: two calls under one " +
      "epoch key leave the first call's files at their paths, byte for byte") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("icetwice")
    IceLite.create(dir, Model.pagesSchema, 4)
    // a save retried under the same epoch key while the first attempt runs
    val first = IceLite.stageFiles(dir, "same.1", mkRows(8), 1)
    val bytes = first.map(f => f.path -> Files.readAllBytes(Paths.get(f.path)))
    val second = IceLite.stageFiles(dir, "same.1", mkRows(3), 1)
    assert(first.nonEmpty && second.nonEmpty)
    assert(first.map(_.path).toSet.intersect(second.map(_.path).toSet).isEmpty)
    bytes.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(p)), b), p)
    }
    // the first attempt's commit reads its own rows
    IceLite.commit(dir, "same.1", "merge", first, (0 until 4).toSet)
    assert(IceLite.read(spark, dir).count() == 8)
  }

  test("every writer records each data file's row count: per version, the " +
      "files' rows sum to the version's readInternal count (replay, " +
      "micro-batch merge, SQL UPDATE, compaction)") {
    def checkRows(dir: String, v: Int): Unit = {
      val fs = IceLite.loadVersion(dir, v).files
      assert(fs.nonEmpty && fs.forall(_.rows >= 0), s"$dir v$v: $fs")
      assert(fs.map(_.rows).sum ==
        IceLite.readInternal(spark, dir, Some(v)).count(), s"$dir v$v")
    }
    val cfg = graft.sources.Ledger.Config(seed = 5L, nEvents = 1200,
      nDomains = 8, pagesPerDomain = 6, partitions = 2, segments = 4,
      deleteRate = 0.1)
    val ledger = tmpDir("rows_ledger")
    graft.sources.Ledger.synthesize(spark, cfg, ledger)
    // replay: its single segment is a first load into an empty table
    val table = tmpDir("rows_replay")
    graft.operators.Replay.full(spark, ledger, table, nBuckets = 4)
    checkRows(table, IceLite.currentVersion(table))
    // pipeline: the first batch loads the empty table, every later one
    // merges into stored rows
    val work = tmpDir("rows_pipe")
    graft.streaming.Pipeline.runToCompletion(spark, graft.streaming.Pipeline
      .Config(ledger, s"$work/pages", s"$work/cp", s"$work/lin", s"$work/met",
        nBuckets = 4, maxFilesPerTrigger = 2))
    val pages = s"$work/pages"
    assert(IceLite.currentVersion(pages) >= 3, "at least one micro-batch merge")
    (2 to IceLite.currentVersion(pages)).foreach(checkRows(pages, _))
    // SQL UPDATE, then a compaction of every bucket
    spark.sql("DROP TABLE IF EXISTS rows_t")
    spark.sql(s"CREATE TABLE rows_t USING icelite OPTIONS (path '$table')")
    spark.sql("UPDATE rows_t SET lang = 'xx'")
    checkRows(table, IceLite.currentVersion(table))
    assert(graft.operators.Maintenance.compact(spark, table, "rows.compact",
      maxFilesPerBucket = 0) > 0)
    checkRows(table, IceLite.currentVersion(table))
    spark.sql("DROP TABLE rows_t")
  }
}
