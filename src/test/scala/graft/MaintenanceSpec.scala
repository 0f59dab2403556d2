package graft

import graft.icelite.IceLite
import graft.operators.{Equivalence, Maintenance, Replay}
import graft.sources.Ledger
import graft.streaming.Pipeline
import org.apache.spark.sql.functions._

/** Table maintenance (compaction, tombstone GC, snapshot expiry) and
  * dead-letter routing — with the invariant that NONE of them change the
  * live table state, and that batch and streaming agree on the DLQ.
  */
class MaintenanceSpec extends SparkTestBase {

  /** Replay a ledger, then apply `extraBatches` incremental merge epochs
    * (slices of a second seeded ledger over the same url space) so the
    * table accumulates versions and per-bucket files like a long-running
    * micro-batch ingest.
    */
  private def freshReplay(nEvents: Int, extraBatches: Int, name: String)
      : (String, String, Ledger.Config) = {
    val cfg = Ledger.Config(seed = 77L, nEvents = nEvents, nDomains = 12,
      pagesPerDomain = 8, partitions = 2, segments = 2, deleteRate = 0.1)
    val ledger = tmpDir(s"$name-ledger")
    val table = tmpDir(s"$name-table")
    // more shuffle partitions than (buckets x salts) so salted writes
    // actually fan a bucket over several tasks -> several files
    // AQE (correctly) coalesces tiny salted-write shuffles to one
    // partition -> one file per bucket; disable it here so the fixture
    // accumulates the small files a real multi-epoch ingest produces
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Ledger.synthesize(spark, cfg, ledger)
      Replay.full(spark, ledger, table, nBuckets = 4)
      import spark.implicits._
      val more = Ledger.events(spark, cfg.copy(seed = 78L)).toDF()
      (0 until extraBatches).foreach { k =>
        merge(table,
          more.filter(col("offset") % extraBatches === k), s"extra-$k")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    (ledger, table, cfg)
  }

  test("auto-compaction: repeated small commits raise the per-bucket " +
      "file-count signal past the threshold; one targeted compactIfNeeded " +
      "drops it, keeps live state, and the next call is a free no-op") {
    val (_, table, _) = freshReplay(2000, 6, "autocmp")
    val before = IceLite.load(table)
    val rows = IceLite.read(spark, table).collect()
      .map(r => (r.getString(0), r.getString(3))).toSet
    val threshold = 2
    // the commit summary surfaces the signal without storage listing
    val maxFiles = before.filesPerBucket.values.max
    assert(maxFiles > threshold,
      s"fixture must crowd buckets: $maxFiles <= $threshold")
    val uncrowded = before.filesPerBucket.filter(_._2 <= threshold).keySet
    val n = Maintenance.compactIfNeeded(spark, table,
      maxFilesPerBucket = threshold)
    assert(n == before.filesPerBucket.count(_._2 > threshold),
      "exactly the crowded buckets compact")
    val after = IceLite.load(table)
    assert(after.filesPerBucket.values.max <= threshold)
    // targeted: uncrowded buckets keep their exact files
    uncrowded.foreach { b =>
      assert(after.files.filter(_.bucket == b).map(_.path).toSet ==
        before.files.filter(_.bucket == b).map(_.path).toSet)
    }
    // live state unchanged
    assert(IceLite.read(spark, table).collect()
      .map(r => (r.getString(0), r.getString(3))).toSet == rows)
    // below-threshold table: metadata probe only, no commit, no epoch
    val v1 = IceLite.load(table).version
    assert(Maintenance.compactIfNeeded(spark, table,
      maxFilesPerBucket = threshold) == 0)
    assert(IceLite.load(table).version == v1)
  }

  test("compaction merges small files without changing live state") {
    val (_, table, _) = freshReplay(2000, 4, "cmp")
    val before = IceLite.load(table)
    val rows = IceLite.read(spark, table).collect()
      .map(r => (r.getString(0), r.getString(3))).toSet
    // copy-on-write + salted writes leave up to nSalts files per bucket
    assert(before.files.groupBy(_.bucket).values.exists(_.size > 1))

    val n = Maintenance.compact(spark, table, "compact-1", maxFilesPerBucket = 1)
    assert(n > 0)
    val after = IceLite.load(table)
    after.files.groupBy(_.bucket).values.foreach(fs =>
      assert(fs.size <= 1, s"bucket still has ${fs.size} files"))
    assert(after.files.size < before.files.size)
    val rowsAfter = IceLite.read(spark, table).collect()
      .map(r => (r.getString(0), r.getString(3))).toSet
    assert(rowsAfter == rows, "compaction must not change live rows")
    // idempotent (same epoch key no-ops even though buckets now qualify)
    assert(Maintenance.compact(spark, table, "compact-1",
      maxFilesPerBucket = 0) == 0)
  }

  test("tombstone expiry drops old tombstones, keeps live rows") {
    val (_, table, _) = freshReplay(2000, 0, "tomb")
    val internal = IceLite.readInternal(spark, table)
    val tombs = internal.filter(col("_deleted")).count()
    assert(tombs > 0, "fixture must have tombstones")
    val live = IceLite.read(spark, table).count()
    // expire everything (test contract: no more late data will arrive)
    val dropped = Maintenance.expireTombstones(spark, table, "gc-1",
      new java.sql.Timestamp(System.currentTimeMillis()))
    assert(dropped == tombs)
    assert(IceLite.readInternal(spark, table).filter(col("_deleted")).count() == 0)
    assert(IceLite.read(spark, table).count() == live)
  }

  test("snapshot expiry deletes old versions + orphaned files; current state intact") {
    val (_, table, _) = freshReplay(1500, 4, "exp")
    val rows = IceLite.read(spark, table).count()
    val current = IceLite.currentVersion(table)
    assert(current >= 4)
    val (metaDel, dataDel) = Maintenance.expireSnapshots(table, keepVersions = 2)
    assert(metaDel > 0 && dataDel > 0)
    assert(IceLite.currentVersion(table) == current)
    assert(IceLite.read(spark, table).count() == rows, "current state intact")
    intercept[Exception] { IceLite.loadVersion(table, 1) } // expired
  }

  test("malformed events: batch and streaming produce identical table AND dlq") {
    val cfg = Ledger.Config(seed = 88L, nEvents = 1500, nDomains = 10,
      pagesPerDomain = 6, partitions = 2, segments = 3, malformedRate = 0.1)
    val ledger = tmpDir("dlq-ledger")
    Ledger.synthesize(spark, cfg, ledger)

    val bTable = tmpDir("dlq-btable"); val bDlq = tmpDir("dlq-bdlq")
    Replay.full(spark, ledger, bTable, nBuckets = 4, dlqDir = Some(bDlq))

    val work = tmpDir("dlq-swork")
    Pipeline.runToCompletion(spark, Pipeline.Config(
      ledgerDir = ledger, tableDir = s"$work/pages",
      checkpointDir = s"$work/cp", lineageDir = s"$work/_lineage",
      metricsDir = s"$work/_metrics", nBuckets = 4,
      dlqDir = Some(s"$work/_dlq"), maxFilesPerTrigger = 4))

    assert(Equivalence.diff(IceLite.read(spark, bTable),
      IceLite.read(spark, s"$work/pages")).isEmpty)
    val bRows = IceLite.read(spark, bDlq)
      .select("partition", "offset", "error").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    val sRows = IceLite.read(spark, s"$work/_dlq")
      .select("partition", "offset", "error").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(bRows.nonEmpty && bRows == sRows, "identical DLQ either path")
    bRows.foreach { case (_, _, err) => assert(err == "null-key") }
  }

  test("commit conflict: a stale state-preserving rewrite cannot clobber a " +
      "racing merge; re-executed compaction converges") {
    import graft.icelite.CommitConflictException
    val (_, table, cfg) = freshReplay(800, 2, "cfl")
    // a slow compaction: read + stage the rewrite against version v ...
    val m = IceLite.load(table)
    val crowded = m.files.map(_.bucket).toSet
    val keyName = m.currentSchema.fields.head.name
    val rows = IceLite.readInternal(spark, table, buckets = Some(crowded))
      .withColumn("_bucket",
        graft.functions.Salt.bucket(col(keyName), m.numBuckets))
    val staged = IceLite.stageFiles(table, "slow-compact", rows,
      m.currentSchemaId)
    // ... while a merge lands NEW rows into the same buckets
    import spark.implicits._
    val more = Ledger.events(spark, cfg.copy(seed = 99L, nEvents = 200)).toDF()
    merge(table, more, "cfl-merge")
    val after = IceLite.read(spark, table).count()
    // the stale compaction must be REFUSED — its files lack the merge's rows
    intercept[CommitConflictException] {
      IceLite.commit(table, "slow-compact", "compact", staged,
        replacedBuckets = crowded, baseVersion = Some(m.version))
    }
    assert(IceLite.read(spark, table).count() == after, "merge rows intact")
    // compact()'s own retry loop re-reads the NEW version and succeeds
    Maintenance.compact(spark, table, "cfl-compact", maxFilesPerBucket = 1)
    assert(IceLite.read(spark, table).count() == after,
      "re-executed compaction preserves state")
  }

  test("gcOrphans deletes aged crash debris, never reachable or fresh files") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val (_, table, _) = freshReplay(800, 1, "gc")
    val live = IceLite.read(spark, table).collect().length
    // plant debris: an aged orphan data file + manifest (a crashed commit),
    // and a FRESH orphan (an in-flight commit's staging — must survive)
    val oldData = Paths.get(table, "data", "crashed-b0-0.parquet")
    val oldMan = Paths.get(table, "metadata", "man-0-0-b0.json")
    val freshData = Paths.get(table, "data", "inflight-b1-0.parquet")
    Seq(oldData, oldMan, freshData).foreach(p => Files.write(p, Array[Byte](1)))
    val aged = FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    Seq(oldData, oldMan).foreach(p => Files.setLastModifiedTime(p, aged))
    val (d, m) = Maintenance.gcOrphans(table, minAgeMs = 3600000L)
    assert(d == 1 && m == 1, s"deleted data=$d manifests=$m")
    assert(!Files.exists(oldData) && !Files.exists(oldMan))
    assert(Files.exists(freshData), "fresh unreferenced file kept (age guard)")
    // every reachable file survived: table reads identically, history intact
    assert(IceLite.read(spark, table).collect().length == live)
    assert(IceLite.readInternal(spark, table,
      version = Some(IceLite.currentVersion(table) - 1)).count() >= 0)
  }

  test("gcOrphans deletes a killed writer's aged staging dir, never a " +
      "fresh one") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val (_, table, _) = freshReplay(400, 1, "gcstage")
    val live = IceLite.read(spark, table).count()
    // a writer killed mid-stage leaves its staging dir full of parquet;
    // an in-flight writer's dir looks the same but is fresh
    val old = Paths.get(table, "data", ".staging-stream.7-1")
    val fresh = Paths.get(table, "data", ".staging-stream.8-2")
    Seq(old, fresh).foreach { d =>
      Files.createDirectories(d)
      Files.write(d.resolve("p0-a0-b1.parquet"), Array[Byte](1))
    }
    val aged = FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
    Seq(old.resolve("p0-a0-b1.parquet"), old)
      .foreach(p => Files.setLastModifiedTime(p, aged))
    // one fresh file keeps an otherwise aged dir
    Files.setLastModifiedTime(fresh, aged)
    val (d, m) = Maintenance.gcOrphans(table, minAgeMs = 3600000L)
    assert(d == 1 && m == 0, s"deleted data=$d manifests=$m")
    assert(!Files.exists(old), "aged staging dir deleted")
    assert(Files.exists(fresh.resolve("p0-a0-b1.parquet")),
      "in-flight staging dir kept (age guard)")
    assert(IceLite.read(spark, table).count() == live)
  }

  test("gcOrphans and expireSnapshots abort before deleting anything when " +
      "a retained version fails to load") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val (_, table, _) = freshReplay(400, 2, "gccorrupt")
    def listing(sub: String): Set[Path] = {
      val s = Files.list(Paths.get(table, sub))
      try s.iterator().asScala.toSet finally s.close()
    }
    // a manifest only the newest version names: older versions still load
    val m = IceLite.load(table)
    val older = (1 until m.version).flatMap(v =>
      IceLite.loadVersion(table, v).manifests.map(_.path)).toSet
    val man = m.manifests.map(_.path).find(!older.contains(_))
      .getOrElse(fail("the last merge wrote no manifest of its own"))
    Files.write(Paths.get(man), "{".getBytes("UTF-8"))
    val (data, meta) = (listing("data"), listing("metadata"))
    assert(data.exists(_.toString.endsWith(".parquet")))
    // a corrupt manifest is not an expired version: its live files must
    // not count as unreachable
    intercept[Exception](Maintenance.gcOrphans(table, minAgeMs = 0))
    assert(listing("data") == data && listing("metadata") == meta)
    intercept[Exception](Maintenance.expireSnapshots(table, keepVersions = 1))
    assert(listing("data") == data && listing("metadata") == meta)
  }

  test("expireSnapshots aborts before deleting anything when a manifest " +
      "that only an expired version names is corrupt") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val (_, table, _) = freshReplay(400, 2, "expcorrupt")
    def listing(sub: String): Set[Path] = {
      val s = Files.list(Paths.get(table, sub))
      try s.iterator().asScala.toSet finally s.close()
    }
    val current = IceLite.load(table).manifests.map(_.path).toSet
    val man = (1 until IceLite.currentVersion(table))
      .flatMap(v => IceLite.loadVersion(table, v).manifests.map(_.path))
      .find(!current.contains(_))
      .getOrElse(fail("every older manifest is still current"))
    Files.write(Paths.get(man), "{".getBytes("UTF-8"))
    val (data, meta) = (listing("data"), listing("metadata"))
    // read after the first delete, it would fail an expiry half done: the
    // expired metadata gone, so no rerun finds that version's files again
    intercept[Exception](Maintenance.expireSnapshots(table, keepVersions = 1))
    assert(listing("data") == data && listing("metadata") == meta)
  }

  test("streaming with RocksDB state store matches batch replay") {
    val cfg = Ledger.Config(seed = 91L, nEvents = 1200, nDomains = 8,
      pagesPerDomain = 6, partitions = 2, segments = 2, duplicateRate = 0.08)
    val ledger = tmpDir("rdb-ledger")
    Ledger.synthesize(spark, cfg, ledger)
    val bTable = tmpDir("rdb-btable")
    Replay.full(spark, ledger, bTable, nBuckets = 4)
    val work = tmpDir("rdb-swork")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      Pipeline.runToCompletion(spark, Pipeline.Config(
        ledgerDir = ledger, tableDir = s"$work/pages",
        checkpointDir = s"$work/cp", lineageDir = s"$work/_lineage",
        metricsDir = s"$work/_metrics", nBuckets = 4, maxFilesPerTrigger = 4))
      assert(Equivalence.diff(IceLite.read(spark, bTable),
        IceLite.read(spark, s"$work/pages")).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
