package graft.operators

import graft.icelite.IceLite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table maintenance — the operations a 100 TB lake table needs to stay
  * healthy under continuous micro-batch ingest:
  *
  *  - [[compact]]: copy-on-write MERGE appends ≤ nSalts files per touched
  *    bucket per epoch; thousands of epochs → small-file explosion. Rewrite
  *    buckets whose file count exceeds a threshold into one file set.
  *  - [[expireTombstones]]: deletes are retained as tombstones so a delete
  *    masks later-arriving OLDER events. Once the newest applied event
  *    time has passed a tombstone's warc_ts by more than the source's
  *    maximum disorder, no masked event can still arrive — the tombstone
  *    is dead weight and can be dropped.
  *  - [[expireSnapshots]]: every commit keeps superseded data files
  *    reachable for time travel; expiration deletes metadata versions older
  *    than the retained window plus any data file only they reference.
  *  - [[gcOrphans]]: a committer that crashes after staging (or loses the
  *    catalog CAS after writing manifests) leaves data files / manifests no
  *    metadata version references. They are invisible but occupy storage
  *    forever; GC deletes unreferenced files older than a safety age.
  *
  * compact/expireTombstones are ordinary epoch-keyed commits: idempotent,
  * atomic, safe to re-run after a crash. expireSnapshots/gcOrphans only
  * remove unreachable files, so re-running them is trivially safe.
  */
object Maintenance {

  /** Rewrite every bucket with more than `maxFilesPerBucket` live files.
    * Returns the number of buckets compacted. Safe to run CONCURRENTLY
    * with ingest: the commit is validated against the version the rows
    * were read from, so a merge landing mid-compaction makes this attempt
    * conflict and re-execute rather than clobber the merge's rows.
    */
  def compact(spark: SparkSession, dir: String, epochKey: String,
      maxFilesPerBucket: Int = 4): Int = IceLite.retryOnConflict {
    val m = IceLite.load(dir)
    if (m.committedEpoch(epochKey)) return 0
    val crowded = m.filesPerBucket.filter(_._2 > maxFilesPerBucket).keySet
    if (crowded.isEmpty) return 0
    val rows = IceLite.readInternal(spark, dir, Some(m.version), Some(crowded))
      .withColumn("_bucket",
        graft.functions.Salt.bucket(col(m.currentSchema.fields.head.name),
          m.numBuckets))
    IceLite.replaceBuckets(dir, epochKey, "compact", m,
      rows.repartition(col("_bucket")), crowded)
    crowded.size
  }

  /** Compact ONLY when needed: a metadata-only probe (no Spark job, no
    * commit, no storage listing) checks for buckets holding more than
    * `maxFilesPerBucket` live files — when none, returns 0 without
    * consuming an epoch, so an ingest pipeline can call this after every
    * commit (gated on the `filesPerBucket` of the metadata [[Merge]]
    * returns) for pennies.
    * When crowding exists it runs one targeted [[compact]] under a fresh
    * NON-NUMERIC epoch key (concurrent auto-compactions must never mask
    * each other through the epoch high-water mark), rewriting only the
    * crowded buckets; a merge landing mid-compaction conflicts the
    * attempt via `baseVersion` and it re-executes. Returns the number of
    * buckets compacted.
    */
  def compactIfNeeded(spark: SparkSession, dir: String,
      maxFilesPerBucket: Int = 4): Int =
    // compact() itself is the probe: it loads metadata once and returns 0
    // before any Spark job or commit when nothing is crowded, so the
    // freshly-minted epoch key is only ever consumed by real work
    compact(spark, dir, IceLite.uniqueEpoch("autocompact"), maxFilesPerBucket)

  /** Drop tombstones whose event time is older than `olderThan`.
    * CONTRACT: only safe when `olderThan` is at least the source's maximum
    * event-time disorder behind the newest applied event — a masked late
    * arrival after that would resurrect a deleted url. No watermark
    * enforces the bound: the pipeline keeps no streaming state and merges
    * an event however late it arrives, so the bound is the source's own
    * (for the synthetic ledger, `Ledger.Config.outOfOrderLagMs`).
    */
  def expireTombstones(spark: SparkSession, dir: String, epochKey: String,
      olderThan: java.sql.Timestamp): Long = IceLite.retryOnConflict {
    val m = IceLite.load(dir)
    if (m.committedEpoch(epochKey)) return 0L
    val tsName = m.currentSchema.fields.find(_.id == Merge.versionFieldId)
      .getOrElse(m.currentSchema.fields(1)).name
    val keyName = m.currentSchema.fields.head.name
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("_bucket",
        graft.functions.Salt.bucket(col(keyName), m.numBuckets))
    val expired = col("_deleted") && col(tsName) < lit(olderThan)
    // one aggregation action finds how many tombstones expire AND which
    // buckets hold them — only THOSE buckets are read back and rewritten
    // (at 100 TB a handful of buckets age out per run, not the whole table)
    val stats = withBucket(IceLite.readInternal(spark, dir, Some(m.version)))
      .filter(expired)
      .agg(count(lit(1)).as("n"), collect_set(col("_bucket")).as("bks"))
      .collect()(0)
    val dropped = stats.getLong(0)
    if (dropped == 0) return 0L
    val touched = stats.getSeq[Int](1).toSet
    IceLite.replaceBuckets(dir, epochKey, "expire-tombstones", m,
      withBucket(IceLite.readInternal(spark, dir, Some(m.version),
        Some(touched))).filter(!expired).repartition(col("_bucket")),
      touched)
    dropped
  }

  /** Version `v`'s metadata, or None when it has expired: its metadata
    * file is absent. Any other load failure (a corrupt metadata file, a
    * transient IO error) propagates and aborts both deleters below before
    * anything is deleted: counted as expired, its live files would look
    * unreachable. The load reads no manifest; [[listedFiles]] does.
    */
  private def liveVersion(dir: String, v: Int): Option[IceLite.Metadata] =
    if (graft.icelite.FileCatalog.versionExists(dir, v))
      Some(IceLite.loadVersion(dir, v))
    else None

  /** Every manifest `versions` name → the data-file paths it lists, read
    * once per distinct manifest (manifests are shared by reference across
    * versions). Both deleters below call this BEFORE their first delete,
    * so a manifest that fails to read (missing, corrupt, a transient IO
    * error) aborts them with nothing deleted, like a failed load.
    */
  private def listedFiles(versions: Seq[IceLite.Metadata])
      : Map[String, Seq[String]] =
    versions.flatMap(_.manifests).groupBy(_.path).map { case (p, rs) =>
      p -> IceLite.readManifest(rs.head).map(_.path)
    }

  /** Delete metadata versions older than the newest `keepVersions`, plus
    * every data file and manifest referenced ONLY by expired versions
    * (manifests are shared by reference across versions — only those no
    * retained version names are removed). Returns
    * (metadata deleted, data files deleted). FileCatalog layout only.
    */
  def expireSnapshots(dir: String, keepVersions: Int = 3): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    val current = IceLite.currentVersion(dir)
    val cutoff = current - math.max(1, keepVersions) + 1
    val (expired, kept) = (1 to current)
      .flatMap(v => liveVersion(dir, v).map(v -> _)).partition(_._1 < cutoff)
    val listed = listedFiles((expired ++ kept).map(_._2))
    val keptManifests = kept.flatMap(_._2.manifests.map(_.path)).toSet
    val keptFiles = keptManifests.flatMap(listed)
    // Deletion ORDER matters for crash safety: the expired v*.metadata.json
    // files are the only ENTRY POINTS to their manifests — delete them
    // FIRST, so a crash mid-expiry can only leave unreferenced manifests /
    // data files (invisible debris, swept by gcOrphans or the next run),
    // never a loadable-looking metadata file whose manifests are gone
    // (its files would fail to read, and every later gcOrphans or expiry
    // would abort on it)
    expired.foreach { case (v, _) =>
      Files.delete(Paths.get(dir, "metadata", s"v$v.metadata.json"))
    }
    val doomed = expired.flatMap(_._2.manifests.map(_.path)).distinct
      .filterNot(keptManifests)
    val dataDeleted = doomed.flatMap(listed).distinct.filterNot(keptFiles)
      .count(p => Files.deleteIfExists(Paths.get(p)))
    doomed.foreach(p => Files.deleteIfExists(Paths.get(p)))
    (expired.size, dataDeleted)
  }

  /** Delete ORPHANED files: parquet under `data/` and manifests under
    * `metadata/` that no retained metadata version references, and the
    * `data/.staging-*` dirs of writers killed mid-stage — the debris
    * of committers that crashed after staging or lost the publish CAS
    * after writing manifests. Only files older than `minAgeMs` (a staging
    * dir: its newest file) are touched: an IN-FLIGHT commit stages data
    * and writes manifests BEFORE publishing, so a freshly-written
    * unreferenced file may be about to become reachable — the age guard
    * (default 1 h, generously above any commit's stage→publish window)
    * makes the race impossible. Returns (data files and staging dirs
    * deleted, manifests deleted). FileCatalog layout only.
    */
  def gcOrphans(dir: String, minAgeMs: Long = 3600000L): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // snapshot the reachable set BEFORE listing, so a commit landing
    // mid-GC can only make the listing stale toward deleting LESS
    val current = IceLite.currentVersion(dir)
    val listed = listedFiles((1 to current).flatMap(liveVersion(dir, _)))
    val reachable = listed.keySet ++ listed.values.flatten
    val cutoff = System.currentTimeMillis() - minAgeMs
    def newest(p: java.nio.file.Path): Long = {
      val w = Files.walk(p)
      try w.iterator().asScala.map(Files.getLastModifiedTime(_).toMillis).max
      finally w.close()
    }
    def sweep(d: java.nio.file.Path, take: String => Boolean): Int = {
      if (!Files.isDirectory(d)) return 0
      var n = 0
      Files.list(d).iterator().asScala.toList.foreach { p =>
        if (take(p.getFileName.toString) && !reachable.contains(p.toString) &&
            newest(p) < cutoff) {
          IceLite.deleteRecursively(p)
          n += 1
        }
      }
      n
    }
    val data = sweep(Paths.get(dir, "data"), name =>
      name.endsWith(".parquet") || name.startsWith(".staging-"))
    val manifests = sweep(Paths.get(dir, "metadata"), _.startsWith("man-"))
    (data, manifests)
  }
}
