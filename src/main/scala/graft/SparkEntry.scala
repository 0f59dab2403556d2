package graft

import graft.functions.{DedupOps, Multimodal, Similarity, TextAnalysis}
import graft.icelite.IceLite
import graft.operators.Replay
import graft.sources.Ledger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract (SURVEY.md §2 operator inventory → one query per key;
  * §7 M6). Every SQL-expressible operator has a DuckDB oracle in
  * [[oracleSql]] over the same parquet tables; non-SQL-expressible ops
  * (hash-dependent or engine-internal) are rows-only here and fully
  * asserted in the sbt suites instead.
  *
  * Parity rules used throughout (Spark ↔ DuckDB):
  *  - every aggregate/computed column is aliased identically on both sides
  *  - double aggregations go through DECIMAL(18,3) casts per value so sums
  *    are exact and engine-order-independent, and the aggregate LEAVES the
  *    query as exact milli-unit BIGINT (`sum * 1000` cast to long): no
  *    DECIMAL ever crosses the result boundary — Spark and DuckDB carry
  *    different internal decimal precisions (28,3 vs 38,3) and different
  *    parquet physical encodings, which the driver's hash is sensitive to
  *    even when values match (round-1 lesson, VERDICT.md "What's wrong" #2)
  *  - integer-ish outputs are cast to BIGINT on both sides (DuckDB windows/
  *    length functions return BIGINT where Spark returns INT)
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column): Column = c.cast(DecimalType(18, 3))

  /** Exact decimal sum emitted as milli-unit BIGINT — the only aggregate
    * shape that hashes identically across engines (see Scaladoc above).
    */
  private def sumMilli(c: Column): Column =
    (sum(dec(c)) * lit(1000)).cast("long")

  /** Fixture working dir, deleted at JVM exit. Results read from these
    * dirs LAZILY, so inline deletion is impossible — without the exit
    * hook every driver run left a few hundred MB of debris in /tmp
    * (tmpfs = RAM on the bench host).
    */
  private def fixtureDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(x: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(x)) {
          val it = java.nio.file.Files.list(x).iterator()
          while (it.hasNext) del(it.next())
        }
        java.nio.file.Files.deleteIfExists(x)
        ()
      }
      try del(p) catch { case _: Throwable => () }
    }))
    p.toString
  }

  /** Flagship: the actual CDC engine end-to-end at sf0.001 scale —
    * synthesize a ledger, replay it into an IceLite table with a mid-stream
    * ALTER, return the live page rows. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val work = fixtureDir("graft-entry")
    val cfg = Ledger.Config(nEvents = 3000, nDomains = 30, pagesPerDomain = 10,
      partitions = 4, segments = 2,
      alterAt = Map(1500L -> Ledger.addColumnJson("fetch_ms", "long")))
    Ledger.synthesize(spark, cfg, s"$work/ledger")
    Replay.full(spark, s"$work/ledger", s"$work/pages", nBuckets = 16)
    IceLite.read(spark, s"$work/pages")
      .select(col("url"), col("warc_ts"), length(col("text")).as("n_chars"),
        col("lang"), col("fetch_ms"))
  }

  // ------------------------------------------------------------------
  // queries: one per operator key (SURVEY.md §2). Signature fixed by the
  // driver: (SparkSession, sfDir) => DataFrame.
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.1 sources / sinks ------------------------------------------
    "scan_ledger" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("event_type") =!= "error")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))),

    "scan_table" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),

    "dlq_split" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          when(col("event_type") === "error", lit("dlq"))
            .when(col("value").isNull, lit("tombstone"))
            .otherwise(lit("ok")).as("route"))),

    // ---- §2.2 record-level transforms (Connect SMT surface) ------------
    "cast_types" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        col("event_id").cast("string").as("id_str"),
        col("user_id").cast("double").as("uid_d"),
        col("ts").cast("date").as("day"))),

    "project_fields" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"))),

    "filter_pred" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("value").between(50, 150) && col("event_type") =!= "error")
        .select(col("event_id"), col("value"))),

    "flatten_struct" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          struct(col("user_id"), col("event_type")).as("k"))
        .select(col("event_id"), col("k.user_id").as("k_user_id"),
          col("k.event_type").as("k_event_type"))),

    "insert_field" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        pmod(col("user_id"), lit(4L)).as("src_partition"),
        to_date(col("ts")).as("ingest_day"))),

    "map_ops" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          map_from_arrays(array(lit("type"), lit("uid")),
            array(col("event_type"), col("user_id").cast("string"))).as("m"))
        .select(col("event_id"), element_at(col("m"), "type").as("type_val"),
          element_at(col("m"), "uid").as("uid_val"))),

    "mask_field" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        regexp_replace(col("props"), "[0-9]", "*").as("props_masked"))),

    "regex_route" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        concat(lit("evt-"),
          regexp_extract(col("event_type"), "^(..)", 1)).as("route"))),

    "rename_drop" -> ((s, d) =>
      t(s, d, "events")
        .withColumnRenamed("event_id", "id")
        .withColumnRenamed("value", "amount")
        .select(col("id"), col("amount"))),

    "ts_convert" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour_str"))),

    "ts_route" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        concat(lit("events-"),
          date_format(col("ts"), "yyyyMMdd")).as("topic"))),

    "tombstone_split" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(when(col("value") < 20, lit("tombstone"))
          .when(col("event_type") === "error", lit("dlq"))
          .otherwise(lit("data")).as("klass"))
        .agg(count(lit(1)).as("n"))),

    "json_decode" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    "op_dispatch" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        when(col("event_type").isin("signup", "purchase"), lit("upsert"))
          .when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("noop")).as("op"),
        coalesce(nullif(col("event_type"), lit("view")),
          lit("masked")).as("routed"))),

    // ---- §2.3 joins -----------------------------------------------------
    "merge_join" -> ((s, d) => {
      val latest = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("last_value"))
      t(s, d, "customer").join(latest,
          col("c_custkey") === col("user_id"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("user_id")).as("key"),
          when(col("user_id").isNull, lit("unchanged"))
            .when(col("c_custkey").isNull, lit("insert"))
            .otherwise(lit("update")).as("action"),
          coalesce(col("last_value"), col("c_acctbal")).as("new_balance"))
    }),

    "broadcast_join" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sumMilli(col("l_extendedprice")).as("revenue_milli"),
          count(lit(1)).as("n"))),

    "semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    "anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "asof_latest" -> ((s, d) => {
      // as-of via one partitioned window over the unioned event stream —
      // LINEAR in events per key. The join form (equi-join on user_id with
      // s_ts <= ts, then max) materializes purchases×signups rows per user
      // before aggregating: per-key QUADRATIC under a Zipf-hot key.
      // last(signup_ts) ignore-nulls over (user, ts asc, signups-first at
      // ties) gives each purchase the max signup ts <= its own ts; the
      // inclusive tie (signup at the same ts counts) is encoded by sorting
      // is_signup desc within equal ts.
      val e = t(s, d, "events")
      val ev = e.filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("event_type") === "signup").as("is_signup"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("is_signup").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_signup_ts",
          last(when(col("is_signup"), col("ts")), ignoreNulls = true).over(w))
        .filter(!col("is_signup") && col("last_signup_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("last_signup_ts"))
    }),

    "range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq((0.0, 50.0), (50.0, 120.0), (120.0, 250.0),
        (250.0, 1000.0)).toDF("lo", "hi")
      t(s, d, "events")
        .join(bands, col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("lo")).agg(count(lit(1)).as("n"))
    }),

    // ---- §2.4 aggregations / windows / set ops --------------------------
    "dedup_latest" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_id"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("w"))
        .select(col("user_id"), col("w.event_id").as("last_event"),
          col("w.ts").as("last_ts"), col("w.value").as("last_value"))),

    "agg_metrics" -> ((s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumMilli(col("value")).as("total_milli"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))),

    "rollup_metrics" -> ((s, d) =>
      t(s, d, "events").rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumMilli(col("value")).as("total_milli"))),

    "distinct_urls" -> ((s, d) =>
      t(s, d, "documents").groupBy(col("lang"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"))),

    "approx_distinct" -> ((s, d) => // no oracle: HLL++ sketch values are
      // engine-specific; the error bound vs exact is asserted in
      // TrainingDataOpsSpec. At 10^10 urls this replaces the exact
      // countDistinct's full shuffle with a fixed-size mergeable sketch.
      t(s, d, "documents").groupBy(col("lang"))
        .agg(approx_count_distinct(col("source"), 0.02).as("approx_sources"),
          count(lit(1)).as("n_docs"))),

    "approx_distinct_check" -> ((s, d) =>
      // the DuckDB-checkable projection of approx_distinct: the sketch
      // estimate stays within a 5x-rsd tolerance of the exact distinct
      // count per group — if the HLL implementation drifted, within_tol
      // flips and the oracle hash breaks. (The exact countDistinct here is
      // a correctness gate at oracle scale, not the production plan.)
      t(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          (abs(approx_count_distinct(col("source"), 0.02).cast("double") -
            countDistinct(col("source")).cast("double")) <=
            lit(0.1) * countDistinct(col("source")).cast("double"))
            .as("within_tol"))),

    "tumbling_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"), sumMilli(col("value")).as("total_milli"))
        .select(col("w.start").as("w_start"), col("n"), col("total_milli"))),

    "sliding_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "7 days", "1 day").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))),

    "session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"))),

    "topk_domains" -> ((s, d) => {
      val counts = t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      // dense_rank() <= k  ⇔  n_docs is among the top-k DISTINCT counts.
      // An unpartitioned window would move EVERY (source, count) row into
      // one task (single-task sort at 10^8 domains); instead compute the k
      // distinct counts with a global top-k (TakeOrderedAndProject — per-
      // partition top-k merged at the driver), rank those k values driver-
      // side (control-plane read bounded by k), and broadcast the k-row
      // (count → rank) map back onto the distributed counts. Ties keep
      // dense_rank semantics exactly: every source at a top-k count joins.
      import s.implicits._
      val topCounts = counts.select(col("n_docs")).distinct()
        .orderBy(col("n_docs").desc).limit(5)
        .as[Long].collect().sortBy(-_)
      val ranks = topCounts.zipWithIndex
        .map { case (n, i) => (n, (i + 1).toLong) }.toSeq
        .toDF("n_docs_r", "rnk")
      counts.join(broadcast(ranks), col("n_docs") === col("n_docs_r"))
        .select(col("source"), col("n_docs"), col("rnk"))
    }),

    "offset_gaps" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_id") - col("prev") > 1, lit(1L))
          .otherwise(lit(0L))).as("n_gaps"),
          max(col("event_id") - col("prev")).as("max_step"))
    }),

    "sort_limit" -> ((s, d) =>
      t(s, d, "events").orderBy(col("value").desc, col("event_id").asc)
        .select(col("event_id"), col("value")).limit(20)),

    "except_diff" -> ((s, d) => {
      val e = t(s, d, "events")
      e.filter(col("event_type") === "signup").select(col("user_id")).distinct()
        .except(e.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct())
    }),

    "pivot_ops" -> ((s, d) =>
      t(s, d, "events").groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))),

    // ---- §2.5 scalar function families ----------------------------------
    "str_funcs" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars2"),
        upper(col("source")).as("src_up"),
        substring(col("text"), 1, 12).as("head"),
        split(col("text"), " ").getItem(0).as("first_tok"),
        levenshtein(split(col("text"), " ").getItem(0), lit("data"))
          .cast("long").as("lev"))),

    "date_funcs" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        date_trunc("month", col("ts")).as("month_start"),
        hour(col("ts")).cast("long").as("hr"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("days_since"))),

    "hash_bucket" -> ((s, d) => // no oracle: xxhash64 is Spark-specific
      t(s, d, "documents")
        .groupBy(pmod(xxhash64(col("text")), lit(32L)).as("bucket"))
        .agg(count(lit(1)).as("n"))),

    "hash_bucket_md5" -> ((s, d) =>
      // same bucketing plan with the engine-portable 60-bit md5 hash, so
      // the histogram is DuckDB-recomputable — gates the hash_bucket path
      t(s, d, "documents")
        .groupBy(pmod(DedupOps.portableHash(col("text")), lit(32L))
          .as("bucket"))
        .agg(count(lit(1)).as("n"))),

    "array_funcs" -> ((s, d) =>
      t(s, d, "embeddings").select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(aggregate(transform(slice(col("embedding"), 1, 8),
          x => x.cast("double")), lit(0.0), (acc, x) => acc + x), 5)
          .as("head_sum"),
        round(array_max(col("embedding")).cast("double"), 5).as("vmax"))),

    "map_funcs" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          map_from_arrays(array(lit("t"), lit("v")),
            array(col("event_type"), col("value").cast("string"))).as("m"))
        .select(col("event_id"),
          size(map_keys(col("m"))).cast("long").as("n_keys"),
          element_at(col("m"), "t").as("t_val"))),

    "json_funcs" -> ((s, d) =>
      t(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_long"),
        to_json(struct(col("user_id"), col("event_type"))).as("j"))),

    "bin_funcs" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        base64(substring(col("text"), 1, 6).cast("binary")).as("b64"))),

    // ---- training-data pipeline operators --------------------------------
    "dedup_exact" -> ((s, d) =>
      DedupOps.exactGroups(t(s, d, "documents"), "doc_id", "text")),

    "dedup_jaccard" -> ((s, d) =>
      DedupOps.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        "lang", 0.9)),

    "dedup_minhash" -> ((s, d) => // no oracle: xxhash64 minhash family
      // long bands (2×8): this corpus is intrinsically self-similar, so
      // short bands put half the corpus in every bucket; j^8 band-match
      // probability keeps candidate sets bucket-local
      DedupOps.minhashCandidates(t(s, d, "documents"), "doc_id", "text",
        bands = 2, rowsPerBand = 8, minEstimate = 0.9)),

    "dedup_minhash_md5" -> ((s, d) =>
      // SAME minhash+LSH pipeline with the portable hash family: DuckDB
      // re-derives signatures, bands, candidates and estimates from
      // scratch and must land on the bit-identical pair set (est values
      // are k=16ths — exact in binary, no rounding risk). k INDEPENDENT
      // salted md5s, not Carter-Wegman double hashing: h1 + i·h2 was
      // measured to band-collide 4x more (134,758 vs 33,058 candidate
      // pairs at sf0.001) — the candidate JOIN, not the hashing,
      // dominates, so the correlated family ran 4x slower end-to-end.
      DedupOps.minhashCandidates(t(s, d, "documents"), "doc_id", "text",
        bands = 2, rowsPerBand = 8, minEstimate = 0.9,
        hashFn = DedupOps.portableHash)),

    "dedup_simhash" -> ((s, d) => // no oracle: xxhash64 simhash
      DedupOps.simhashPairs(t(s, d, "documents"), "doc_id", "text", "lang", 4)),

    "dedup_simhash_md5" -> ((s, d) =>
      // portable-hash simhash: the DuckDB oracle recomputes the 60-bit
      // vote vector and Hamming pairs NAIVELY (per-lang quadratic, fine at
      // oracle scale) — so this also cross-engine-proves the pigeonhole
      // banding lossless, independently of the sbt equivalence spec
      DedupOps.simhashPairs(t(s, d, "documents"), "doc_id", "text", "lang", 4,
        hashFn = DedupOps.portableHash)
        .withColumn("hamming", col("hamming").cast("long"))),

    "dedup_embedding" -> ((s, d) =>
      // exact all-pairs at/below exactLimit rows (the DuckDB-mirrorable
      // oracle path, taken at the sf0.01 gate); above it, hyperplane-LSH
      // bucketed candidates scored exactly inside the bucket (the scale
      // path — taken at sf0.1+ and at 10^10 rows).
      // Cross-engine parity note (ADVICE r1): the cosine op order here is
      // dot/(‖a‖·‖b‖) with left-fold sums, which DuckDB's
      // list_cosine_similarity matches bit-for-bit on this deterministic
      // dataset (verified at sf0.001 + sf0.01 by the strict local gate,
      // which compares unrounded doubles exactly and would flag a
      // round(.,4)/threshold boundary flip before the driver sees it).
      // The formula is therefore FROZEN — hand-rolling the oracle's fold
      // instead would itself risk introducing op-order skew.
      DedupOps.embeddingPairs(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, exactLimit = 1000L)),

    "dedup_groups" -> ((s, d) =>
      // near-dup group resolution: connected components over the exact
      // Jaccard pair set → one canonical doc per transitive cluster
      DedupOps.connectedComponents(
        DedupOps.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          "lang", 0.9), "a_id", "b_id")),

    "ann_cosine" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("id") < 5, 3).withColumn("rank", col("rank").cast("long"))),

    "ann_lsh" -> ((s, d) => // no oracle: LSH buckets are engine-defined
      Similarity.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("id") < 5, 3, nPlanes = 3, nTables = 6)
        .withColumn("rank", col("rank").cast("long"))),

    "ann_lsh_check" -> ((s, d) => {
      // derived oracle for the LSH family: the per-(table, bucket)
      // histogram of the multi-table sign-bit assignment. The DuckDB SQL
      // is GENERATED from the same hyperplanes() constants (see
      // annLshCheckOracle), so the two engines recompute identical dot
      // signs — a cross-engine proof the bucketing itself (not just
      // recall) is what it claims
      val base = t(s, d, "embeddings")
        .select(Similarity.toDouble(col("embedding")).as("v"))
      val buckets = (0 until 4).map { tb =>
        val planes = Similarity.hyperplanes(42L + 7919L * tb, 4, 64)
        struct(lit(tb).as("t"), Similarity.lshBucket(col("v"), planes).as("h"))
      }
      base.withColumn("b", explode(array(buckets: _*)))
        .groupBy(col("b.t").as("t"), col("b.h").as("h"))
        .agg(count(lit(1)).as("n"))
    }),

    "lang_id" -> ((s, d) =>
      // tokens through a Generate barrier: the four marker counts would
      // otherwise each inline their own split — 4 tokenizations per row
      // (values identical; the DuckDB oracle tokenizes independently)
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(array(split(lower(col("text")), " "))).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.langIdFromTokens(col("__toks")).as("lang_guess"))),

    "quality_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))),

    "token_count" -> ((s, d) =>
      t(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("sum_tokens"),
          sum(TextAnalysis.tokenCountBpeish(col("text")).cast("long"))
            .as("sum_bpeish"))),

    "doc_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    "rep_ratio" -> ((s, d) =>
      // Gopher/RefinedWeb-style repetition signal: duplicate-bigram
      // fraction per document (0 = no repeats). Tokens AND grams each
      // ride a Generate barrier: interpreted array expressions get no
      // CSE, so the projected gram array was re-built once per reference
      // (3x in the ratio) and the split once per gram-expr reference.
      // Same values as TextAnalysis.repetitionRatio(text).
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(array(split(col("text"), " "))).as("__toks"))
        .select(col("doc_id"), size(col("__toks")).as("__n"),
          explode(array(TextAnalysis.bigramsFromToks(col("__toks"))))
            .as("__g"))
        .select(col("doc_id"),
          when(col("__n") < 2, lit(0.0))
            .otherwise(TextAnalysis.repetitionRatioFromGrams(col("__g")))
            .as("rep_ratio"))),

    "dedup_passages" -> ((s, d) =>
      // CCNet/C4-style cross-document duplicated-passage removal (the
      // fixture corpus has no line structure, so the passage unit is a
      // fixed 8-token chunk; the '\n'-separated form is spec-tested):
      // chunks duplicated across the corpus drop, the rest rebuild in
      // order, empty-after-dedup docs survive with empty text
      DedupOps.dedupPassages(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 8, minDupCount = 2)),

    "decontaminate" -> ((s, d) => {
      // benchmark decontamination (C4/GPT-3 13-gram rule): eval set = a
      // deterministic slice of the corpus (every 37th doc — planted
      // contamination by construction), flag every document sharing a
      // 13-token n-gram with it; gram containment travels as broadcast
      // portable-hash values so the DuckDB oracle recomputes bit-exactly
      val docs = t(s, d, "documents")
      DedupOps.decontaminate(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 37 === 0), "text", n = 13,
        hashFn = DedupOps.portableHash)
    }),

    "split_assign" -> ((s, d) =>
      // deterministic train/valid/test membership by stable id: a pure
      // codegen projection (no shuffle/state), reproducible across runs,
      // reprocessing and engines — integer lanes of the portable 60-bit
      // md5 hash, so the DuckDB oracle recomputes membership bit-exactly
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.Sampling.splitColumn(col("doc_id")).as("split"))),

    "sample_exact" -> ((s, d) =>
      // deterministic 10% subset by id (stable across runs — the right
      // tool for a fixed eval carve-out of a moving corpus, where
      // TABLESAMPLE/df.sample membership drifts)
      graft.functions.Sampling.deterministicSample(
        t(s, d, "documents"), col("doc_id"), 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    "multimodal_meta" -> ((s, d) => {
      // the REAL decode path, fully oracled: deterministic P6 PPM
      // payloads built per doc id, then parsed BACK by the from-scratch
      // PPM decoder (magic + header + pixel checksum) in mapPartitions
      // batches — every output field is recomputable arithmetically by
      // DuckDB from the id, so a decoder bug (dims, header length,
      // checksum) breaks the hash
      import s.implicits._
      val ids = t(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
      Multimodal.decodeMeta(ids.map(id => (id, Multimodal.syntheticPpm(id))))
        .toDF()
    }),

    "multimodal_bytes" -> ((s, d) =>
      // the DuckDB-checkable projection of the multimodal path: same real
      // plumbing (binary column, mapPartitions decode batches), restricted
      // to the columns an external engine can recompute (byte length) — so
      // the multimodal key is gated, not sbt-only
      Multimodal.extractMeta(
        t(s, d, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "doc_id", "payload")
        .select(col("media_id"), col("n_bytes"))),

    "sql_merge" -> ((s, d) => {
      // the SQL MERGE INTO surface (operators/SqlMerge), oracle-checked:
      // build an icelite table from even custkeys, MERGE a source of
      // every-3rd custkey (conditional delete + update + insert), return
      // the final table state; the DuckDB oracle recomputes the same
      // semantics as join dataflow. Doubles stay bit-identical: *2 is
      // exact, no cross-engine rounding enters.
      val (tbl, dir) = sqlDmlFixture(s, d)
      t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), (col("c_acctbal") * 2).as("nb"))
        .createOrReplaceTempView("sql_merge_src")
      s.sql(s"""
        MERGE INTO $tbl tg USING sql_merge_src sr ON tg.c_custkey = sr.k
        WHEN MATCHED AND sr.nb > 9000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET tg.c_acctbal = sr.nb
        WHEN NOT MATCHED THEN
          INSERT (c_custkey, c_name, c_acctbal) VALUES (sr.k, 'merged', sr.nb)
      """)
      val out = graft.icelite.IceLite.read(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    "sql_update" -> ((s, d) => {
      // SQL UPDATE surface: conditional set over an icelite table built
      // from customer; the oracle recomputes the CASE projection
      val (tbl, dir) = sqlDmlFixture(s, d)
      s.sql(s"""UPDATE $tbl SET c_acctbal = c_acctbal * 3, c_name = 'upd'
                WHERE c_acctbal < 0 AND c_custkey % 5 = 0""")
      val out = graft.icelite.IceLite.read(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    "sql_delete" -> ((s, d) => {
      // SQL DELETE surface: predicate delete; the oracle is the inverted
      // WHERE over the same base set
      val (tbl, dir) = sqlDmlFixture(s, d)
      s.sql(s"DELETE FROM $tbl WHERE c_acctbal > 5000 OR c_custkey % 7 = 0")
      val out = graft.icelite.IceLite.read(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      s.sql(s"DROP TABLE $tbl")
      out
    }))

  /** Shared fixture for the SQL DML keys: an icelite table of the even
    * custkeys, registered in the session catalog under a unique name.
    */
  private def sqlDmlFixture(s: SparkSession, d: String): (String, String) = {
    val cust = t(s, d, "customer")
    val dir = fixtureDir("graft_sql_dml")
    val tgt = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    graft.icelite.IceLite.create(dir, tgt.schema, numBuckets = 4)
    tgt.write.format("icelite").option("epoch", "init.1")
      .mode("append").save(dir)
    val tbl = s"sql_dml_tgt_${System.nanoTime()}"
    s.sql(s"CREATE TABLE $tbl USING icelite OPTIONS (path '$dir')")
    (tbl, dir)
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — same table names (driver registers each
  // <sfDir>/<name>.parquet as a view), same column names, same types.
  // ------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "scan_ledger" ->
      """SELECT event_id, ts, user_id, event_type, value
         FROM events WHERE event_type <> 'error'""",

    "scan_table" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",

    "dlq_split" ->
      """SELECT event_id, CASE WHEN event_type = 'error' THEN 'dlq'
           WHEN value IS NULL THEN 'tombstone' ELSE 'ok' END AS route
         FROM events""",

    "cast_types" ->
      """SELECT event_id, CAST(event_id AS VARCHAR) AS id_str,
           CAST(user_id AS DOUBLE) AS uid_d, CAST(ts AS DATE) AS day
         FROM events""",

    "project_fields" ->
      "SELECT event_id, user_id, event_type FROM events",

    "filter_pred" ->
      """SELECT event_id, value FROM events
         WHERE value BETWEEN 50 AND 150 AND event_type <> 'error'""",

    "flatten_struct" ->
      """SELECT event_id, user_id AS k_user_id, event_type AS k_event_type
         FROM events""",

    "insert_field" ->
      """SELECT event_id, user_id % 4 AS src_partition,
           CAST(ts AS DATE) AS ingest_day FROM events""",

    "map_ops" ->
      """SELECT event_id, event_type AS type_val,
           CAST(user_id AS VARCHAR) AS uid_val FROM events""",

    "mask_field" ->
      """SELECT event_id, regexp_replace(props, '[0-9]', '*', 'g')
           AS props_masked FROM events""",

    "regex_route" ->
      """SELECT event_id, 'evt-' || regexp_extract(event_type, '^(..)', 1)
           AS route FROM events""",

    "rename_drop" ->
      "SELECT event_id AS id, value AS amount FROM events",

    "ts_convert" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           strftime(ts, '%Y-%m-%d %H') AS hour_str FROM events""",

    "ts_route" ->
      """SELECT event_id, 'events-' || strftime(ts, '%Y%m%d') AS topic
         FROM events""",

    "tombstone_split" ->
      """SELECT CASE WHEN value < 20 THEN 'tombstone'
           WHEN event_type = 'error' THEN 'dlq' ELSE 'data' END AS klass,
           count(*) AS n
         FROM events GROUP BY 1""",

    "json_decode" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events""",

    "op_dispatch" ->
      """SELECT event_id,
           CASE WHEN event_type IN ('signup','purchase') THEN 'upsert'
             WHEN event_type = 'error' THEN 'delete' ELSE 'noop' END AS op,
           COALESCE(nullif(event_type, 'view'), 'masked') AS routed
         FROM events""",

    "merge_join" ->
      """WITH latest AS (
           SELECT user_id, value AS last_value FROM (
             SELECT user_id, value, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1)
         SELECT COALESCE(c.c_custkey, l.user_id) AS key,
           CASE WHEN l.user_id IS NULL THEN 'unchanged'
             WHEN c.c_custkey IS NULL THEN 'insert'
             ELSE 'update' END AS action,
           COALESCE(l.last_value, c.c_acctbal) AS new_balance
         FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.user_id""",

    "broadcast_join" ->
      """SELECT p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3))) * 1000 AS BIGINT)
             AS revenue_milli,
           count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",

    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)""",

    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",

    "asof_latest" ->
      """SELECT p.event_id, p.user_id, max(s.ts) AS last_signup_ts
         FROM events p
         JOIN events s ON s.user_id = p.user_id
           AND s.event_type = 'signup' AND s.ts <= p.ts
         WHERE p.event_type = 'purchase'
         GROUP BY p.event_id, p.user_id""",

    "range_join" ->
      """SELECT CAST(b.lo AS DOUBLE) AS lo, count(*) AS n
         FROM events e
         JOIN (VALUES (0.0, 50.0), (50.0, 120.0), (120.0, 250.0),
           (250.0, 1000.0)) b(lo, hi)
           ON e.value >= b.lo AND e.value < b.hi
         GROUP BY b.lo""",

    "dedup_latest" ->
      """SELECT user_id, event_id AS last_event, ts AS last_ts,
           value AS last_value
         FROM (SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""",

    "agg_metrics" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,3))) * 1000 AS BIGINT)
             AS total_milli,
           min(event_id) AS min_id, max(event_id) AS max_id
         FROM events GROUP BY event_type""",

    "rollup_metrics" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,3))) * 1000 AS BIGINT)
             AS total_milli
         FROM events GROUP BY ROLLUP(event_type)""",

    "distinct_urls" ->
      """SELECT lang, count(DISTINCT source) AS n_sources,
           count(*) AS n_docs
         FROM documents GROUP BY lang""",

    "approx_distinct_check" ->
      """SELECT lang, count(*) AS n_docs, TRUE AS within_tol
         FROM documents GROUP BY lang""",

    "hash_bucket_md5" ->
      """SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT % 32 AS bucket,
           count(*) AS n
         FROM documents GROUP BY 1""",

    "dedup_minhash_md5" ->
      // full from-scratch re-derivation of the minhash+LSH pipeline on the
      // portable 60-bit md5 hash family: signatures → 2 bands of 8 →
      // band-equality candidates → matching-fraction estimate ≥ 0.9.
      // est values are sixteenths (exact doubles), so the hash compare is
      // safe; band keys compare as raw strings here vs xxhash64 of the
      // same strings in Spark — identical equality classes
      """WITH t AS (SELECT doc_id,
             list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
         sig AS (
           SELECT doc_id, s.i AS i,
             min(('0x' || substr(md5(s.i::VARCHAR || ':' || u.tok), 1, 15))
               ::BIGINT) AS mh
           FROM t, unnest(toks) AS u(tok), generate_series(0, 15) s(i)
           GROUP BY doc_id, s.i),
         bands AS (
           SELECT doc_id, i // 8 AS band,
             string_agg(mh::VARCHAR, '|' ORDER BY i) AS bkey
           FROM sig GROUP BY doc_id, i // 8),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         est AS (
           SELECT c.a_id, c.b_id,
             CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / 16.0 AS est
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.a_id
           JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
           GROUP BY c.a_id, c.b_id)
         SELECT a_id, b_id, round(est, 4) AS est_jaccard
         FROM est WHERE est >= 0.9""",

    "dedup_simhash_md5" ->
      // independent naive re-derivation: 60-bit vote-vector simhash per
      // doc, then per-lang QUADRATIC Hamming pairs (fine at oracle scale)
      // — cross-engine-proves the Spark side's pigeonhole banding lossless
      """WITH tok AS (SELECT doc_id, lang,
             unnest(list_distinct(string_split(text, ' '))) AS t
           FROM documents),
         th AS (SELECT doc_id, lang,
             ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
         bits AS (SELECT doc_id, lang, s.b AS b,
             sum(CASE WHEN (h >> s.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th, generate_series(0, 59) s(b)
           GROUP BY doc_id, lang, s.b),
         sh AS (SELECT doc_id, lang,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)
               AS BIGINT) AS sh
           FROM bits GROUP BY doc_id, lang)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 4""",

    "tumbling_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,3))) * 1000 AS BIGINT)
             AS total_milli
         FROM events GROUP BY 1""",

    "sliding_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
             - k * INTERVAL '1 day' AS w_start,
           count(*) AS n
         FROM events, (SELECT unnest([0,1,2,3,4,5,6]) AS k)
         GROUP BY 1""",

    "session_window" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL '1 hour'
               THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         i AS (
           SELECT user_id, ts, sum(new_s) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM s)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events
         FROM i GROUP BY user_id, sid""",

    "topk_domains" ->
      """SELECT source, n_docs, rnk FROM (
           SELECT source, count(*) AS n_docs,
             dense_rank() OVER (ORDER BY count(*) DESC) AS rnk
           FROM documents GROUP BY source)
         WHERE rnk <= 5""",

    "offset_gaps" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_id - prev > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_gaps,
           max(event_id - prev) AS max_step
         FROM (SELECT user_id, event_id, lag(event_id) OVER (
             PARTITION BY user_id ORDER BY event_id) AS prev
           FROM events)
         GROUP BY user_id""",

    "sort_limit" ->
      """SELECT event_id, value FROM events
         ORDER BY value DESC, event_id LIMIT 20""",

    "except_diff" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
         EXCEPT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""",

    "pivot_ops" ->
      """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id""",

    "str_funcs" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2,
           upper(source) AS src_up, substr(text, 1, 12) AS head,
           string_split(text, ' ')[1] AS first_tok,
           CAST(levenshtein(string_split(text, ' ')[1], 'data') AS BIGINT)
             AS lev
         FROM documents""",

    "date_funcs" ->
      """SELECT event_id,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
             AS BIGINT) AS days_since
         FROM events""",

    "array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           round(list_sum(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE))), 5) AS head_sum,
           round(CAST(list_max(embedding) AS DOUBLE), 5) AS vmax
         FROM embeddings""",

    "map_funcs" ->
      """SELECT event_id, CAST(2 AS BIGINT) AS n_keys,
           event_type AS t_val FROM events""",

    "json_funcs" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           '{"user_id":' || user_id || ',"event_type":"' || event_type ||
             '"}' AS j
         FROM events""",

    "bin_funcs" ->
      """SELECT doc_id, md5(text) AS h,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           to_base64(CAST(substr(text, 1, 6) AS BLOB)) AS b64
         FROM documents""",

    "dedup_exact" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
           count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1""",

    "dedup_jaccard" ->
      """WITH t AS (SELECT doc_id, lang,
             list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
               CAST(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 4)
               AS jaccard
           FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.9""",

    "dedup_groups" ->
      // same exact pair set as dedup_jaccard, then connected components as
      // a recursive reachability closure (fine at oracle scale; the Spark
      // side uses iterative min-label propagation instead)
      """WITH RECURSIVE t AS (SELECT doc_id, lang,
             list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
               CAST(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 4)
               AS jaccard
           FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id),
         e AS (SELECT a_id AS x, b_id AS y FROM p WHERE jaccard >= 0.9
               UNION SELECT b_id, a_id FROM p WHERE jaccard >= 0.9),
         reach(id, lbl) AS (
           SELECT x, x FROM e
           UNION
           SELECT e.x, r.lbl FROM e JOIN reach r ON e.y = r.id)
         SELECT id AS doc_id, min(lbl) AS canonical_id
         FROM reach GROUP BY id""",

    "multimodal_bytes" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(strlen(text) AS INTEGER) AS n_bytes
         FROM documents""",

    "multimodal_meta" ->
      // rederives the synthetic-PPM metadata arithmetically: dims and
      // pixel value are functions of the id, the header is
      // 'P6\n<w> <h>\n255\n', checksum = sum of w*h*3 constant pixel bytes
      """WITH p AS (SELECT doc_id, 1 + doc_id % 31 AS w,
             1 + doc_id % 13 AS h, doc_id % 256 AS v
           FROM documents)
         SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(strlen('P6' || chr(10) || CAST(w AS VARCHAR) || ' ' ||
               CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))
             + w * h * 3 AS INTEGER) AS n_bytes,
           'ppm' AS format,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(w * h * 3 * v AS BIGINT) AS checksum
         FROM p""",

    "sql_merge" ->
      // MERGE semantics re-derived as join dataflow: matched rows take
      // the first firing clause (delete if nb>9000, else update),
      // unmatched targets survive, unmatched sources insert
      """WITH tg AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                     WHERE c_custkey % 2 = 0),
            sr AS (SELECT c_custkey AS k, c_acctbal * 2 AS nb FROM customer
                   WHERE c_custkey % 3 = 0)
         SELECT tg.c_custkey AS custkey, tg.c_name AS name,
                CASE WHEN sr.k IS NOT NULL THEN sr.nb
                     ELSE tg.c_acctbal END AS bal
         FROM tg LEFT JOIN sr ON tg.c_custkey = sr.k
         WHERE sr.k IS NULL OR sr.nb <= 9000
         UNION ALL
         SELECT sr.k AS custkey, 'merged' AS name, sr.nb AS bal
         FROM sr LEFT JOIN tg ON sr.k = tg.c_custkey
         WHERE tg.c_custkey IS NULL""",

    "ann_lsh_check" -> annLshCheckOracle,

    "sql_update" ->
      """SELECT c_custkey AS custkey,
                CASE WHEN c_acctbal < 0 AND c_custkey % 5 = 0
                     THEN 'upd' ELSE c_name END AS name,
                CASE WHEN c_acctbal < 0 AND c_custkey % 5 = 0
                     THEN c_acctbal * 3 ELSE c_acctbal END AS bal
         FROM customer WHERE c_custkey % 2 = 0""",

    "sql_delete" ->
      """SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS bal
         FROM customer
         WHERE c_custkey % 2 = 0
           AND NOT (c_acctbal > 5000 OR c_custkey % 7 = 0)""",

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
         SELECT a_id, b_id, cos FROM (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(a.v, b.v), 4) AS cos
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         WHERE cos >= 0.4""",

    "ann_cosine" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             round(list_cosine_similarity(q.v, n.v), 4) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id)
               AS rank
           FROM e q JOIN e n ON n.vec_id <> q.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank
         FROM scored WHERE rank <= 3""",

    "lang_id" ->
      """SELECT doc_id, CASE
           WHEN greatest(en, de, fr, es) = 0 THEN 'und'
           WHEN en = greatest(en, de, fr, es) THEN 'en'
           WHEN de = greatest(en, de, fr, es) THEN 'de'
           WHEN fr = greatest(en, de, fr, es) THEN 'fr'
           ELSE 'es' END AS lang_guess
         FROM (SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('the','and','of','to','a','in','is','that'))) AS en,
             len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
             len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('le','la','les','et','est','un','une','dans'))) AS fr,
             len(list_filter(string_split(lower(text), ' '),
               t -> t IN ('el','la','los','y','es','un','una','que'))) AS es
           FROM documents)""",

    "quality_score" ->
      """SELECT doc_id,
           CAST(0.4 AS DOUBLE)
             * least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE),
               CAST(1.0 AS DOUBLE))
           + CAST(0.3 AS DOUBLE)
             * (CAST(len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','and','of','to','a','in','is','that')))
                 AS DOUBLE)
               / greatest(CAST(len(string_split(lower(text), ' ')) AS DOUBLE),
                 CAST(1.0 AS DOUBLE)))
           + CAST(0.3 AS DOUBLE)
             * (CAST(len(list_distinct(string_split(lower(text), ' ')))
                 AS DOUBLE)
               / greatest(CAST(len(string_split(lower(text), ' ')) AS DOUBLE),
                 CAST(1.0 AS DOUBLE))) AS score
         FROM documents""",

    "token_count" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(sum(len(string_split_regex(text, '[\s.,;:!?]+'))) AS BIGINT)
             AS sum_bpeish
         FROM documents GROUP BY lang""",

    "doc_fingerprint" ->
      """SELECT doc_id,
           md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
         FROM documents""",

    "rep_ratio" ->
      """SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 2
             THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
               / CAST(len(g) AS DOUBLE) END AS rep_ratio
         FROM (SELECT doc_id, text,
             list_transform(range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                 || string_split(text, ' ')[i + 1]) AS g
           FROM documents)""",

    "dedup_passages" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents),
         c AS (SELECT doc_id, u.j AS pos,
                 array_to_string(
                   list_slice(toks, 8 * u.j + 1, 8 * u.j + 8), ' ') AS chunk
               FROM d,
                 unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) u(j)),
         freq AS (SELECT chunk FROM c GROUP BY chunk HAVING count(*) >= 2),
         kept AS (SELECT * FROM c
                  WHERE chunk NOT IN (SELECT chunk FROM freq)),
         r AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos)
                 AS text_kept
               FROM kept GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.text_kept, '') AS text_kept
         FROM d LEFT JOIN r USING (doc_id)""",

    "decontaminate" ->
      // same 13-token-gram + portable-hash containment, rederived: grams
      // via list_slice windows (short docs contribute their full token
      // sequence, mirroring shinglesFromToks' short-doc clamp; corpus
      // docs also emit m-token windows for each distinct short-eval
      // length — the lens CTE, mirroring decontaminate's evalLens),
      // hashed with the md5-prefix portable hash, eval = doc_id % 37 = 0
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
             FROM documents),
         lens AS (SELECT DISTINCT len(t) AS m FROM d
             WHERE doc_id % 37 = 0 AND len(t) >= 1 AND len(t) < 13),
         ng AS (SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(t) - 12, 1) + 1),
                 i -> array_to_string(list_slice(t, i, i + 12), ' '))) AS g
             FROM d),
         mg AS (SELECT doc_id,
                 array_to_string(list_slice(t, u.i, u.i + m - 1), ' ') AS g
             FROM d JOIN lens ON len(t) >= m,
                  unnest(range(1, len(t) - m + 2)) u(i)),
         dg AS (SELECT DISTINCT doc_id,
               ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
             FROM (SELECT * FROM ng UNION ALL SELECT * FROM mg)),
         eh AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
             FROM ng WHERE doc_id % 37 = 0),
         hits AS (SELECT doc_id, count(*) AS n_hits FROM dg
             WHERE h IN (SELECT h FROM eh) GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END
             AS INTEGER) AS contaminated
         FROM d LEFT JOIN hits h USING (doc_id)""",

    "split_assign" ->
      """SELECT doc_id, CASE
           WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT
             % 100 < 80 THEN 'train'
           WHEN ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT
             % 100 < 90 THEN 'valid'
           ELSE 'test' END AS split
         FROM documents""",

    "sample_exact" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE ('0x' || substr(md5(doc_id || ':sample'), 1, 15))::BIGINT
           % 100 < 10""",

    "ann_lsh" -> annLshTopkOracle)

  /** DuckDB side of `ann_lsh` (the ranked top-k itself, closing the last
    * rows-only key): the full multi-table LSH pipeline re-derived from
    * scratch — per-table sign-bit buckets from the SAME
    * `Similarity.hyperplanes(42 + 7919·t, 3, 64)` literals the Spark plan
    * folds in, DISTINCT same-(table,bucket) candidate pairs, exact cosine
    * scoring and per-query ranking. Cross-engine bit-parity leans on the
    * two proven pieces: sign(dot) agreement (ann_lsh_check) and
    * cosine-at-round(4) + unrounded ORDER BY with id tie-break
    * (ann_cosine).
    */
  private lazy val annLshTopkOracle: String = {
    val tables = (0 until 6).map { tb =>
      val planes = graft.functions.Similarity.hyperplanes(
        42L + 7919L * tb, 3, 64)
      val h = planes.zipWithIndex.map { case (p, i) =>
        val arr = p.map(java.lang.Double.toString)
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 " +
          s"THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, v, $tb AS t, CAST($h AS BIGINT) AS h FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        b AS (
        $tables
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
          FROM b q JOIN b n ON q.t = n.t AND q.h = n.h
            AND n.vec_id <> q.vec_id
          WHERE q.vec_id < 5),
        scored AS (
          SELECT c.q_id, c.n_id,
            round(list_cosine_similarity(eq.v, en.v), 4) AS cos,
            row_number() OVER (PARTITION BY c.q_id
              ORDER BY list_cosine_similarity(eq.v, en.v) DESC, c.n_id)
              AS rank
          FROM cand c
          JOIN e eq ON eq.vec_id = c.q_id
          JOIN e en ON en.vec_id = c.n_id)
        SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank
        FROM scored WHERE rank <= 3"""
  }

  /** DuckDB side of `ann_lsh_check`, GENERATED from the same
    * `Similarity.hyperplanes` constants the Spark side uses — the plane
    * values are embedded as 16 × 64 double literals
    * (`Double.toString` round-trips exactly), so both engines compute
    * `sign(dot(v, plane))` from bit-identical inputs. Sum order matches
    * too: Spark's `aggregate(zip_with(·,·,*), 0.0, +)` is a sequential
    * left fold, as is DuckDB's `list_dot_product`.
    */
  private lazy val annLshCheckOracle: String = {
    val tables = (0 until 4).map { tb =>
      val planes = graft.functions.Similarity.hyperplanes(
        42L + 7919L * tb, 4, 64)
      val h = planes.zipWithIndex.map { case (p, i) =>
        val arr = p.map(java.lang.Double.toString)
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 " +
          s"THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT $tb AS t, CAST($h AS BIGINT) AS h FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
        SELECT t, h, count(*) AS n FROM (
        $tables
        ) GROUP BY t, h"""
  }
}
