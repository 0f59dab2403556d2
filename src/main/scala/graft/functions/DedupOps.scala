package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine, and near-dup
  * group resolution (connected components).
  *
  * Scale design: every variant is expressed so the expensive pairwise step
  * only ever runs inside a CANDIDATE set bounded by blocking/banding, and —
  * for the exact operators — the candidate generation is LOSSLESS, so the
  * result set is provably identical to the naive quadratic form:
  *
  *  - exact dedup: one hash aggregation (partial/final, map-side combined)
  *  - token-set Jaccard: AllPairs/PPJoin-style prefix filtering — a pair at
  *    J ≥ t must share a token in the first |x| − ⌈t·|x|⌉ + 1 elements of a
  *    canonical token ordering, so candidates come from an equi-join on
  *    (lang, prefix token). Exact at every scale (no approximation).
  *  - MinHash: LSH band buckets — pairs only form inside (band, band_hash)
  *  - SimHash Hamming ≤ d: pigeonhole banding — the 64 bits split into d+1
  *    chunks; a qualifying pair has ≥ 1 identical chunk, so candidates come
  *    from an equi-join on (lang, chunk index, chunk value). Exact.
  *  - embedding cosine: norms precomputed per ROW (never per pair); above a
  *    size guard, candidates come from multi-table hyperplane LSH buckets
  *    (approximate recall, exact scores), below it the all-pairs form is
  *    exact for the oracle path.
  *
  * Nothing here is O(n²) over the corpus at 100 TB.
  */
object DedupOps {

  /** Scale-adaptive parallelism for CPU-heavy per-row work (guide §2
    * "derive partitioning from input size, not a constant"): an input
    * small enough that the file scan yields a SINGLE split (≤
    * `spark.sql.files.maxPartitionBytes`) runs every downstream
    * tokenize/fingerprint map on ONE core — measured as the dominant
    * stage of every dedup operator at bench scale (e.g. the jaccard
    * candidate join's whole 5.9M-row map ran as one 1.3 s task). Such
    * inputs are repartitioned to the session's core count
    * (`defaultParallelism` — the cluster's total cores, never a local
    * constant); the shuffle moved is ≤ one split by the gate. Anything
    * with parallel splits already is returned UNTOUCHED, so no corpus
    * bytes ever reshuffle at real scale. Row-level results are
    * partitioning-independent throughout this module (hash/min/sum
    * aggregations and key joins), so outputs are unchanged.
    */
  private[graft] def parallelizeSmall(df: DataFrame): (DataFrame, Boolean) = {
    val spark = df.sparkSession
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.filesMaxPartitionBytes
    if (small) (df.repartition(spark.sparkContext.defaultParallelism), true)
    else (df, false)
  }

  /** Exact duplicate groups by normalized-text fingerprint: one row per
    * group with its size and the kept (minimum) doc id. A single hash
    * aggregation — partial/final, map-side combined.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // no parallelizeSmall here: one codegen md5 per row is cheaper than
    // the spread's extra exchange (paired A/B measured +0.2 s)
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Distinct whitespace-token set. */
  def tokenSet(text: Column): Column = array_distinct(split(text, " "))

  /** 60-bit ENGINE-PORTABLE hash: the first 15 hex chars of md5, read as a
    * long. Strictly slower than xxhash64 (the default family everywhere),
    * but computable bit-identically in DuckDB —
    * `('0x' || substr(md5(t), 1, 15))::BIGINT` — so the hash-dependent
    * operators (minhash, simhash, hash bucketing) gain full cross-engine
    * oracles via `*_md5` query variants that exercise the SAME code paths
    * with this family swapped in.
    */
  def portableHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Near-duplicate pairs by token-set Jaccard — EXACT result set via
    * AllPairs prefix filtering (Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07; public algorithm):
    *
    * Order each token set canonically (here by (xxhash64(token), token) — a
    * deterministic pseudo-random total order, so corpus-frequent tokens do
    * NOT concentrate in prefixes). If J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|x|⌉ for each side, and two ordered sets
    * with overlap ≥ α must share an element among their first |x| − α + 1
    * elements. So candidates = equi-join on (lang, prefix token) with
    * prefix length |x| − ⌈t·|x|⌉ + 1 (≈ (1−t)·|x| + 1 — at t=0.9 only ~10%
    * of tokens fan out). The lossless size filter (min ≥ t·max) prunes
    * before dedup; exact Jaccard verifies inside the candidate set, with
    * token sets re-joined BY ID so the wide arrays never ride through the
    * prefix explode's shuffle.
    *
    * No per-block quadratic step remains: cost is bounded by per-prefix-token
    * document frequency, which the random ordering keeps near-uniform.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0)
    val (src, small) = parallelizeSmall(docs.select(col(idCol).as("id"),
      col(langCol).as("lang"), col(textCol).as("__text")))
    val toks = src.select(col("id"), col("lang"),
      tokenSet(col("__text")).as("toks"))
      .withColumn("sz", size(col("toks")))
    // prefix of the canonical ordering; struct sort = (hash, token) order
    val prefLen = (col("sz") - ceil(col("sz") * lit(threshold)) + lit(1))
      .cast("int")
    // prefix rows materialized ONCE: bounded by (1−t)·|toks| per doc
    // (~10% of corpus tokens at t=0.9, short fixed-width rows — a §8
    // decision table). The candidate self-join's two sides otherwise
    // each redo the tokenize + per-doc struct sort (before-plan: the
    // scan→sort→explode subtree appears on both sides).
    val pe = toks.select(col("id"), col("lang"), col("sz"),
      explode(slice(
        array_sort(transform(col("toks"),
          t => struct(xxhash64(t).as("h"), t.as("tok")))),
        lit(1), prefLen)).as("p"))
      .select(col("id"), col("lang"), col("sz"), col("p.tok").as("ptok"))
      .localCheckpoint()
    val candRaw = pe
      .select(col("lang"), col("ptok"), col("id").as("a_id"),
        col("sz").as("a_sz"))
      .join(pe.select(col("lang"), col("ptok"), col("id").as("b_id"),
        col("sz").as("b_sz")), Seq("lang", "ptok"))
      .filter(col("a_id") < col("b_id"))
      // lossless size guard: J ≥ t ⟹ min ≥ t·max
      .filter(least(col("a_sz"), col("b_sz")).cast("double") >=
        lit(threshold) * greatest(col("a_sz"), col("b_sz")).cast("double"))
      .select(col("a_id"), col("b_id"))
    // Small inputs: pin the dedup+verify stage to the core count. AQE
    // coalesces this shuffle by BYTE size, but its per-row cost is the
    // interpreted array_intersect — the candidate set is ~16 B/pair yet
    // CPU-dominant (measured: the verify stage ran on 6 of 32 cores).
    // The explicit repartition carries the aggregation's exact clustering
    // (no extra exchange) and only replaces AQE's decision when the gate
    // said the whole input is one split; at scale AQE keeps control.
    val cand = (if (small) candRaw.repartition(
        docs.sparkSession.sparkContext.defaultParallelism,
        col("a_id"), col("b_id"))
      else candRaw)
      .dropDuplicates("a_id", "b_id")
    val at = toks.select(col("id").as("a_id"), col("toks").as("a_toks"),
      col("sz").as("a_sz"))
    val bt = toks.select(col("id").as("b_id"), col("toks").as("b_toks"),
      col("sz").as("b_sz"))
    // the intersect size rides an explode(array(…)) Generate barrier: the
    // threshold filter otherwise gets pushed into the verify join's
    // condition and array_intersect — the dominant per-candidate cost —
    // is evaluated THREE times per pair (twice in the join condition,
    // once in the output projection; verified in the round-6 before-plan)
    cand.join(at, Seq("a_id")).join(bt, Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sz"), col("b_sz"),
        explode(array(
          size(array_intersect(col("a_toks"), col("b_toks"))))).as("isect"))
      .withColumn("jaccard", round(col("isect").cast("double") /
        (col("a_sz") + col("b_sz") - col("isect")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** LSH candidate pairs: signatures banded into `bands` groups of
    * `rowsPerBand`; a pair is a candidate iff some band matches exactly.
    * The self-join runs on (band index, band hash) — bucket-local — and the
    * final Jaccard estimate is the matching-minhash fraction.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, minEstimate: Double,
      hashFn: Column => Column = c => xxhash64(c),
      maxBroadcastVocab: Long = 500000L): DataFrame = {
    val k = bands * rowsPerBand
    // Signature via explode + k codegen'd min-aggregations instead of a
    // nested-transform fold over the token set: array higher-order
    // functions are INTERPRETED per element, so the k·|toks| hash
    // evaluations paid ~10x expression-walk overhead per hash (the
    // dominant cost of both minhash keys). Exploding the token set and
    // computing the k salted hashes as plain projected columns keeps
    // every hash inside WholeStageCodegen; the groupBy is partial/final
    // with map-side combine, so the shuffle carries ONE k-long row per
    // (doc × map task) — never the tokens. Values are bit-identical:
    // min-agg over exploded distinct tokens of hash('i:' ++ tok) is
    // exactly array_min(transform(toks, t => hash(concat(i, ':', t)))),
    // and concat(lit("i:"), t) builds the same string the
    // cast(i)·':'·t concat did. (A null/absent text yields no exploded
    // rows and no signature — such docs never produced an output pair
    // under the fold form either: their null estimate failed the
    // threshold filter.)
    val (src, small) = parallelizeSmall(docs.select(col(idCol).as("id"),
      col(textCol).as("__text")))
    val tokens = src.select(col("id"),
      explode(tokenSet(col("__text"))).as("__t"))
    // Vocabulary-level hashing, SIZE-CHECKED (the latestPerKeyAdaptive
    // pattern): a corpus re-hashes the same token once per containing
    // document — k·Σ|toks| evaluations — while the distinct vocabulary
    // is Zipf-small. When the vocabulary fits the bound (~(k+1)·8 B per
    // entry, ≈68 MB at the default), hash each distinct token ONCE and
    // broadcast-join the k longs back onto the (doc, token) pairs:
    // hash count drops from k·Σ|toks| to k·|vocab| and the token stream
    // never shuffles (broadcast hash join + map-side partial agg).
    // Above the bound, hash in place — a shuffled vocab join would move
    // the whole token stream, which costs more than recomputing hashes.
    // Both branches feed identical per-pair hash values to the min-agg,
    // so the signatures are bit-identical either way.
    val vocab = tokens.select(col("__t")).distinct().localCheckpoint()
    val perToken = (0 until k).map(i =>
      hashFn(concat(lit(s"$i:"), col("__t"))).as(s"__h$i"))
    val hashed =
      if (vocab.count() <= maxBroadcastVocab)
        tokens.join(broadcast(vocab.select(col("__t") +: perToken: _*)),
          Seq("__t"))
      else tokens.select(col("id") +: perToken: _*)
    val mins = (0 until k).map(i => min(col(s"__h$i")).as(s"__m$i"))
    val sigs = hashed.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
    candidatesFromSigs(sigs, bands, rowsPerBand, minEstimate, small)
  }

  /** LSH banding + estimate over a `(id, sig)` signature frame.
    *
    * Hash-family note (measured): a Carter–Wegman double-hash family
    * (member i = h1 + i·(h2 & 2^56−1), 2 md5s/token instead of k) was
    * built and REJECTED — its members are correlated, so bands collide
    * 4.1x more often (134,758 vs 33,058 candidate pairs at sf0.001) and
    * the candidate join, which dominates the hashing cost, ran ~4x
    * slower end-to-end. k INDEPENDENT salted hashes are both faster and
    * more selective; at 10^10 docs selectivity matters even more.
    */
  private def candidatesFromSigs(sigs0: DataFrame, bands: Int,
      rowsPerBand: Int, minEstimate: Double,
      small: Boolean = false): DataFrame = {
    val k = bands * rowsPerBand
    // Materialize the signature table ONCE (guide §8's fingerprint table:
    // fixed k×8 bytes per doc, never the text). Without it, the two sides
    // of the band self-join each recompute every signature — k hashes per
    // token per document — because a broadcast join side cannot reuse the
    // other side's subtree (verified in the round-6 before-plan: the full
    // scan→sign subtree appears twice). Halves the dominant hashing cost.
    // Small inputs: the aggregation's AQE-coalesced output is ~1
    // partition, which would serialize the whole band join + estimate
    // downstream — spread the fixed-width table across the cores first.
    val spark = sigs0.sparkSession
    val sigs = (if (small) sigs0.repartition(
        spark.sparkContext.defaultParallelism)
      else sigs0).localCheckpoint()
    val banded0 = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("|",
          slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand))
            .cast("array<string>")))))
        .as(Seq("band", "band_hash")))
    // gated band-key spread: AQE coalesced the band self-join's probe
    // side to ONE partition (bytes-small, CPU-bound — probe: a 0.55 s
    // single-task stage), serializing the join and the pair emit
    val banded = if (small) banded0.repartition(
        spark.sparkContext.defaultParallelism,
        col("band"), col("band_hash"))
      else banded0
    val l = banded.select(col("band"), col("band_hash"),
      col("id").as("a_id"))
    val r = banded.select(col("band"), col("band_hash"),
      col("id").as("b_id"))
    // candidates travel as BARE ID PAIRS (§8: shuffle keys, not
    // payloads): with the signature arrays carried along, the
    // dropDuplicates planned as a SortAggregate (a first(array) buffer
    // is not hash-aggregable) sorting every pre-dedup candidate row with
    // 2·k longs attached; keys-only dedup is a plain hash aggregate and
    // the signatures re-join BY ID from the checkpointed table
    val candRaw = l.join(r, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // same gated spread for the pair dedup + estimate stage (see
    // ngramJaccardPairs: AQE coalesces by bytes, the stage is CPU-bound)
    val cand = (if (small) candRaw.repartition(
        spark.sparkContext.defaultParallelism, col("a_id"), col("b_id"))
      else candRaw)
      .dropDuplicates("a_id", "b_id")
    // matching-position count as an UNROLLED codegen sum (bit-identical
    // to size(filter(zip_with(a, b, =), m => m)) — counts exactly the
    // positions where both sides are non-null and equal), routed through
    // an explode(array(…)) Generate barrier so the estimate filter and
    // the output projection share ONE evaluation (the before-plan showed
    // the interpreted zip_with duplicated into the Filter condition and
    // the Project)
    val matchCount = (1 to k).map(i =>
      when(element_at(col("a_sig"), i) === element_at(col("b_sig"), i),
        lit(1)).otherwise(lit(0))).reduce(_ + _)
    cand
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")),
        Seq("a_id"))
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        explode(array(matchCount)).as("__m"))
      .filter(col("__m").cast("double") / lit(k.toDouble) >= minEstimate)
      .select(col("a_id"), col("b_id"),
        round(col("__m").cast("double") / lit(k.toDouble), 4)
          .as("est_jaccard"))
  }

  /** 64-bit SimHash over a token-set column, as a two-stage projection:
    * stage 1 accumulates the per-bit ±1 vote array in ONE `aggregate` pass
    * over the tokens; stage 2 folds the 64 votes into a long. Staged so the
    * (large) vote expression is evaluated once per row, not 64 times.
    * Near-duplicates have small Hamming distance.
    */
  def withSimhash(df: DataFrame, toksCol: Column, out: String,
      hashFn: Column => Column = c => xxhash64(c)): DataFrame = {
    val hashes = transform(toksCol, t => hashFn(t))
    val votes = aggregate(hashes, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(i =>
          when(shiftright(h, i).bitwiseAND(1L) === 1L, lit(1L))
            .otherwise(lit(-1L))): _*),
        (a, v) => a + v))
    df.withColumn("__votes", votes)
      .withColumn(out, (0 until 64).map(i =>
        when(element_at(col("__votes"), i + 1) > 0, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _))
      .drop("__votes")
  }

  /** SimHash near-duplicate pairs within (lang) blocks, by Hamming
    * distance ≤ maxDistance — EXACT result set via pigeonhole banding: the
    * 64-bit simhash splits into maxDistance+1 disjoint chunks; a pair with
    * ≤ maxDistance differing bits must have at least one chunk with ZERO
    * differing bits, so candidates come from an equi-join on
    * (lang, chunk index, chunk value), then `bit_count(xor) ≤ d` verifies.
    * Same pairs as the naive per-language O(n²) join, but every join is
    * equi and bucket-local.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, maxDistance: Int,
      hashFn: Column => Column = c => xxhash64(c)): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64)
    // SimHash via explode + 64 codegen'd sum-aggregations instead of the
    // [[withSimhash]] interpreted per-token fold (~128 interpreted
    // element-ops per token): the token hash is projected ONCE per
    // exploded token, the ±1 votes are plain sum aggregates inside
    // WholeStageCodegen with map-side combine, and the shuffle carries
    // one 64-long vote row per (doc × map task) — never the tokens.
    // Values are bit-identical to the fold for every non-null text (the
    // same ±1 per bit per token, summed; the same vote→bit fold); the
    // frame is then materialized ONCE (8-byte fingerprint per doc, guide
    // §8) because the banded self-join's two sides cannot share a
    // broadcast subtree. [[withSimhash]] remains the columnar form for
    // callers that need a projection.
    // the hash rides INSIDE the Generate (hash array exploded, not the
    // tokens): a projected hashFn(__t) alias would be CollapseProject-
    // inlined into all 64 vote aggregates — 64 hash evaluations per token
    // (measured 2.6x slower on the md5 family before this barrier)
    // no parallelizeSmall here: one codegen'd hash per token is cheaper
    // than the spread's extra exchange (paired A/B measured +0.3 s on the
    // xxhash64 family; the vote aggregation carries fixed-width rows)
    val tokens = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
      explode(transform(tokenSet(col(textCol)), t => hashFn(t))).as("__h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1L) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"__v$i"))
    val shAgg = tokens.groupBy(col("id"), col("lang"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), col("lang"),
        (0 until 64).map(i =>
          when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
    val sh = shAgg.localCheckpoint()
    val nChunks = maxDistance + 1
    val chunks = (0 until nChunks).map { i =>
      val start = i * 64 / nChunks
      val width = (i + 1) * 64 / nChunks - start
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("ci"),
        shiftrightunsigned(col("sh"), start).bitwiseAND(lit(mask)).as("cv"))
    }
    val banded = sh.withColumn("chunk", explode(array(chunks: _*)))
    val a = banded.select(col("lang"), col("chunk"),
      col("id").as("a_id"), col("sh").as("a_sh"))
    val b = banded.select(col("lang"), col("chunk"),
      col("id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("lang", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Embedding-cosine near-duplicate pairs. Norms are computed ONCE PER ROW
    * before the pair step (the pair step is a single dot product + one
    * division — bit-identical to `dot/(‖a‖·‖b‖)` computed pairwise, since
    * the IEEE ops and their order are unchanged).
    *
    * Candidate generation: at or below `exactLimit` rows, exact all-pairs
    * (the oracle path — small inputs, and the only form DuckDB can mirror);
    * above it, multi-table random-hyperplane LSH buckets (the 100 TB path —
    * candidates only form inside a (table, bucket) cell, expected fraction
    * ≈ nTables / 2^nPlanes), scored exactly inside the bucket. Candidates
    * travel as ID PAIRS and re-join the vectors by id, so 64-dim arrays
    * never ride through the bucket explode's shuffle.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exactLimit: Long = 1000L,
      nPlanes: Int = 8, nTables: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // Materialize (id, v, norm) ONCE (guide §8's fixed-width decision
    // table): every downstream use — the a/b sides of either branch and
    // the LSH banding — otherwise re-derives the float→double cast and
    // the norm fold from the parquet scan (the round-6 before-plan showed
    // the full subtree duplicated per join side). The count that picks
    // the branch reads the same materialized blocks instead of a second
    // parquet pass.
    val (src, small) = parallelizeSmall(emb.select(col(idCol).as("id"),
      col(vecCol).as("__vec")))
    val base = src.select(col("id"),
      Similarity.toDouble(col("__vec")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .localCheckpoint()
    val a = base.select(col("id").as("a_id"), col("v").as("a_v"),
      col("nrm").as("a_n"))
    val b = base.select(col("id").as("b_id"), col("v").as("b_v"),
      col("nrm").as("b_n"))
    val paired =
      if (base.count() <= exactLimit) {
        a.join(b, col("a_id") < col("b_id"))
      } else {
        val buckets = (0 until nTables).map { t =>
          val planes = Similarity.hyperplanes(seed + 7919L * t, nPlanes, dim)
          struct(lit(t).as("t"),
            Similarity.lshBucket(col("v"), planes).as("h")).as(s"b$t")
        }
        // bucket ids materialized once too: the candidate self-join's two
        // sides would each re-evaluate all nTables×nPlanes hyperplane
        // dots per row (interpreted array folds — the dominant LSH cost)
        val banded = base.select(col("id"),
          explode(array(buckets: _*)).as("bucket"))
          .localCheckpoint()
        val candRaw = banded.select(col("bucket"), col("id").as("a_id"))
          .join(banded.select(col("bucket"), col("id").as("b_id")),
            Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"))
        // gated spread (see ngramJaccardPairs): without it AQE coalesced
        // the deduped pair set to ONE partition and the scoring joins +
        // 64-dim dot products all ran on a single core
        val cand = (if (small) candRaw.repartition(
            emb.sparkSession.sparkContext.defaultParallelism,
            col("a_id"), col("b_id"))
          else candRaw)
          .dropDuplicates("a_id", "b_id")
        cand.join(a, Seq("a_id")).join(b, Seq("b_id"))
      }
    // unrolled fixed-dim dot: bit-identical to Similarity.dot (same
    // left-fold order) but codegen'd — the interpreted per-pair fold was
    // the top per-pair cost in both branches
    paired
      .withColumn("cos", round(
        Similarity.dotN(col("a_v"), col("b_v"), dim) /
          (col("a_n") * col("b_n")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Near-duplicate GROUP resolution: connected components over a pair set,
    * returning (doc_id, canonical_id = minimum id of the component). The
    * transitive closure a training-data pipeline needs to pick one canonical
    * document per near-dup cluster.
    *
    * Iterative min-label propagation WITH pointer jumping: each round every
    * node takes the min over {its own label, its neighbors' labels, its
    * label's label}. The pointer-jump term (lbl ← label(lbl)) halves the
    * remaining distance to the component minimum each round, so convergence
    * needs O(log diameter) rounds instead of O(diameter) — a 10^6-long
    * near-dup chain resolves in ~20 rounds, not 10^6. The jump rides the
    * SAME join as neighbor propagation (the label pointers are just |nodes|
    * extra edges unioned in), so each round is exactly one equi-join + one
    * aggregation — shuffle-bounded by |edges| + |nodes|, no driver-side
    * graph. The previous label is carried THROUGH the aggregation
    * (min(lbl) where own), so convergence detection is a filter over the
    * freshly checkpointed round result — no extra join, no recomputation.
    * Each round's labels are `localCheckpoint`ed: an iterative DataFrame
    * loop MUST truncate lineage, otherwise the logical plan (and AQE's
    * per-stage explain strings) grows exponentially with iteration count.
    *
    * Throws if maxIter rounds pass without convergence rather than silently
    * returning non-canonical labels (with pointer jumping, maxIter = 20
    * covers component diameters up to ~2^20).
    *
    * SIZE-CHECKED driver fast path (the [[dedupPassages]]
    * broadcast/shuffle adaptive pattern): when the edge set fits
    * `maxDriverEdges` (integral id pairs) the components are resolved
    * with a driver-side union-find in ONE pass over the collected pairs
    * (one orientation each, as unboxed `(Long, Long)`), skipping the
    * loop's per-round join/aggregate/checkpoint jobs entirely — at bench
    * scale those rounds are pure fixed cost over a graph of a few hundred
    * nodes.
    * Union-find with min-id roots yields exactly the loop's fixpoint
    * (min id per component), proven branch-identical in the spec. Above
    * the bound — a 100 TB corpus's near-dup graph — or for non-integral
    * id types, the distributed loop runs unchanged.
    *
    * Driver heap at the default bound, measured on JDK 17 (2M pairs over
    * 4M distinct ids, retained bytes after GC): the collected pairs hold
    * ~152 MB (~76 B a pair), the union-find map ~197 MB (~49 B an id) and
    * the returned local frame ~416 MB (~104 B an id) — ~765 MB in all.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, maxDriverEdges: Long = 2000000L): DataFrame = {
    // Both edge orientations from ONE pass over the pair set: the
    // union-of-two-selects form evaluated the whole upstream pair
    // pipeline once per branch (for dedup_groups that is the full
    // Jaccard candidate+verify dataflow, recomputed — measured as the
    // larger half of the query). No distinct either: min-label
    // propagation is duplicate-insensitive (every aggregation below is a
    // min) and this codebase's pair producers emit distinct (a < b)
    // pairs by construction — the distinct was a pure extra shuffle.
    // An edge with a null endpoint joins nothing: drop it here, once, so
    // both branches below see the same graph.
    val edges = pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(explode(array(
        struct(col(aCol).as("x"), col(bCol).as("y")),
        struct(col(bCol).as("x"), col(aCol).as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .localCheckpoint()
    val idType = edges.schema("x").dataType
    val integralId = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // the count reads the just-checkpointed blocks (no recompute of the
    // upstream pair dataflow); both orientations are in `edges`, hence 2x
    if (integralId && edges.count() <= 2L * maxDriverEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var r = x0
        while (parent(r) != r) r = parent(r)
        var c = x0 // path compression
        while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      // one orientation per edge is enough for union-find (a self-loop
      // keeps its node); ids travel as primitive longs, never boxed Rows
      import pairs.sparkSession.implicits._
      edges.filter(col("x") <= col("y"))
        .select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
        .as[(Long, Long)].collect().foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          // min-id root: the representative is always the component minimum
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      return parent.keys.toSeq.map(id => (id, find(id)))
        .toDF("doc_id", "canonical_id")
        .select(col("doc_id").cast(idType), col("canonical_id").cast(idType))
    }
    // Seed with round 1's result directly: from identity labels, one
    // propagate+jump round yields exactly min(id, min(neighbors)) — a
    // single aggregation over the edge list, no join. Saves the first
    // (and at small diameters, dominant) join round; the loop below then
    // proceeds identically, so the fixpoint is unchanged.
    var labels = edges.groupBy(col("x"))
      .agg(min(col("y")).as("__mn"))
      .select(col("x").as("id"), least(col("x"), col("__mn")).as("lbl"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // graph edges + label-pointer edges (id → lbl): joining both against
      // the round-start labels propagates neighbor labels AND performs the
      // pointer jump lbl ← label(lbl) in one shuffle
      val allEdges = edges
        .union(labels.select(col("id").as("x"), col("lbl").as("y")))
      val prop = allEdges
        .join(labels.select(col("id").as("y"), col("lbl")), Seq("y"))
        .select(col("x").as("id"), col("lbl"))
      val next = labels.select(col("id"), col("lbl"), lit(true).as("own"))
        .union(prop.select(col("id"), col("lbl"), lit(false).as("own")))
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"),
          min(when(col("own"), col("lbl"))).as("prev"))
        .localCheckpoint()
      // labels only ever decrease, so "changed" ⇔ new < old — readable
      // straight off the checkpointed blocks, no join and no recompute.
      // isEmpty (incremental take(1)) instead of limit(1).count: the
      // GlobalLimit form shuffled every round to a single partition; the
      // take scans in-memory blocks partition-batch-wise and usually
      // stops at the first one.
      converged = next.filter(col("lbl") < col("prev")).isEmpty
      labels = next.select(col("id"), col("lbl"))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds 2^maxIter; raise maxIter")
    labels.select(col("id").as("doc_id"), col("lbl").as("canonical_id"))
  }

  /** Benchmark DECONTAMINATION — the C4/GPT-3-style 13-gram rule, the
    * standard "don't train on the test set" step of an LLM data pipeline:
    * a document is flagged CONTAMINATED when it shares any token n-gram
    * with the evaluation corpus — where an eval document SHORTER than n
    * tokens contributes its full token sequence as its gram, and corpus
    * documents additionally emit windows of those short lengths so a
    * short eval example embedded verbatim in a long document still
    * flags. Returns one row per input document:
    * `(idCol, n_hits = distinct eval n-grams it contains, contaminated =
    * 0/1)` — callers strip with `filter(contaminated = 0)` or keep the
    * flags for audit.
    *
    * Scale shape: the EVAL side is small by definition (a benchmark
    * suite — thousands of documents, millions of n-grams), so its
    * distinct gram-hash set is built once and BROADCAST; the corpus side
    * streams through a semi join + per-doc aggregation and never
    * shuffles document text — grams travel as 64-bit hash values
    * (8 bytes each), not strings. One partial/final aggregation
    * per doc closes it out. A cross-gram hash collision (≤ 2^-60) can
    * only over-flag, never under-flag. Hash family: xxhash64 by default
    * (codegen'd — the production choice); the oracled driver key passes
    * [[portableHash]] instead so DuckDB compares the SAME hash values
    * bit-exactly.
    */
  /** All m-token windows over an ALREADY-MATERIALIZED token-array column
    * (empty when the doc has fewer than m tokens — those docs
    * participate via their own clamp gram instead). The caller must bind
    * `ts` to a concrete attribute (e.g. a Generate output), NOT a
    * projected `split(...)` alias: CollapseProject inlines a projected
    * array into every lambda reference, re-running the whole split PER
    * WINDOW — the CLAUDE.md HOF trap, measured 2× on this operator.
    */
  private def windowGrams(ts: Column, m: Int): Column =
    when(size(ts) >= m,
      array_distinct(transform(
        sequence(lit(1), size(ts) - (m - 1)),
        i => array_join(slice(ts, i, lit(m)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Distinct token n-grams of a materialized token-array column:
    * contiguous `n`-token windows re-joined by a single space. A document
    * shorter than `n` tokens contributes its full token sequence as one
    * gram (so short documents still participate in containment checks).
    */
  private def shinglesFromToks(ts: Column, n: Int): Column =
    when(size(ts) >= n, windowGrams(ts, n))
      .otherwise(array(array_join(ts, " ")))

  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      evalDocs: DataFrame, evalTextCol: String, n: Int = 13,
      hashFn: Column => Column = c => xxhash64(c),
      maxBroadcastGrams: Long = 8000000L): DataFrame = {
    require(n >= 1, s"bad decontaminate n-gram size: $n")
    // A SHORT eval document (< n tokens) has exactly ONE gram — its full
    // token sequence (the shinglesFromToks clamp). A long corpus document
    // contains it only as an m-token WINDOW, which the n-gram family
    // never emits — so the corpus side ALSO emits m-grams for each
    // distinct short-eval length (the short-QA-prompt case the 13-gram
    // rule exists for). The collect is driver-side but bounded by n−1
    // distinct ints, read off the small-by-contract eval side.
    val evalLens: Seq[Int] = evalDocs
      .select(size(split(col(evalTextCol), " ")).as("m"))
      .filter(col("m") >= 1 && col("m") < n)
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    // the token array rides through an explode(array(...)) Generate so
    // it is a CONCRETE per-row attribute below — a plain projected alias
    // would be CollapseProject-inlined into every window lambda and the
    // split would re-run per window (see windowGrams' contract)
    val (csrc, _) = parallelizeSmall(docs.select(col(idCol).as("__id"),
      col(textCol).as("__ctext")))
    val tokenized = csrc.select(col("__id"),
      explode(array(split(col("__ctext"), " "))).as("__toks"))
    val gramFamilies = shinglesFromToks(col("__toks"), n) +:
      evalLens.map(m => windowGrams(col("__toks"), m))
    // hash INSIDE the Generate (transform before explode): with a
    // projected hashFn(__g) alias, the optimizer collapses the projection
    // into the semi join's key AND its auto-inserted isnotnull filter —
    // the portable hash (md5 + base conversion on the oracled key) ran
    // TWICE per corpus gram (verified in the round-6 before-plan)
    val dg = tokenized.select(col("__id"),
      explode(transform(flatten(array(gramFamilies: _*)),
        g => hashFn(g))).as("__h"))
    // eval gram-hash set: small by contract (a benchmark suite), but the
    // broadcast is still SIZE-CHECKED (the latestPerKeyAdaptive pattern —
    // an explicit broadcast hint is unconditional, and a caller passing a
    // corpus-sized "eval set" must degrade to a shuffled semi join, not
    // OOM the driver). 8 B/gram: the default bound is ~64 MB broadcast.
    // eval side routed through the SAME Generate materialization as the
    // corpus side (ADVICE r5): a split() inside the window lambda would
    // re-run tokenization per window — the HOF-inlining trap, bounded
    // only by the eval set being small. shinglesFromToks over the
    // concrete token-array attribute tokenizes once
    // (same clamp rule), tokenizing once per eval doc; the hash rides
    // the explode so it is evaluated once per gram.
    val evalTokenized = evalDocs.select(
      explode(array(split(col(evalTextCol), " "))).as("__etoks"))
    val eg = evalTokenized
      .select(explode(transform(shinglesFromToks(col("__etoks"), n),
        g => hashFn(g))).as("__h")).distinct()
      .localCheckpoint()
    val egSized = if (eg.count() <= maxBroadcastGrams) broadcast(eg) else eg
    val hits = dg.join(egSized, Seq("__h"), "left_semi")
      .groupBy(col("__id"))
      .agg(count_distinct(col("__h")).as("n_hits"))
      .withColumnRenamed("__id", idCol)
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Cross-document duplicated-passage removal — the CCNet/C4-style
    * "line dedup" step of a webtext training pipeline, generalized to
    * corpora without line structure: each document is segmented into
    * NON-OVERLAPPING `chunkTokens`-token chunks; every chunk whose exact
    * text occurs `minDupCount`+ times ACROSS the corpus (boilerplate,
    * navigation, license blocks) is dropped; the remaining chunks are
    * rebuilt in order. Documents whose chunks all drop survive with
    * empty text (row count preserved — downstream joins keep working).
    *
    * Scale shape: one exploded-chunk aggregation (shuffle bounded by
    * corpus tokens / chunkTokens with map-side combine) builds the
    * FREQUENT set — only chunks actually duplicated. That set is
    * SIZE-CHECKED (the [[graft.operators.Dedup.latestPerKeyAdaptive]]
    * pattern): under `maxBroadcastChunks` it drives a broadcast LEFT
    * ANTI join, so document text never shuffles again; above it — a
    * boilerplate-heavy web corpus can duplicate billions of distinct
    * chunks, and an unconditional `broadcast()` hint would force the
    * driver to materialize all of them regardless of size (AQE cannot
    * override an explicit hint) — the anti join runs SHUFFLED on the
    * chunk key instead (chunk rows are short by construction:
    * `chunkTokens` tokens each). The rebuild is one per-document
    * aggregation. No all-pairs step, never unbounded driver-side state.
    */
  def dedupPassages(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, minDupCount: Long = 2,
      maxBroadcastChunks: Long = 4000000L): DataFrame = {
    require(chunkTokens >= 1 && minDupCount >= 2,
      s"bad dedupPassages params: $chunkTokens/$minDupCount")
    // token array through a Generate barrier first: `slice(toks, …)`
    // inside the chunk lambda would be CollapseProject-inlined, re-running
    // the whole split ONCE PER CHUNK (the HOF-inlining trap — O(chunks ×
    // tokens) tokenization per document, measured ~2x on this operator)
    // no parallelizeSmall here: chunking is one split + slices per row —
    // cheaper than the spread's extra exchange (paired A/B: +0.3 s)
    val tokenized = df.select(col(idCol),
      explode(array(split(col(textCol), " "))).as("__toks"))
    val toks = col("__toks")
    val nChunks = ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")
    val chunks = tokenized.select(col(idCol),
      posexplode(transform(sequence(lit(0), nChunks - 1), j =>
        array_join(slice(toks, j * chunkTokens + lit(1), lit(chunkTokens)),
          " ")))
        .as(Seq("pos", "chunk")))
    // localCheckpoint, not cache: per-statement frames must not pin the
    // session CacheManager (same rationale as Dedup.latestPerKeyAdaptive);
    // the count and the join (either branch) both read the materialized
    // blocks instead of re-running the corpus-wide chunk aggregation
    val frequent = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minDupCount)
      .select(col("chunk"))
      .localCheckpoint()
    val kept =
      if (frequent.count() <= maxBroadcastChunks)
        chunks.join(broadcast(frequent), Seq("chunk"), "left_anti")
      else chunks.join(frequent, Seq("chunk"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("text_kept"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_kept"), lit("")).as("text_kept"))
  }
}
