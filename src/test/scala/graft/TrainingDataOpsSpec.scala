package graft

import graft.functions.{DedupOps, Multimodal, Similarity, TextAnalysis}
import graft.util.Det
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators: dedup (exact / jaccard / minhash /
  * simhash), similarity search (brute force + LSH), text analysis,
  * multimodal plumbing. Planted duplicates/near-duplicates give known
  * ground truth.
  */
class TrainingDataOpsSpec extends SparkTestBase {
  import spark.implicits._

  // vocabulary wide enough that token SETS are distinctive per doc —
  // with a tiny vocab every doc has the same token set and set-based
  // near-dup detection (correctly) cannot separate anything
  private val words = Array.tabulate(120)(i => s"w$i")

  /** Deterministic doc of ~n words from a seed. */
  private def doc(seed: Long, n: Int): String =
    (0 until n).map(i => words(Det.uniformInt(seed, i, 1, words.length)))
      .mkString(" ")

  /** 200 base docs + exact dups of 0..9 + near-dups (one word changed)
    * of 10..19.
    */
  private lazy val docs = {
    val base = (0 until 200).map(i => (i.toLong, doc(i, 60), "en"))
    val exact = (0 until 10).map(i => (1000L + i, doc(i, 60), "en"))
    val near = (10 until 20).map { i =>
      val t = doc(i, 60).split(' ')
      t(30) = "REPLACED"
      (2000L + i, t.mkString(" "), "en")
    }
    (base ++ exact ++ near).toDF("doc_id", "text", "lang").cache()
  }

  test("exact dedup finds exactly the planted duplicate groups") {
    val groups = DedupOps.exactGroups(docs, "doc_id", "text")
      .filter(col("n_docs") > 1)
    val found = groups.collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(found.length == 10)
    found.foreach { case (keepId, n) =>
      assert(keepId < 10 && n == 2, s"group keep=$keepId n=$n")
    }
  }

  test("parallelizeSmall spreads single-split inputs, passes large through") {
    val smallDf = (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    val (sp, small) = DedupOps.parallelizeSmall(smallDf)
    assert(small, "sub-split-size input must take the repartition branch")
    assert(sp.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(sp.as[(Long, String)].collect().toSet ==
      smallDf.as[(Long, String)].collect().toSet) // rows unchanged
    // stats above one file split (spark.range: 8 B/row ≈ 400 MB) must
    // pass through UNTOUCHED — no corpus bytes reshuffle at scale
    val big = spark.range(50000000L).toDF("id")
    val (bp, bigSmall) = DedupOps.parallelizeSmall(big)
    assert(!bigSmall)
    assert(bp eq big)
  }

  test("token-set jaccard pairs find planted near-duplicates") {
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", "lang", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair (i, 1000+i) and (i, 2000+i) must be found
    (0 until 10).foreach(i => assert(pairs.contains((i.toLong, 1000L + i))))
    (10 until 20).foreach(i => assert(pairs.contains((i.toLong, 2000L + i))))
  }

  test("prefix-filtered jaccard pairs == naive quadratic jaccard pairs") {
    // the AllPairs prefix filter is LOSSLESS: identical pair set to a
    // driver-side quadratic reference (independent implementation)
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(2), r.getString(1).split(' ').toSet))
    def naive(t: Double) = (for {
      (ai, al, at) <- rows; (bi, bl, bt) <- rows
      if al == bl && ai < bi
      // same 4-decimal HALF_UP rounding the operator applies before its
      // threshold, so boundary values classify identically
      j = BigDecimal((at & bt).size.toDouble / (at | bt).size.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= t
    } yield (ai, bi)).toSet
    Seq(0.9, 0.7).foreach { t =>
      val fast = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", "lang", t)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == naive(t), s"pair-set divergence at threshold $t")
    }
  }

  test("minhash LSH finds planted near-duplicates without full cross join") {
    val cands = DedupOps.minhashCandidates(docs, "doc_id", "text",
      bands = 8, rowsPerBand = 2, minEstimate = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach(i => assert(cands.contains((i.toLong, 1000L + i)),
      s"exact dup $i via LSH"))
    val nearFound = (10 until 20).count(i => cands.contains((i.toLong, 2000L + i)))
    assert(nearFound >= 8, s"LSH recall on near-dups: $nearFound/10")
  }

  test("minhash vocabulary gate: hashing in place (maxBroadcastVocab = 0) " +
      "gives the broadcast vocabulary's pairs, for both hash families") {
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        c => xxhash64(c), DedupOps.portableHash).foreach { h =>
      def pairs(maxVocab: Long) = DedupOps.minhashCandidates(docs, "doc_id",
        "text", bands = 8, rowsPerBand = 2, minEstimate = 0.7, hashFn = h,
        maxBroadcastVocab = maxVocab)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val broadcastVocab = pairs(500000L)
      assert(broadcastVocab.size >= 10)
      assert(pairs(0L) == broadcastVocab)
    }
  }

  test("simhash hamming pairs find planted near-duplicates") {
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", "lang", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach(i => assert(pairs.contains((i.toLong, 1000L + i))))
    val nearFound = (10 until 20).count(i => pairs.contains((i.toLong, 2000L + i)))
    assert(nearFound >= 8, s"simhash recall on near-dups: $nearFound/10")
    // precision: unrelated docs must not flood in
    val falsePairs = pairs.filterNot { case (a, b) =>
      (b == a + 1000L) || (b == a + 2000L)
    }
    assert(falsePairs.size <= pairs.size / 2, s"simhash false pairs: $falsePairs")
  }

  test("pigeonhole-banded simhash pairs == naive quadratic simhash pairs") {
    // hamming ≤ d ⟹ one of the d+1 chunks is identical (pigeonhole), so
    // the banded equi-join is LOSSLESS: identical pair set to a driver-side
    // quadratic reference over the SAME simhash values (the engine computes
    // the hash once; only candidate generation is under test here)
    val sh = DedupOps.withSimhash(
      docs.select(col("doc_id").as("id"), col("lang"),
        DedupOps.tokenSet(col("text")).as("toks")), col("toks"), "sh")
      .select("id", "lang", "sh")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def naive(d: Int) = (for {
      (ai, al, ash) <- sh; (bi, bl, bsh) <- sh
      if al == bl && ai < bi && java.lang.Long.bitCount(ash ^ bsh) <= d
    } yield (ai, bi)).toSet
    Seq(4, 10).foreach { d =>
      val fast = DedupOps.simhashPairs(docs, "doc_id", "text", "lang", d)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == naive(d), s"pair-set divergence at distance $d")
    }
  }

  test("connected components resolve near-dup pairs into canonical groups") {
    // chain 1-2-3, pair 10-11, triangle 20-21-22 (+21-20 transitively)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)).toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // long chain: convergence needs multiple propagation rounds
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = DedupOps.connectedComponents(chain, "a_id", "b_id").collect()
    assert(cc.length == 16 && cc.forall(_.getLong(1) == 0L))
  }

  test("connected components: driver union-find branch is identical to " +
      "the distributed loop") {
    // mixed shapes: chain, star, triangle, isolated pair, and edges with a
    // null endpoint — compare the size-checked driver branch against the
    // loop (forced via bound 0)
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (50L, 51L), (50L, 52L),
      (50L, 53L), (60L, 61L), (61L, 62L), (60L, 62L), (70L, 71L)) ++
      (100L until 140L).map(i => (i, i + 1)))
      .map { case (a, b) => (Option(a), Option(b)) }
    val withNulls = (pairs ++ Seq((Some(200L), None), (None, Some(4L)),
      (None, None))).toDF("a_id", "b_id")
    def labels(cc: org.apache.spark.sql.DataFrame) = cc.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    val driver = labels(DedupOps.connectedComponents(withNulls, "a_id", "b_id"))
    val loop = labels(DedupOps.connectedComponents(withNulls, "a_id", "b_id",
      maxDriverEdges = 0L))
    assert(driver == loop)
    // null-endpoint edges are dropped: no null id, 200 is in no pair
    assert(!driver.contains(None) && !driver.contains(Some(200L)))
    assert(driver(Some(4L)) == 1L && driver(Some(53L)) == 50L &&
      driver(Some(140L)) == 100L)
  }

  test("connected components: pointer jumping converges in O(log diameter) " +
      "rounds, and non-convergence throws instead of returning wrong groups") {
    // diameter-200 chain within 12 rounds — plain min-label propagation
    // would need ~200; pointer jumping reaches distance 2^(r-1) by round r
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = DedupOps.connectedComponents(chain, "a_id", "b_id", maxIter = 12,
      maxDriverEdges = 0L) // force the distributed loop
      .collect()
    assert(cc.length == 201 && cc.forall(_.getLong(1) == 0L))
    // starved of rounds it must refuse, never silently emit partial labels
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, "a_id", "b_id", maxIter = 2,
        maxDriverEdges = 0L)
    }
  }

  test("approx_count_distinct tracks exact distinct within the rsd bound") {
    val exact = docs.select(countDistinct(col("text"))).collect()(0).getLong(0)
    val approx = docs.select(approx_count_distinct(col("text"), 0.02))
      .collect()(0).getLong(0)
    // rsd 0.02 → 3σ = 6%; generous margin for the small-cardinality regime
    assert(math.abs(approx - exact).toDouble / exact <= 0.06,
      s"approx=$approx exact=$exact")
  }

  private lazy val embeddings = {
    val rows = (0 until 300).map { i =>
      val v = Array.tabulate(64)(d => (Det.uniform(i.toLong, d, 3) * 2 - 1).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  test("LSH ANN achieves decent recall vs brute-force top-k") {
    val q = col("id") < 10
    val exact = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(embeddings, "vec_id", "embedding", q, 5,
      nPlanes = 3, nTables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // random uniform vectors are a worst case for LSH (neighbors barely
    // closer than random); 6 tables x 8 buckets still must beat chance
    assert(recall >= 0.5, s"LSH recall $recall")
    assert(approx.nonEmpty && approx.size <= exact.size)
  }

  test("brute-force cosine of identical vectors is 1") {
    val dup = embeddings.limit(1)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val withDup = embeddings.unionByName(dup)
    val top = Similarity.bruteForceTopK(withDup, "vec_id", "embedding",
      col("id") === 9999L, 1).collect()
    assert(top.length == 1 && top(0).getLong(1) == 0L &&
      top(0).getDouble(2) == 1.0)
  }

  test("embeddingPairs: exact path == naive all-pairs; LSH path finds " +
      "planted near-dups with exact scores") {
    import org.apache.spark.sql.DataFrame
    // plant 20 near-identical vectors (tiny perturbation of 0..19)
    val planted = (0 until 20).map { i =>
      val base = embeddings.filter(col("vec_id") === i.toLong)
        .collect()(0).getSeq[Float](1).toArray
      base(0) = base(0) + 1e-4f
      (5000L + i, base)
    }.toDF("vec_id", "embedding")
    val all = embeddings.unionByName(planted).cache()
    def naive(df: DataFrame, t: Double) = {
      val e = df.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cos", round(Similarity.cosine(col("a_v"), col("b_v")), 4))
        .filter(col("cos") >= t)
        .select("a_id", "b_id", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    val ref = naive(all, 0.9)
    // exact path (n=320 ≤ exactLimit): identical pairs AND identical scores
    val exact = DedupOps.embeddingPairs(all, "vec_id", "embedding", 0.9,
      exactLimit = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact == ref, "exact path diverged from naive all-pairs")
    // LSH path (exactLimit=0 forces it): planted near-identical pairs are
    // found (same-bucket probability ≈ 1 at cos ≈ 1), scores exact, and
    // no pair below threshold leaks in
    val lsh = DedupOps.embeddingPairs(all, "vec_id", "embedding", 0.9,
      exactLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plantedFound = (0 until 20).count(i => lsh.contains((i.toLong, 5000L + i)))
    assert(plantedFound >= 18, s"LSH recall on planted near-dups: $plantedFound/20")
    lsh.foreach { case (k, v) =>
      assert(ref.contains(k) && ref(k) == v,
        s"LSH produced pair $k with score $v not matching exact ${ref.get(k)}")
    }
    all.unpersist()
  }

  test("text analysis: langId, quality, tokens, fingerprint") {
    val df = Seq(
      (1L, "the cat and the dog of a house is that big"),
      (2L, "der Hund und die Katze ist nicht ein Tier zu"),
      (3L, "xyzzy plugh")).toDF("id", "text")
      .select(col("id"), TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(1) == "en")
    assert(rows(2L).getString(1) == "de")
    assert(rows(3L).getString(1) == "und")
    assert(rows(1L).getInt(2) == 11)
    val q1 = rows(1L).getDouble(3)
    assert(q1 > 0 && q1 <= 1)
    assert(rows(1L).getString(4).length == 32)
  }

  test("deterministic split/sample: stable membership, disjoint cover, " +
      "sane proportions, purpose-independent decisions") {
    import graft.functions.Sampling
    val ids = spark.range(0, 2000).select(col("id").as("doc_id"))
    val split = ids.select(col("doc_id"),
      Sampling.splitColumn(col("doc_id")).as("split"))
    // stable across evaluations (pure projection of the id)
    assert(split.collect().toSet == ids.select(col("doc_id"),
      Sampling.splitColumn(col("doc_id")).as("split")).collect().toSet)
    // disjoint cover with sane proportions (binomial: 80/10/10 +- a few %)
    val byS = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.values.sum == 2000 && byS.keySet == Set("train", "valid", "test"))
    assert(byS("train") > 1500 && byS("train") < 1700, byS.toString)
    assert(byS("valid") > 130 && byS("valid") < 270, byS.toString)
    // sampling: deterministic, ~10%, and INDEPENDENT of the split
    // decision (different salt): the sample's split mix stays ~80/10/10
    val sampled = Sampling.deterministicSample(ids, col("doc_id"), 10)
    assert(sampled.collect().toSet ==
      Sampling.deterministicSample(ids, col("doc_id"), 10).collect().toSet)
    val n = sampled.count()
    assert(n > 140 && n < 270, s"sample size $n")
    val trainShare = sampled.join(split, "doc_id")
      .filter(col("split") === "train").count().toDouble / n
    assert(trainShare > 0.65 && trainShare < 0.92, s"share $trainShare")
  }

  test("repetition ratio: duplicate-bigram fraction with exact edges") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "a b a b a b"),  // bigrams: ab ba ab ba ab -> 5 grams, 2 distinct
      (2L, "u v w x"),      // all distinct -> 0
      (3L, "solo"),         // <2 tokens -> 0
      (4L, "")              // empty -> 0
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
      TextAnalysis.repetitionRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 3.0 / 5.0, r.toString) // 5 grams, 3 repeats
    assert(r(2L) == 0.0 && r(3L) == 0.0 && r(4L) == 0.0)
  }

  test("cross-document passage dedup: shared boilerplate drops, unique " +
      "text survives in order, fully-boilerplate docs keep an empty row") {
    import graft.functions.DedupOps
    // purpose-built corpus where every "passage" is exactly 2 tokens, so
    // chunkTokens=2 IS passage/line dedup: "dup x" is the cross-document
    // boilerplate; everything else is unique
    val lineDocs = Seq(
      (10L, "u1 a dup x u2 b"), // chunks: [u1 a][dup x][u2 b]
      (11L, "dup x u3 c"),      // chunks: [dup x][u3 c]
      (12L, "dup x")            // all boilerplate -> empty text
    ).toDF("doc_id", "text")
    val res = DedupOps.dedupPassages(lineDocs, "doc_id", "text",
      chunkTokens = 2, minDupCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res.size == 3, "row count must be preserved")
    assert(res(10L) == "u1 a u2 b", res.toString) // order preserved
    assert(res(11L) == "u3 c")
    assert(res(12L) == "") // fully-boilerplate doc survives, empty
  }

  test("multimodal metadata extraction: real plumbing, stub decode") {
    val media = (0 until 50)
      .map(i => (i.toLong, graft.sources.Ledger.makeHtml(
        graft.sources.Ledger.Config(seed = 5), s"https://m.example.com/$i", i)))
      .toDF("media_id", "payload")
    val meta = Multimodal.extractMeta(media, "media_id", "payload", Some(4))
    assert(meta.count() == 50)
    assert(meta.columns.toSet == Set("media_id", "n_bytes", "format",
      "width", "height", "n_frames", "checksum"))
    val r = meta.filter(col("media_id") === 7L).collect()(0)
    // deterministic: same payload → same metadata on every run
    val again = Multimodal.extractMeta(media, "media_id", "payload", Some(2))
      .filter(col("media_id") === 7L).collect()(0)
    assert(r.getLong(6) == again.getLong(6) && r.getInt(3) == again.getInt(3))
    assert(meta.filter(col("width") < 64).count() == 0)
  }

  test("real multimodal decode: golden-vector PPM (comments in header) " +
      "and hand-built BMP parse to exact dims/checksums; garbage with a " +
      "magic prefix falls back to the stub instead of failing") {
    // P6, 2x2, maxval 255, with a header comment; pixels 1..12
    val ppm = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++
      (1 to 12).map(_.toByte))
    val m = Multimodal.decodePpm(7L, ppm).get
    assert(m.format == "ppm" && m.width == 2 && m.height == 2 &&
      m.n_frames == 1 && m.n_bytes == ppm.length)
    assert(m.checksum == (1 to 12).sum)
    // hand-built minimal BMP: 54-byte headers + 4 pixel bytes of value 9
    val bmp = new Array[Byte](58)
    bmp(0) = 'B'; bmp(1) = 'M'
    def putLe(o: Int, v: Int): Unit = (0 until 4).foreach(k =>
      bmp(o + k) = ((v >> (8 * k)) & 0xff).toByte)
    putLe(2, 58); putLe(10, 54); putLe(14, 40)
    putLe(18, 2); putLe(22, -1) // width 2, top-down height 1
    (54 until 58).foreach(bmp(_) = 9.toByte)
    val b = Multimodal.decodeBmp(8L, bmp).get
    assert(b.format == "bmp" && b.width == 2 && b.height == 1 &&
      b.checksum == 4L * 9)
    // magic prefix + garbage: stub, not a crash (and not a bogus parse)
    val junk = "P6 not really an image".getBytes("US-ASCII")
    assert(Multimodal.decode(9L, junk).format != "ppm")
    // malformed separator after maxval (non-whitespace): not a P6
    val badSep = ("P6\n2 2\n255X".getBytes("US-ASCII") ++
      (1 to 12).map(_.toByte))
    assert(Multimodal.decodePpm(10L, badSep).isEmpty)
    // synthetic fixture round-trips through the real parser
    val sp = Multimodal.decode(77L, Multimodal.syntheticPpm(77L))
    assert(sp.format == "ppm" && sp.width == (1 + 77 % 31) &&
      sp.height == (1 + 77 % 13) &&
      sp.checksum == sp.width.toLong * sp.height * 3 * (77 % 256))
  }

  test("passage dedup broadcast bound: the size-checked broadcast branch " +
      "and the shuffled fallback produce identical output") {
    val lineDocs = Seq(
      (10L, "u1 a dup x u2 b"),
      (11L, "dup x u3 c"),
      (12L, "dup x"),
      (13L, "only unique words here ok")
    ).toDF("doc_id", "text")
    def run(maxBroadcast: Long) =
      DedupOps.dedupPassages(lineDocs, "doc_id", "text", chunkTokens = 2,
        minDupCount = 2, maxBroadcastChunks = maxBroadcast)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaBroadcast = run(4000000L) // frequent set fits: broadcast branch
    val viaShuffle = run(0L)         // forced over-threshold: shuffled anti
    assert(viaBroadcast == viaShuffle, s"$viaBroadcast vs $viaShuffle")
    assert(viaBroadcast(10L) == "u1 a u2 b" && viaBroadcast(12L) == "")
  }

  test("decontamination: documents sharing an n-gram with the eval set " +
      "are flagged, clean documents are not, short docs use the " +
      "full-sequence gram") {
    // 13-token contaminated passage planted verbatim inside doc 2 (with
    // clean text around it) and nowhere else; doc 3 shares 12 tokens but
    // not 13 in a row; doc 4 is fully clean; doc 5 is a SHORT (<13-token)
    // eval question copied verbatim
    val evalPassage = (1 to 13).map(i => s"ev$i").mkString(" ")
    val shortEval = "what is the capital of atlantis"
    val evalSet = Seq((900L, evalPassage), (901L, shortEval))
      .toDF("eid", "etext")
    val corpus = Seq(
      (1L, doc(501, 40)),                             // clean
      (2L, doc(502, 10) + " " + evalPassage + " " + doc(503, 10)), // planted
      (3L, (1 to 12).map(i => s"ev$i").mkString(" ") + " other"),  // 12 only
      (4L, doc(504, 40)),                             // clean
      (5L, shortEval),                                // short verbatim copy
      // the short-QA case the m-gram families exist for: a LONG document
      // embedding a SHORT (<n-token) eval example verbatim
      (6L, doc(505, 10) + " " + shortEval + " " + doc(506, 8))
    ).toDF("doc_id", "text")
    val out = DedupOps.decontaminate(corpus, "doc_id", "text",
      evalSet, "etext", n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(2L)._2 == 1 && out(2L)._1 >= 1L, out.toString)
    assert(out(5L) == ((1L, 1)), out.toString) // full-sequence gram hits
    assert(out(6L) == ((1L, 1)), out.toString) // embedded short eval hits
    assert(out(1L)._2 == 0 && out(3L)._2 == 0 && out(4L)._2 == 0,
      out.toString)
    assert(out.size == 6, "row count preserved")
    // the size-checked eval broadcast: forcing the shuffled fallback
    // must not change a single flag (latestPerKeyAdaptive pattern)
    val shuffled = DedupOps.decontaminate(corpus, "doc_id", "text",
      evalSet, "etext", n = 13, maxBroadcastGrams = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(shuffled == out, s"$shuffled vs $out")
  }
}
