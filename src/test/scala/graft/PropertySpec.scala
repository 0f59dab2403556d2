package graft

import graft.functions.TextExtract
import graft.icelite.IceLite
import graft.model.ChangeEvent
import graft.operators.{Dedup, Replay}
import graft.sources.Ledger
import graft.util.Det
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based layer (SURVEY.md §5.2): invariants over seeded event
  * sequences. Spark jobs are slow per-case, so each property samples a
  * handful of seeds/configs rather than the scalacheck default of 100 —
  * the space covered is seeds × knobs, not just one fixture.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Drive scalacheck generators directly (the scalatest bridge artifact
    * is not in this sandbox's offline cache): each property samples a few
    * deterministic seeds — Spark jobs are slow per-case, so the space
    * covered is seeds x knobs rather than scalacheck's default 100.
    */
  private def forAllSampled[A](gen: Gen[A], n: Int = 4)(body: A => Unit): Unit =
    (1 to n).foreach { k =>
      body(gen.pureApply(Gen.Parameters.default, Seed(k.toLong)))
    }

  private val cfgGen: Gen[Ledger.Config] = for {
    seed <- Gen.choose(1L, 100000L)
    parts <- Gen.oneOf(1, 2, 4)
    dup <- Gen.choose(0.0, 0.15)
    del <- Gen.choose(0.0, 0.15)
  } yield Ledger.Config(seed = seed, nEvents = 700, nDomains = 8,
    pagesPerDomain = 6, partitions = parts, segments = 2,
    duplicateRate = dup, deleteRate = del)

  private def stateOf(table: String): Set[(String, Long, String, String)] =
    IceLite.read(spark, table).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getString(3),
        r.getString(4))).toSet

  test("P1: applying any batch twice == applying it once (merge idempotence)") {
    forAllSampled(cfgGen) { cfg =>
      val events = Ledger.events(spark, cfg).toDF()
      val t1 = tmpDir("p1a"); val t2 = tmpDir("p1b")
      IceLite.create(t1, graft.model.Model.pagesSchema, 4)
      IceLite.create(t2, graft.model.Model.pagesSchema, 4)
      merge(t1, events, "e1")
      merge(t2, events, "e1")
      merge(t2, events, "e2") // same batch again, NEW epoch
      assert(stateOf(t1) == stateOf(t2))
    }
  }

  test("P2: any batch split point yields the same final state as one batch") {
    forAllSampled(cfgGen.flatMap(c => Gen.choose(0.1, 0.9).map((c, _)))) {
      case (cfg, frac) =>
      val events = Ledger.events(spark, cfg).toDF().cache()
      val cut = (cfg.nEvents * frac).toLong
      val one = tmpDir("p2one"); val two = tmpDir("p2two")
      IceLite.create(one, graft.model.Model.pagesSchema, 4)
      IceLite.create(two, graft.model.Model.pagesSchema, 4)
      merge(one, events, "all")
      import org.apache.spark.sql.functions._
      val g = col("offset") * cfg.partitions + col("partition")
      merge(two, events.filter(g < cut), "b1")
      merge(two, events.filter(g >= cut), "b2")
      assert(stateOf(one) == stateOf(two), s"split at $cut diverged")
      events.unpersist()
    }
  }

  test("P3: latest-wins dedup is a pure function of the event multiset") {
    forAllSampled(cfgGen) { cfg =>
      val events = Ledger.events(spark, cfg).toDF()
      // shuffled arrival order (repartition scrambles physical order)
      val shuffled = events.repartition(7)
      val a = Dedup.latestPerKey(events)
        .select("url", "offset", "partition").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val b = Dedup.latestPerKey(shuffled)
        .select("url", "offset", "partition").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == b)
      // the payload-light winner-filter form (used by the batch replay
      // path in Merge) picks the SAME winning event per url
      val c = Dedup.latestPerKeyAdaptive(
        shuffled.filter(col("op") =!= "ALTER"), nBuckets = 8)._1
        .select("url", "offset", "partition").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val aData = Dedup.latestPerKey(events.filter(col("op") =!= "ALTER"))
        .select("url", "offset", "partition").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(c == aData)
    }
  }

  test("P4: same seed => byte-identical ledger; different seed => different") {
    forAllSampled(Gen.choose(1L, 1000000L)) { seed =>
      val cfg = Ledger.Config(seed = seed, nEvents = 300, partitions = 2)
      val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
      val a = (0L until 300L).map(i => Ledger.makeEvent(cfg, cdf, i))
      val b = (0L until 300L).map(i => Ledger.makeEvent(cfg, cdf, i))
      (a zip b).foreach { case (x, y) =>
        assert(x.copy(html = null) == y.copy(html = null))
        assert((x.html == null) == (y.html == null))
        if (x.html != null) assert(java.util.Arrays.equals(x.html, y.html))
      }
      val other = (0L until 300L)
        .map(i => Ledger.makeEvent(cfg.copy(seed = seed + 1), cdf, i))
      assert((a zip other).exists { case (x, y) => x.url != y.url })
    }
  }

  test("P6: dedupPassages == naive per-corpus reference on random corpora " +
      "(chunking, global frequency, order, row preservation)") {
    val corpusGen: Gen[(List[String], Int, Int)] = for {
      nDocs <- Gen.choose(3, 12)
      vocab <- Gen.choose(2, 6) // tiny vocab forces chunk collisions
      chunkW <- Gen.oneOf(1, 2, 3)
      minDup <- Gen.oneOf(2, 3)
      docs <- Gen.listOfN(nDocs, Gen.choose(0, 24).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i"))
          .map(_.mkString(" "))))
    } yield (docs, chunkW, minDup)
    forAllSampled(corpusGen, n = 6) { case (docs, chunkW, minDup) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.functions.DedupOps
        .dedupPassages(df, "doc_id", "text", chunkW, minDup)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // naive reference, driver-side (CLAUDE.md: references in Scala)
      def chunksOf(t: String): Seq[String] =
        t.split(" ", -1).toSeq.grouped(chunkW).map(_.mkString(" ")).toSeq
      val freq = docs.flatMap(chunksOf).groupBy(identity)
        .collect { case (c, occ) if occ.size >= minDup => c }.toSet
      val want = docs.zipWithIndex.map { case (t, i) =>
        i.toLong -> chunksOf(t).filterNot(freq).mkString(" ")
      }.toMap
      assert(got == want, s"chunkW=$chunkW minDup=$minDup docs=$docs")
    }
  }

  test("P7: decontaminate == naive n-gram containment on random corpora " +
      "(short-doc clamp, distinct-gram counting, row preservation)") {
    val corpusGen: Gen[(List[String], Int)] = for {
      nDocs <- Gen.choose(4, 12)
      vocab <- Gen.choose(2, 5) // tiny vocab forces shared n-grams
      n <- Gen.oneOf(2, 3)
      docs <- Gen.listOfN(nDocs, Gen.choose(0, 14).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, vocab - 1).map(i => s"w$i"))
          .map(_.mkString(" "))))
    } yield (docs, n)
    forAllSampled(corpusGen, n = 6) { case (docs, n) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val eval = df.filter(col("doc_id") % 3 === 0).select(col("text"))
      val got = graft.functions.DedupOps
        .decontaminate(df, "doc_id", "text", eval, "text", n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // naive reference, driver-side: same tokenization, clamp rule, and
      // short-eval m-gram window families
      def windowsAt(ts: Seq[String], m: Int): Set[String] =
        if (ts.length < m) Set.empty
        else (0 to ts.length - m).map(i => ts.slice(i, i + m).mkString(" "))
          .toSet
      def clampGrams(t: String): Set[String] = {
        val ts = t.split(" ", -1).toSeq
        if (ts.length < n) Set(ts.mkString(" ")) else windowsAt(ts, n)
      }
      val evalDocsL = docs.zipWithIndex.collect {
        case (t, i) if i % 3 == 0 => t
      }
      val evalGrams = evalDocsL.flatMap(clampGrams).toSet
      val lens = evalDocsL.map(_.split(" ", -1).length)
        .filter(m => m >= 1 && m < n).distinct
      val want = docs.zipWithIndex.map { case (t, i) =>
        val ts = t.split(" ", -1).toSeq
        val grams = clampGrams(t) ++ lens.flatMap(m => windowsAt(ts, m))
        val hits = grams.count(evalGrams.contains)
        (i.toLong, hits.toLong, if (hits > 0) 1 else 0)
      }.toSet
      assert(got == want, s"n=$n docs=$docs")
    }
  }

  test("P5: extract_text is total and idempotent-ish on arbitrary bytes") {
    forAllSampled(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .flatMap(b => Gen.alphaNumStr.map((b, _))), n = 12) { case (bytes, s) =>
      val b = bytes.toArray
      val out = TextExtract.extract(b) // must never throw
      assert(out != null)
      // extracting already-extracted plain text with no '<'/'&' is identity
      val plain = TextExtract.extract(s.getBytes("UTF-8"))
      assert(TextExtract.extract(plain.getBytes("UTF-8")) == plain)
    }
  }
}
