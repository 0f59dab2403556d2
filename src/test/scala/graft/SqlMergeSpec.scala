package graft

import graft.functions.Salt
import graft.icelite.IceLite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL `MERGE INTO` surface (operators/SqlMerge): standard MERGE
  * semantics over icelite tables through plain `spark.sql`, with
  * bucket-scoped rewrites and serializable commits.
  */
class SqlMergeSpec extends SparkTestBase {
  import spark.implicits._

  private var n = 0

  /** Fresh icelite table registered in the session catalog; returns
    * (sql table name, table dir). Rows: (url, v, tag, deleted).
    */
  private def mkTable(nBuckets: Int,
      rows: Seq[(String, Long, String, Boolean)]): (String, String) = {
    val dir = tmpDir("sqlmerge")
    val struct = StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("tag", StringType, nullable = true)))
    IceLite.create(dir, struct, nBuckets)
    val m = IceLite.load(dir)
    val df = rows.toDF("url", "v", "tag", "_deleted")
      .withColumn("_offset", (col("v") * 10).cast(LongType))
      .withColumn("_partition", lit(0).cast(IntegerType))
      .withColumn("_bucket", Salt.bucket(col("url"), nBuckets))
      .select("url", "v", "tag", "_offset", "_partition", "_deleted",
        "_bucket")
    val staged = IceLite.stageFiles(dir, "init.1", df, m.currentSchemaId)
    IceLite.commit(dir, "init.1", "append", newFiles = staged)
    n += 1
    val name = s"sqlmerge_t$n"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING icelite OPTIONS (path '$dir')")
    (name, dir)
  }

  private def state(dir: String): Map[String, (Long, String)] =
    IceLite.read(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  test("update + insert + delete in one statement") {
    val (t, dir) = mkTable(4, Seq(
      ("a", 1L, "old", false), ("b", 2L, "old", false),
      ("c", 3L, "old", false)))
    Seq(("a", 10L), ("c", 30L), ("d", 40L)).toDF("u", "nv")
      .createOrReplaceTempView("src1")
    spark.sql(s"""
      MERGE INTO $t tg USING src1 s ON tg.url = s.u
      WHEN MATCHED AND s.nv >= 30 THEN DELETE
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv, tg.tag = 'upd'
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'ins')
    """)
    assert(state(dir) === Map(
      "a" -> (10L, "upd"), "b" -> (2L, "old"), "d" -> (40L, "ins")))
    val m = IceLite.load(dir)
    assert(m.operation == "sqlmerge")
    // unassigned insert columns default to null; updated rows keep their
    // stored CDC position, inserted rows have none
    val pos = IceLite.readInternal(spark, dir).filter(!col("_deleted"))
      .select("url", "_offset").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(pos("a") == 10L && pos("b") == 20L && pos("d") == -1L)
  }

  test("clause order gives priority; SELECT sees the merge through SQL") {
    val (t, dir) = mkTable(2, Seq(("a", 1L, "x", false)))
    Seq(("a", 5L)).toDF("u", "nv").createOrReplaceTempView("src2")
    // both clauses match; the FIRST wins (update, not delete)
    spark.sql(s"""
      MERGE INTO $t tg USING src2 s ON tg.url = s.u
      WHEN MATCHED AND s.nv > 0 THEN UPDATE SET tg.v = s.nv
      WHEN MATCHED THEN DELETE
    """)
    assert(state(dir) === Map("a" -> (5L, "x")))
    assert(spark.sql(s"SELECT v FROM $t WHERE url = 'a'")
      .head.getLong(0) == 5L)
  }

  test("NOT MATCHED BY SOURCE update and delete") {
    val (t, dir) = mkTable(2, Seq(
      ("a", 1L, "x", false), ("b", 2L, "x", false), ("c", 9L, "x", false)))
    Seq(("a", 10L)).toDF("u", "nv").createOrReplaceTempView("src3")
    spark.sql(s"""
      MERGE INTO $t tg USING src3 s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      WHEN NOT MATCHED BY SOURCE AND tg.v > 5 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tg.tag = 'stale'
    """)
    assert(state(dir) === Map("a" -> (10L, "x"), "b" -> (2L, "stale")))
  }

  test("multiple matches: no firing clause keeps the row ONCE; a firing " +
      "update errors (cardinality violation)") {
    val (t, dir) = mkTable(2, Seq(("a", 1L, "x", false)))
    Seq(("a", 1L), ("a", 2L)).toDF("u", "nv").createOrReplaceTempView("src4")
    // conditions never fire -> target row must survive exactly once
    spark.sql(s"""
      MERGE INTO $t tg USING src4 s ON tg.url = s.u
      WHEN MATCHED AND s.nv > 99 THEN DELETE
    """)
    assert(IceLite.read(spark, dir).filter($"url" === "a").count() == 1)
    assert(state(dir) === Map("a" -> (1L, "x")))
    // two copies firing -> error, and the table is untouched
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $t tg USING src4 s ON tg.url = s.u
        WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      """)
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("cardinality")))
    assert(state(dir) === Map("a" -> (1L, "x")))
  }

  test("bucket-scoped rewrite with scan pruning: untouched buckets keep " +
      "their exact files") {
    val urls = (0 until 40).map(i => s"u$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    val before = IceLite.load(dir)
    Seq(("u7", 70L), ("zz9", 99L)).toDF("u", "nv")
      .createOrReplaceTempView("src5")
    spark.sql(s"""
      MERGE INTO $t tg USING src5 s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'ins')
    """)
    val after = IceLite.load(dir)
    // the only buckets whose file sets changed are the two key buckets
    val changedBuckets = (0 until 8).filter { b =>
      before.files.filter(_.bucket == b).map(_.path).toSet !=
        after.files.filter(_.bucket == b).map(_.path).toSet
    }.toSet
    val keyBuckets = Seq("u7", "zz9")
      .map(u => spark.range(1)
        .select(Salt.bucket(lit(u), 8)).head.getInt(0)).toSet
    assert(changedBuckets == keyBuckets)
    assert(state(dir).get("u7").contains((70L, "x")))
    assert(state(dir).get("zz9").contains((99L, "ins")))
    assert(state(dir).size == 41)
  }

  test("tombstones in rewritten buckets survive unless the key is " +
      "re-inserted") {
    val (t, dir) = mkTable(1, Seq(
      ("live", 1L, "x", false), ("dead1", 2L, "x", true),
      ("dead2", 3L, "x", true)))
    Seq(("live", 10L), ("dead2", 30L)).toDF("u", "nv")
      .createOrReplaceTempView("src6")
    spark.sql(s"""
      MERGE INTO $t tg USING src6 s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'ins')
    """)
    // dead2 was tombstoned -> invisible to MERGE -> re-inserted live,
    // its tombstone dropped; dead1's tombstone must survive the rewrite
    val internal = IceLite.readInternal(spark, dir)
      .select("url", "_deleted").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(internal == Set(("live", false), ("dead2", false),
      ("dead1", true)))
    assert(state(dir) === Map("live" -> (10L, "x"), "dead2" -> (30L, "ins")))
  }

  test("UPDATE: conditional set, scan pruned to the key's bucket, " +
      "unassigned columns keep their values") {
    val urls = (0 until 24).map(i => s"w$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    val before = IceLite.load(dir)
    spark.sql(s"UPDATE $t SET v = 100 WHERE url = 'w3'")
    val after = IceLite.load(dir)
    assert(after.operation == "sqlupdate")
    val changedBuckets = (0 until 8).filter { b =>
      before.files.filter(_.bucket == b).map(_.path).toSet !=
        after.files.filter(_.bucket == b).map(_.path).toSet
    }.toSet
    val w3Bucket = spark.range(1)
      .select(Salt.bucket(lit("w3"), 8)).head.getInt(0)
    assert(changedBuckets == Set(w3Bucket))
    assert(state(dir)("w3") == (100L, "x"))
    assert(state(dir)("w4") == (1L, "x"))
    assert(state(dir).size == 24)
  }

  test("UPDATE reassigning the key moves the row between buckets") {
    val (t, dir) = mkTable(8, Seq(("a", 1L, "x", false), ("b", 2L, "x", false)))
    spark.sql(s"UPDATE $t SET url = 'moved', tag = 'm' WHERE url = 'a'")
    assert(state(dir) === Map("moved" -> (1L, "m"), "b" -> (2L, "x")))
    // layout invariant holds after the move: the row is findable through
    // a bucket-pruned point lookup on its NEW key
    val hit = spark.sql(s"SELECT v FROM $t WHERE url = 'moved'")
    assert(hit.head.getLong(0) == 1L)
  }

  test("DELETE: matching rows gone, tombstones in rewritten buckets " +
      "survive, no-op DELETE commits nothing") {
    val (t, dir) = mkTable(1, Seq(
      ("a", 1L, "x", false), ("b", 7L, "x", false), ("dead", 3L, "x", true)))
    spark.sql(s"DELETE FROM $t WHERE v > 5")
    assert(state(dir) === Map("a" -> (1L, "x")))
    assert(IceLite.load(dir).operation == "sqldelete")
    val internal = IceLite.readInternal(spark, dir)
      .select("url", "_deleted").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(internal == Set(("a", false), ("dead", true)))
    val v0 = IceLite.load(dir).version
    spark.sql(s"DELETE FROM $t WHERE v > 999")
    assert(IceLite.load(dir).version == v0)
    // unconditional delete empties the table
    spark.sql(s"DELETE FROM $t")
    assert(IceLite.read(spark, dir).count() == 0)
  }

  test("DELETE pinned to keys: scan pruned to the keys' buckets, only " +
      "those buckets rewritten; a nondeterministic WHERE deletes through " +
      "the single-evaluation checkpoint path") {
    val urls = (0 until 32).map(i => s"d$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    val before = IceLite.load(dir)
    spark.sql(s"DELETE FROM $t WHERE url IN ('d3', 'd17', 'absent')")
    val after = IceLite.load(dir)
    assert(after.operation == "sqldelete")
    val changed = (0 until 8).filter { b =>
      before.files.filter(_.bucket == b).map(_.path).toSet !=
        after.files.filter(_.bucket == b).map(_.path).toSet
    }.toSet
    val keyBuckets = Seq("d3", "d17").map(u => spark.range(1)
      .select(Salt.bucket(lit(u), 8)).head.getInt(0)).toSet
    assert(changed == keyBuckets)
    assert(state(dir).keySet == urls.toSet -- Set("d3", "d17"))
    // rand() < 2 is always true but not repeatable: one evaluation
    // feeds the probe and the write, and every row goes
    spark.sql(s"DELETE FROM $t WHERE rand() < 2")
    assert(IceLite.read(spark, dir).count() == 0)
  }

  test("UPDATE pinned by a null-safe key equality never opens another " +
      "bucket (destroyed buckets prove the scan pruning)") {
    val urls = (0 until 24).map(i => s"w$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    val wb = Salt.bucketOfValue("w3", 8)
    val before = IceLite.load(dir)
    val others = before.files.filter(_.bucket != wb)
    assert(others.nonEmpty, "fixture must span several buckets")
    // an unpruned probe or rewrite would now fail at scan time
    others.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    spark.sql(s"UPDATE $t SET tag = 'hit' WHERE url <=> 'w3'")
    val after = IceLite.load(dir)
    assert(after.operation == "sqlupdate")
    assert(after.files.filter(_.bucket != wb) == others, "only w3's bucket rewritten")
    val inBucket = IceLite.readInternal(spark, dir, buckets = Some(Set(wb)))
      .filter(!col("_deleted")).select("url", "tag").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inBucket("w3") == "hit")
    assert((inBucket - "w3").values.forall(_ == "x"))
  }

  test("SQL DML on an EVOLVED table: renamed + added columns, " +
      "mixed-schema files reconcile through the rewrite") {
    val (_, dir) = mkTable(2, Seq(("a", 1L, "x", false), ("b", 2L, "x", false)))
    // metadata-only evolution AFTER the first files were written: the
    // table now mixes schema-1 files with a schema-2 definition
    graft.operators.SchemaEvolution(dir,
      """{"renameColumn":{"from":"tag","to":"label"}}""", "alt.1")
    graft.operators.SchemaEvolution(dir,
      """{"addColumn":{"name":"score","type":"long"}}""", "alt.2")
    // the catalog entry must see the NEW schema (fresh table name —
    // v1 relations cache their schema at resolution)
    n += 1
    val t2 = s"sqlmerge_t$n"
    spark.sql(s"CREATE TABLE $t2 USING icelite OPTIONS (path '$dir')")
    spark.sql(s"UPDATE $t2 SET label = 'seen', score = 9 WHERE url = 'a'")
    val rows = IceLite.read(spark, dir).orderBy("url").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.toSeq == Seq(("a", 1L, "seen", 9L), ("b", 2L, "x", -1L)))
    // merge through SQL on the evolved schema too
    Seq(("c", 30L)).toDF("u", "nv").createOrReplaceTempView("src_evo")
    spark.sql(s"""
      MERGE INTO $t2 tg USING src_evo s ON tg.url = s.u
      WHEN NOT MATCHED THEN INSERT (url, v, label) VALUES (s.u, s.nv, 'ins')
    """)
    val c = IceLite.read(spark, dir).filter(col("url") === "c").head
    assert(c.getLong(1) == 30L && c.getString(2) == "ins" && c.isNullAt(3))
  }

  test("MERGE WITH SCHEMA EVOLUTION: explicit assignment to a new source " +
      "column adds it (metadata-only), old rows null-fill, untouched " +
      "buckets keep their exact files") {
    val urls = (0 until 24).map(i => s"e$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    val before = IceLite.load(dir)
    Seq(("e3", 30L, "NEW")).toDF("u", "nv", "extra")
      .createOrReplaceTempView("src_evo1")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo1 s
      ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv, tg.extra = s.extra
      WHEN NOT MATCHED THEN INSERT (url, v, extra) VALUES (s.u, s.nv, s.extra)
    """)
    val after = IceLite.load(dir)
    // the column landed as a METADATA-ONLY evolution + a bucket-scoped
    // rewrite: only e3's bucket's files changed
    assert(after.currentSchema.fields.map(_.name) ==
      Seq("url", "v", "tag", "extra"))
    val changed = (0 until 8).filter { b =>
      before.files.filter(_.bucket == b).map(_.path).toSet !=
        after.files.filter(_.bucket == b).map(_.path).toSet
    }.toSet
    assert(changed == Set(spark.range(1)
      .select(Salt.bucket(lit("e3"), 8)).head.getInt(0)))
    val rows = IceLite.read(spark, dir).select("url", "v", "extra").collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows("e3") == (30L, "NEW"))
    assert(rows("e4") == (1L, null)) // untouched row null-fills on read
    assert(rows.size == 24)
  }

  test("MERGE WITH SCHEMA EVOLUTION: INSERT * pulls in every missing " +
      "source column; unreferenced-source merge without star adds nothing") {
    val (t, dir) = mkTable(4, Seq(("a", 1L, "x", false)))
    // source shaped like the target + one extra column
    Seq(("b", 2L, "ins", "B2")).toDF("url", "v", "tag", "note")
      .createOrReplaceTempView("src_evo2")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo2 s
      ON tg.url = s.url
      WHEN NOT MATCHED THEN INSERT *
    """)
    assert(IceLite.load(dir).currentSchema.fields.map(_.name) ==
      Seq("url", "v", "tag", "note"))
    val b = IceLite.read(spark, dir).filter(col("url") === "b").head
    assert(b.getLong(1) == 2L && b.getString(2) == "ins" &&
      b.getString(3) == "B2")
    // the catalog caches v1 relations: after the evolution the next
    // statement must re-resolve against the NEW schema
    spark.sql(s"REFRESH TABLE $t")
    // WITHOUT star and without assigning the extra column, the schema
    // must NOT grow (unreferenced source columns never pollute the table)
    Seq(("c", 3L, "zz")).toDF("u", "nv", "junk")
      .createOrReplaceTempView("src_evo3")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo3 s ON tg.url = s.u
      WHEN NOT MATCHED THEN INSERT (url, v) VALUES (s.u, s.nv)
    """)
    assert(IceLite.load(dir).currentSchema.fields.map(_.name) ==
      Seq("url", "v", "tag", "note"))
  }

  test("MERGE WITH SCHEMA EVOLUTION is ATOMIC: a statement that fails " +
      "(key-uniqueness abort) or matches nothing leaves the table schema " +
      "and version untouched — the evolution rides the merge's own commit") {
    val (t, dir) = mkTable(4, Seq(("a", 1L, "x", false)))
    val v0 = IceLite.load(dir).version
    // duplicate source keys would mint two live rows for url z: the
    // statement aborts during the write — the 'extra' column must NOT
    // survive as a leaked half-applied ALTER (Delta-style atomicity)
    Seq(("z", 1L, "E1"), ("z", 2L, "E2")).toDF("u", "nv", "extra")
      .createOrReplaceTempView("src_evo_fail")
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo_fail s
        ON tg.url = s.u
        WHEN NOT MATCHED THEN
          INSERT (url, v, extra) VALUES (s.u, s.nv, s.extra)
      """)
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("uniqueness")), msgs(e).mkString("|"))
    assert(IceLite.load(dir).version == v0, "failed MERGE must not commit")
    assert(IceLite.load(dir).currentSchema.fields.map(_.name) ==
      Seq("url", "v", "tag"), "failed statement must not evolve the schema")
    // a matching-nothing evolving statement no-ops without a schema commit
    Seq(("a", 9L, "E")).toDF("u", "nv", "extra")
      .createOrReplaceTempView("src_evo_noop")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo_noop s
      ON tg.url = s.u
      WHEN MATCHED AND s.nv < 0 THEN UPDATE SET tg.extra = s.extra
    """)
    assert(IceLite.load(dir).version == v0 &&
      IceLite.load(dir).currentSchema.fields.map(_.name) ==
        Seq("url", "v", "tag"))
    // and the successful form still evolves + applies in ONE version bump
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_evo_noop s
      ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv, tg.extra = s.extra
    """)
    val after = IceLite.load(dir)
    assert(after.version == v0 + 1, "evolution + merge = one atomic commit")
    assert(after.currentSchema.fields.map(_.name) ==
      Seq("url", "v", "tag", "extra"))
    val a = IceLite.read(spark, dir).filter(col("url") === "a").head
    assert(a.getLong(1) == 9L && a.getString(3) == "E")
  }

  test("field ids are never reused after dropColumn: neither the ALTER " +
      "interpreter nor MERGE WITH SCHEMA EVOLUTION may resurrect a " +
      "dropped column's stored values into a new column") {
    import graft.operators.SchemaEvolution
    val (t, dir) = mkTable(4, Seq(("a", 1L, "ghost", false)))
    val tagId = IceLite.load(dir).currentSchema.fields
      .find(_.name == "tag").get.id
    SchemaEvolution(dir, """{"dropColumn":{"name":"tag"}}""", "drop-tag")
    // ALTER-interpreter path: the new column must mint a FRESH id — the
    // old files store "ghost" under tagId, and a reused id would
    // reconcile it straight into 'extra'
    SchemaEvolution(dir, """{"addColumn":{"name":"extra","type":"string"}}""",
      "add-extra")
    val m = IceLite.load(dir)
    assert(m.currentSchema.fields.find(_.name == "extra").get.id != tagId)
    val r = IceLite.read(spark, dir).select(col("url"), col("extra")).head
    assert(r.isNullAt(1), "pre-drop rows must null-fill, not resurrect tag")
    // MERGE WITH SCHEMA EVOLUTION path mints above ALL schemas' ids too
    spark.sql(s"REFRESH TABLE $t")
    Seq(("b", 2L, "N")).toDF("u", "nv", "note")
      .createOrReplaceTempView("src_ghost")
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $t tg USING src_ghost s
      ON tg.url = s.u
      WHEN NOT MATCHED THEN INSERT (url, v, note) VALUES (s.u, s.nv, s.note)
    """)
    val m2 = IceLite.load(dir)
    assert(m2.currentSchema.fields.find(_.name == "note").get.id != tagId)
    val rows = IceLite.read(spark, dir).select(col("url"), col("note"))
      .collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getString(1)))
      .toMap
    assert(rows("a") == null && rows("b") == "N", rows.toString)
  }

  test("MERGE with an icelite table as SOURCE: correct result via the " +
      "single-evaluation checkpoint path (a mutable source must never be " +
      "scanned twice — probe and write would see different rows)") {
    val (t, dir) = mkTable(4, Seq(("a", 1L, "x", false), ("b", 2L, "x", false)))
    val (src, _) = mkTable(4, Seq(("a", 10L, "s", false), ("c", 30L, "s", false)))
    spark.sql(s"""
      MERGE INTO $t tg
      USING (SELECT url AS u, v AS nv FROM $src) s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'ins')
    """)
    assert(state(dir) === Map("a" -> (10L, "x"), "b" -> (2L, "x"),
      "c" -> (30L, "ins")))
  }

  test("key uniqueness: UPDATE reassigning a key onto an existing live " +
      "key fails before commit; MERGE inserting duplicate source keys " +
      "fails too") {
    val (t, dir) = mkTable(4, Seq(("a", 1L, "x", false), ("b", 2L, "x", false)))
    val v0 = IceLite.load(dir).version
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    val e1 = intercept[Exception] {
      spark.sql(s"UPDATE $t SET url = 'b' WHERE url = 'a'")
    }
    assert(msgs(e1).exists(_.contains("uniqueness")), msgs(e1).mkString("|"))
    assert(IceLite.load(dir).version == v0, "failed UPDATE must not commit")
    assert(state(dir) === Map("a" -> (1L, "x"), "b" -> (2L, "x")))
    // two unmatched source rows with the SAME new key would both insert
    Seq(("z", 1L), ("z", 2L)).toDF("u", "nv").createOrReplaceTempView("dupsrc")
    val e2 = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $t tg USING dupsrc s ON tg.url = s.u
        WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'i')
      """)
    }
    assert(msgs(e2).exists(_.contains("uniqueness")), msgs(e2).mkString("|"))
    assert(IceLite.load(dir).version == v0, "failed MERGE must not commit")
    // the aborted writes leave no staging dir behind
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir, "data"))
      .anyMatch(_.getFileName.toString.startsWith(".staging-")))
    // a legal key move still works (the guard only rejects collisions)
    spark.sql(s"UPDATE $t SET url = 'c' WHERE url = 'a'")
    assert(state(dir) === Map("c" -> (1L, "x"), "b" -> (2L, "x")))
  }

  test("full-table (unpruned) UPDATE on a non-key column rewrites only " +
      "the hit buckets; a nondeterministic WHERE updates every row") {
    val urls = (0 until 32).map(i => s"f$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, u.drop(1).toLong, "x", false)))
    val before = IceLite.load(dir)
    // hits rows 30,31 only — WHERE on a NON-key column, so no pruning:
    // the affected-bucket collect must still narrow the rewrite to their
    // buckets
    spark.sql(s"UPDATE $t SET tag = 'big' WHERE v >= 30")
    val after = IceLite.load(dir)
    val changed = (0 until 8).filter { b =>
      before.files.filter(_.bucket == b).map(_.path).toSet !=
        after.files.filter(_.bucket == b).map(_.path).toSet
    }.toSet
    val hitBuckets = Seq("f30", "f31").map(u => spark.range(1)
      .select(Salt.bucket(lit(u), 8)).head.getInt(0)).toSet
    assert(changed == hitBuckets)
    assert(state(dir)("f30") == (30L, "big") && state(dir)("f31") == (31L, "big"))
    assert(state(dir)("f0") == (0L, "x"))
    // nondeterministic WHERE (rand() < 2 is always true): the frozen
    // frame's one evaluation must update all
    spark.sql(s"UPDATE $t SET tag = 'all' WHERE rand() < 2")
    assert(state(dir).values.forall(_._2 == "all"))
  }

  test("MERGE on a NON-key condition with an unrelated insert " +
      "key: a matched-but-unchanged row outside the affected buckets " +
      "must not resurface as a spurious INSERT") {
    val (t, dir) = mkTable(4, Seq(("a", 1L, "x", false), ("b", 2L, "x", false)))
    val bucketOf = (u: String) => spark.range(1)
      .select(Salt.bucket(lit(u), 4)).head.getInt(0)
    assume(bucketOf("a") != bucketOf("b")) // fixture precondition
    // an insert key that lands in a's (affected) bucket but differs from b
    val zb = (0 until 64).map(i => s"z$i")
      .find(u => bucketOf(u) == bucketOf("a")).get
    // s1 matches a AND fires (affected = {bucket(a)}); s2 matches b with
    // NO firing clause — if the write pruned the target scan to affected
    // buckets, s2 would look unmatched and wrongly insert zb INTO an
    // affected bucket
    Seq((1L, 1, "ign"), (2L, 0, zb)).toDF("mv", "fire", "u")
      .createOrReplaceTempView("src_np")
    spark.sql(s"""
      MERGE INTO $t tg USING src_np s ON tg.v = s.mv
      WHEN MATCHED AND s.fire = 1 THEN UPDATE SET tg.tag = 'upd'
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.mv, 'ins')
    """)
    assert(state(dir) === Map("a" -> (1L, "upd"), "b" -> (2L, "x")),
      "spurious insert from a target scan pruned to the affected buckets")
  }

  test("each statement evaluates its inputs once and releases its " +
      "checkpoints on every exit path") {
    val calls = spark.sparkContext.longAccumulator("sqlmerge_udf_calls")
    spark.udf.register("counted", (s: String) => { calls.add(1); s })
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def counting(body: => Unit): Long = {
      val before = persisted()
      calls.reset()
      body
      assert(persisted().subsetOf(before), "a statement checkpoint outlived it")
      calls.sum
    }
    val urls = (0 until 24).map(i => s"c$i")
    val (t, dir) = mkTable(8, urls.map(u => (u, 1L, "x", false)))
    // full-table UPDATE (WHERE on a non-key column): once per target row
    assert(counting(spark.sql(
      s"UPDATE $t SET tag = 'y' WHERE counted(tag) IS NOT NULL")) == 24)
    assert(state(dir).values.forall(_._2 == "y"))
    // key-pinned MERGE whose source key goes through the UDF: the bucket
    // probe and the join read one frozen source, once per source row
    Seq(("c1", 10L), ("c2", 20L), ("new", 30L)).toDF("u", "nv")
      .createOrReplaceTempView("src_cnt")
    assert(counting(spark.sql(s"""
      MERGE INTO $t tg USING (SELECT counted(u) AS u, nv FROM src_cnt) s
      ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
      WHEN NOT MATCHED THEN INSERT (url, v, tag) VALUES (s.u, s.nv, 'ins')
    """)) == 3)
    assert(state(dir)("c1") == (10L, "y") && state(dir)("new") == (30L, "ins"))
    // the no-op and the failing exits release their checkpoints too
    val v0 = IceLite.load(dir).version
    counting(spark.sql(s"""
      MERGE INTO $t tg USING (SELECT counted(u) AS u, nv FROM src_cnt) s
      ON tg.url = s.u WHEN MATCHED AND s.nv < 0 THEN DELETE
    """))
    Seq(("c1", 1L), ("c1", 2L)).toDF("u", "nv")
      .createOrReplaceTempView("src_cnt_dup")
    counting(intercept[Exception](spark.sql(s"""
      MERGE INTO $t tg USING src_cnt_dup s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
    """)))
    counting(intercept[Exception](spark.sql(
      s"UPDATE $t SET url = 'c2' WHERE url = 'c1'")))
    assert(IceLite.load(dir).version == v0)
  }

  test("no-op merge (no clause fires) commits nothing") {
    val (t, dir) = mkTable(2, Seq(("a", 1L, "x", false)))
    val v0 = IceLite.load(dir).version
    Seq(("nope", 5L)).toDF("u", "nv").createOrReplaceTempView("src7")
    spark.sql(s"""
      MERGE INTO $t tg USING src7 s ON tg.url = s.u
      WHEN MATCHED THEN UPDATE SET tg.v = s.nv
    """)
    assert(IceLite.load(dir).version == v0)
    assert(state(dir) === Map("a" -> (1L, "x")))
  }
}
