package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.etl.Ops
import graft.io.{Readers, StateTable}
import graft.operators.Skew
import graft.schema.Schemas

/** Per-operator specs for the relational core (SURVEY.md §2.3-§2.10),
  * focused on the edge cases the reference's DynamicFrame semantics hide:
  * absent columns, null/empty arrays, join misses, ties.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, Seq[String], String)*) =
    rows.toSeq.toDF("itemId", "recs", "error")
      .select(struct(col("itemId")).as("input"),
        struct(col("recs").as("recommendedItems")).as("output"),
        col("error"))

  test("splitErrors partitions on error nullability and drops the column") {
    val (ok, err) = Ops.splitErrors(batch(
      ("1", Seq("a"), null), ("2", Seq("b"), "boom")))
    assert(ok.columns.toSeq == Seq("input", "output"))
    assert(ok.select("input.itemId").as[String].collect().toSeq == Seq("1"))
    assert(err.select("error").as[String].collect().toSeq == Seq("boom"))
  }

  test("splitErrors works when no input line carried error (backfill)") {
    val dir = tmpDir("backfill")
    Seq("1", "2").toDF("itemId")
      .select(struct(col("itemId")).as("input"),
        struct(array(lit("x")).as("recommendedItems")).as("output"))
      .write.mode("overwrite").json(dir)
    val df = Readers.jsonl(spark, dir, Schemas.relatedItemsBatchInference)
    val (ok, err) = Ops.splitErrors(df)
    assert(ok.count() == 2 && err.count() == 0)
  }

  test("explodeRecs keeps parents with null and empty arrays (outer)") {
    val df = batch(("1", Seq("a", "b"), null), ("2", null, null),
      ("3", Seq.empty[String], null))
    val out = Ops.explodeRecs(df, "input.itemId", "queryItemId", Nil)
      .select("queryItemId", "pos", "recItemId").collect()
    assert(out.length == 4) // 2 recs + 1 null-array parent + 1 empty-array
    val parents = out.filter(r => r.isNullAt(1))
    assert(parents.map(_.getString(0)).toSet == Set("2", "3"))
  }

  test("explodeRecs preserves array order via pos") {
    val df = batch(("1", Seq("z", "a", "m"), null))
    val out = Ops.explodeRecs(df, "input.itemId", "queryItemId", Nil)
      .orderBy("pos").select("recItemId").as[String].collect()
    assert(out.toSeq == Seq("z", "a", "m")) // NOT alphabetical: pos order
  }

  test("decorate left-join miss keeps itemId with null metadata") {
    val exploded = Seq(("1", 0, "a"), ("1", 1, "missing"))
      .toDF("queryItemId", "pos", "recItemId")
    val meta = Seq(("a", "BrandA")).toDF("id", "p_brand")
    val out = Ops.decorate(exploded, Some(meta), Seq("p_brand"))
      .orderBy("pos")
      .select("recItem.itemId", "recItem.p_brand").collect()
    assert(out(0) == Row("a", "BrandA"))
    assert(out(1) == Row("missing", null))
  }

  test("decorate without metadata yields bare {itemId} struct, null-guarded") {
    val exploded = Seq(("1", Some(0), Some("a")), ("2", None, None))
      .toDF("queryItemId", "pos", "recItemId")
    val out = Ops.decorate(exploded, None, Nil).orderBy("queryItemId")
      .select("recItem").collect()
    assert(out(0).getStruct(0) == Row("a"))
    assert(out(1).isNullAt(0)) // outer-explode parent stays null
  }

  test("decorate empty metadataFields means all metadata fields") {
    val exploded = Seq(("1", 0, "a")).toDF("queryItemId", "pos", "recItemId")
    val meta = Seq(("a", "B", 9.5)).toDF("id", "brand", "price")
    val out = Ops.decorate(exploded, Some(meta), Nil).select("recItem.*")
    assert(out.columns.toSeq == Seq("itemId", "brand", "price"))
  }

  test("decorate keeps exploded columns a metadata field shares a name with") {
    val exploded = Ops.explodeRecs(
      batch(("1", Seq("a", "b"), null), ("2", null, null)),
      "input.itemId", "queryItemId", Nil)
    val plain = Seq(("a", "BrandA")).toDF("id", "brand")
    val clashing = Seq(("a", "BrandA", 7L, "q")).toDF(
      "id", "brand", "pos", "queryItemId")
    def decorated(meta: org.apache.spark.sql.DataFrame) =
      Ops.decorate(exploded, Some(meta), Seq("brand"))
    val (want, got) = (decorated(plain), decorated(clashing))
    assert(got.columns.toSeq == Seq("queryItemId", "pos", "recItem"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val assembled = Ops.assembleRecommendations(got, Seq("queryItemId"))
      .orderBy("queryItemId").select("recommendations.itemId")
      .as[Seq[String]].collect()
    assert(assembled.toSeq == Seq(Seq("a", "b"), Nil))
  }

  test("fanOutToUsers repeats a duplicated pair's list, keeps null users") {
    val perItem = Seq(("i1", Seq("a", "b")), ("i2", Nil), ("i3", Seq("c")))
      .toDF("queryItemId", "ids")
      .select(col("queryItemId"),
        transform(col("ids"), x => struct(x.as("itemId")))
          .as("recommendations"))
    val mapping = Seq(("u1", "i1"), ("u1", "i1"), ("u2", "i1"),
      (null, "i1"), (null, "i1"), ("u1", "i2"), ("u9", "i9"))
      .toDF("USER_ID", "ITEM_ID")
    val out = Ops.fanOutToUsers(perItem, Ops.mappingPairCounts(mapping))
    assert(out.columns.toSeq == Seq("queryItemId", "userId",
      "recommendations"))
    val got = out.select(col("queryItemId"), col("userId"),
      col("recommendations.itemId")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getSeq[String](2)))
      .toSet
    assert(got == Set(
      ("i1", Some("u1"), Seq("a", "a", "b", "b")),
      ("i1", Some("u2"), Seq("a", "b")),
      ("i1", None, Seq("a", "a", "b", "b")),
      ("i2", Some("u1"), Seq.empty[String])))
  }

  test("assemble groupBy and windowed shapes agree (differential)") {
    val decorated = Seq(
      ("1", 1L, "b"), ("1", 0L, "a"), ("2", 0L, "x"))
      .toDF("queryItemId", "pos", "id")
      .withColumn("recItem", struct(col("id").as("itemId"))).drop("id")
    val a = Ops.assembleRecommendations(decorated, Seq("queryItemId"))
    val b = Ops.assembleRecommendationsWindowed(decorated, "queryItemId",
      Seq("queryItemId"))
    val fa = a.orderBy("queryItemId").collect().toSeq
    val fb = b.orderBy("queryItemId").collect().toSeq
    assert(fa == fb)
    assert(fa.head.getSeq[Row](1).map(_.getString(0)) == Seq("a", "b"))
  }

  test("assemble drops null recItems so no-rec parents get []") {
    val decorated = Seq(("1", Option.empty[Long])).toDF("queryItemId", "pos")
      .withColumn("recItem",
        lit(null).cast("struct<itemId:string>"))
    val out = Ops.assembleRecommendations(decorated, Seq("queryItemId"))
      .collect()
    assert(out.head.getSeq[Row](1).isEmpty)
  }

  test("deltaCheck emits only rows absent from state, EXCEPT semantics") {
    val cur = Seq((1, "a"), (1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val state = Seq((1, "a"), (2, "OLD")).toDF("k", "v")
    val out = Ops.deltaCheck(cur, state).orderBy("k").collect()
    // (1,a) suppressed (in state), dup collapsed; (2,b) changed; (3,c) new
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "b"), (3, "c")))
  }

  test("deltaCheckKeyed matches deltaCheck when keys are unique") {
    val cur = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "w")
    val state = Seq((1, "a", 10), (2, "XX", 20)).toDF("k", "v", "w")
    val except = Ops.deltaCheck(cur, state)
      .select("k", "v", "w").orderBy("k").collect().toSeq
    val keyed = Ops.deltaCheckKeyed(cur, state, Seq("k"))
      .select("k", "v", "w").orderBy("k").collect().toSeq
    assert(except == keyed)
    assert(keyed.map(_.getInt(0)) == Seq(2, 3))
  }

  test("keyedChanges: changed rows and tombstones from one null-safe join") {
    // k=1 unchanged, 2 changed, 3 new, 4 departed, null key unchanged,
    // 5 changed and duplicated on the current side
    val cur = Seq((Some(1), "a"), (Some(2), "b"), (Some(3), "c"),
      (None, "n"), (Some(5), "e"), (Some(5), "e"))
      .toDF("k", "v").select($"v", $"k") // key not first on input
    val state = Seq((Some(1), "a"), (Some(2), "OLD"), (Some(4), "d"),
      (None, "n"), (Some(5), "OLD")).toDF("k", "v")
    val ch = Ops.keyedChanges(cur, state, Seq("k"))
    assert(ch.columns.toSeq == Seq("k", "v", StateTable.DeletedCol))
    val rows = ch.as[(Option[Int], Option[String], Boolean)].collect()
      .sortBy(_._1).toSeq
    assert(rows == Seq((Some(2), Some("b"), false), (Some(3), Some("c"), false),
      (Some(4), None, true), (Some(5), Some("e"), false),
      (Some(5), Some("e"), false)))
    // deltaCheckKeyed is the non-tombstone side, in current's key-first
    // column order
    val live = Ops.deltaCheckKeyed(cur, state, Seq("k"))
    assert(live.columns.toSeq == Seq("k", "v"))
    assert(live.as[(Int, String)].collect().sorted.toSeq ==
      Seq((2, "b"), (3, "c"), (5, "e"), (5, "e")))
    // a null key with a changed payload is re-sent, not tombstoned
    val nullChanged = Ops.keyedChanges(Seq((Option.empty[Int], "m"))
      .toDF("k", "v"), state, Seq("k")).where($"k".isNull)
      .as[(Option[Int], Option[String], Boolean)].collect().toSeq
    assert(nullChanged == Seq((None, Some("m"), false)))
  }

  test("canonicalizeColumns sorts column order only") {
    val out = Ops.canonicalizeColumns(Seq((1, "x", 2.0)).toDF("c", "a", "b"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.collect().head == Row("x", 2.0, 1))
  }

  test("stampJobInfo adds constant structs; syncDirectives optional") {
    val base = Seq("u1").toDF("userId")
    val none = Ops.stampJobInfo(base, "j", "t", None)
    assert(!none.columns.contains("syncDirectives"))
    val some = Ops.stampJobInfo(base, "j", "2024-01-01T00:00:00.000",
      Some(("p_", Map("b" -> "2", "a" -> "1")))).collect().head
    assert(some.getStruct(1) == Row("j", "2024-01-01T00:00:00.000"))
    assert(some.getStruct(2) == Row("p_", "1", "2")) // keys sorted
  }

  test("topKPerGroup matches the window formulation (differential)") {
    import org.apache.spark.sql.expressions.Window
    // a hot key (k1: 40 rows over 4 partitions) plus small keys and ties
    val rows = (1 to 40).map(i => ("k1", i.toDouble % 7, i.toLong)) ++
      Seq(("k2", 5.0, 1L), ("k2", 5.0, 2L), ("k3", 1.0, 1L))
    val df = rows.toDF("key", "score", "id").repartition(4)
    val twoPhase = Skew.topKPerGroup(df, Seq("key"), Seq("score", "id"),
        k = 3, salts = 4)
      .select("key", "rank", "score", "id").as[(String, Long, Double, Long)]
      .collect().toSet
    val w = Window.partitionBy("key")
      .orderBy(col("score").desc, col("id").desc)
    val windowed = df.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select("key", "rank", "score", "id").as[(String, Long, Double, Long)]
      .collect().toSet
    assert(twoPhase == windowed)
    assert(twoPhase.count(_._1 == "k2") == 2) // k < group size is fine
  }

  test("topKPerGroup bounded-buffer variant matches the salted shape") {
    // Same fixture as the differential above, plus string payloads and a
    // group smaller than k; both variants must agree exactly.
    val rows = (1 to 40).map(i => ("k1", i.toDouble % 7, i.toLong)) ++
      Seq(("k2", 5.0, 1L), ("k2", 5.0, 2L), ("k3", 1.0, 1L))
    val df = rows.toDF("key", "score", "id").repartition(4)
    def run(bounded: Boolean) =
      Skew.topKPerGroup(df, Seq("key"), Seq("score", "id"), k = 3,
          salts = 4, boundedBuffers = bounded)
        .select("key", "rank", "score", "id")
        .as[(String, Long, Double, Long)].collect().toSet
    assert(run(bounded = true) == run(bounded = false))

    // Skew probe: a 10k-row hot key through the O(k) buffer still yields
    // exactly the global top 3.
    val hot = (1 to 10000).map(i => ("h", i.toLong)).toDF("key", "v")
      .repartition(8)
    val top = Skew.topKPerGroup(hot, Seq("key"), Seq("v"), k = 3,
        boundedBuffers = true)
      .select("rank", "v").as[(Long, Long)].collect().toSet
    assert(top == Set((1L, 10000L), (2L, 9999L), (3L, 9998L)))
  }

  test("profile: nulls, distincts, min/max in one pass") {
    import graft.operators.Profile
    val df = Seq((Option(1L), Option("a")), (None, Option("a")),
      (Option(3L), None)).toDF("k", "v")
    val out = Profile.profile(df).orderBy("col_name").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("k", "v"))
    val k = out(0)
    assert(k.getLong(1) == 3 && k.getLong(2) == 1 && k.getLong(3) == 2)
    assert(k.getString(4) == "1" && k.getString(5) == "3")
    val v = out(1)
    assert(v.getLong(2) == 1 && v.getLong(3) == 1 &&
      v.getString(4) == "a" && v.getString(5) == "a")
    // approximate variant: same shape, cardinalities near-exact here
    val approx = Profile.profile(df, exact = false).orderBy("col_name")
      .collect()
    assert(approx.map(_.getString(0)).toSeq == Seq("k", "v"))
    assert(approx(0).getLong(3) == 2)
  }

  test("profile: empty input emits a zero row per column in both modes") {
    // ADVICE r12: the exact-mode rollup over an empty melt used to
    // return 0 rows while the approx mode returned one per column —
    // data-quality gates keyed on per-column n_rows saw nothing.
    import graft.operators.Profile
    val df = Seq((1L, "a")).toDF("k", "v").where(lit(false))
    for (exact <- Seq(true, false)) {
      val out = Profile.profile(df, exact = exact)
        .orderBy("col_name").collect()
      assert(out.map(_.getString(0)).toSeq == Seq("k", "v"),
        s"exact=$exact missing columns")
      for (r <- out) {
        assert(r.getLong(1) == 0 && r.getLong(2) == 0 &&
          r.getLong(3) == 0, s"exact=$exact nonzero stats: $r")
        assert(r.isNullAt(4) && r.isNullAt(5),
          s"exact=$exact min/max not null: $r")
      }
    }
  }

  test("profile: refuses array/map/struct columns instead of lexical min/max") {
    // ADVICE r12: complex types fell into the null-proxy branch, so
    // min/max came from the rendered string's LEXICAL order, which
    // disagrees with native ordering ([10] < [2] lexically).
    import graft.operators.Profile
    val arr = Seq((1L, Seq(2)), (2L, Seq(10))).toDF("k", "e")
    val err = intercept[IllegalArgumentException] {
      Profile.profile(arr).collect()
    }
    assert(err.getMessage.contains("`e`") &&
      err.getMessage.contains("order"))
    val strct = Seq((1L, (1, "x"))).toDF("k", "s")
    intercept[IllegalArgumentException] { Profile.profile(strct).collect() }
  }

  test("decorate with empty field list star-expands all metadata columns") {
    val exploded = Seq(("q1", 0, "p1")).toDF("queryItemId", "pos",
      "recItemId")
    val meta = Seq(("p1", "B", 9.99)).toDF("id", "brand", "price")
    val out = Ops.decorate(exploded, Some(meta), Nil)
      .select("recItem.itemId", "recItem.brand", "recItem.price")
      .collect().head
    assert(out.getString(0) == "p1" && out.getString(1) == "B" &&
      out.getDouble(2) == 9.99)
  }

  test("saltedJoin matches the plain join (differential), incl. misses") {
    val fact = ((1 to 30).map(i => ("hot", i)) ++
      Seq(("cold", 1), ("orphan", 9))).toDF("k", "v").repartition(4)
    val dim = Seq(("hot", "H"), ("cold", "C"), ("unused", "U"))
      .toDF("dk", "tag")
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", salts = 4)
      .select("k", "v", "tag").as[(String, Int, String)].collect().sorted
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "v", "tag").as[(String, Int, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq && salted.length == 31)
  }

  test("asofBackward: inclusive ties, misses, and null payload fields") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    // k=1: rights at t=10 (inclusive tie) and t=15; a null-field right at
    // t=18 must still beat the t=15 row. k=2 has no right at all.
    val right = Seq((1L, 10L, Some("r10")), (1L, 15L, Some("r15")),
      (1L, 18L, None)).toDF("k", "t", "rv")
    val out = AsofJoin.asofBackward(left, right, Seq("k"), "t")
      .select("k", "t", "tag", "rv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) "NULL" else r.getString(3))).toSet
    assert(out == Set(
      (1L, 10L, "a", "r10"),   // equal time matches (inclusive)
      (1L, 20L, "b", "NULL"),  // t=18 right wins though its field is null
      (2L, 5L, "c", "NULL")))  // no right: left join semantics
  }

  test("asofBackwardBucketed == asofBackward: edges, gaps, randomized") {
    import graft.operators.AsofJoin
    // handcrafted: the r10/r15/null-field plants above PLUS a right
    // exactly on a bucket edge, a left in a bucket with no rights
    // (carry skips an EMPTY bucket), and a no-right key
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 100L, "d"),
      (1L, 305L, "e"), (2L, 5L, "c")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, Some("r10")), (1L, 15L, Some("r15")),
      (1L, 18L, None), (1L, 100L, Some("edge"))).toDF("k", "t", "rv")
    def run(b: Long) = {
      val plain = AsofJoin.asofBackward(left, right, Seq("k"), "t")
        .select("k", "t", "tag", "rv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) "NULL" else r.getString(3)))
        .sortBy(x => (x._1, x._2)).toSeq
      val bkt = AsofJoin.asofBackwardBucketed(left, right, Seq("k"), "t",
          bucketSpan = b)
        .select("k", "t", "tag", "rv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) "NULL" else r.getString(3)))
        .sortBy(x => (x._1, x._2)).toSeq
      (plain, bkt)
    }
    for (b <- Seq(7L, 50L, 100L, 1000000L)) {
      val (p, q) = run(b)
      assert(p == q, s"bucketSpan=$b diverged")
    }
    // randomized with a tie column (equal times per key are common)
    // and a NULL-key stripe on both sides: the plain window groups
    // null keys together, so null-key rights must decorate null-key
    // lefts in the bucketed shape too (round-15 review)
    val rnd = new scala.util.Random(11)
    val lf = (1 to 400).map { i =>
      (if (i % 17 == 0) None else Some(rnd.nextInt(3).toLong),
       rnd.nextInt(500).toLong, i.toLong)
    }.toDF("k", "t", "lid")
    val rf = (1 to 300).map { i =>
      (if (i % 19 == 0) None else Some(rnd.nextInt(3).toLong),
       rnd.nextInt(500).toLong, i.toLong, s"p$i")
    }.toDF("k", "t", "rid", "pv")
    def runR(b: Long) = {
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select("k", "t", "lid", "rid", "pv").collect()
        .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
          r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) "NULL" else r.getString(4)))
        .sortBy(x => (x._1, x._3)).toSeq
      (norm(AsofJoin.asofBackward(lf, rf, Seq("k"), "t", Some("rid"))),
       norm(AsofJoin.asofBackwardBucketed(lf, rf, Seq("k"), "t",
         Some("rid"), bucketSpan = b)))
    }
    for (b <- Seq(13L, 100L, 499L, 100000L)) {
      val (p, q) = runR(b)
      assert(p == q, s"randomized bucketSpan=$b diverged")
    }
  }

  test("dedupWithin keeps first-of-key and gap>window events only") {
    import graft.operators.Events
    // user 1 "click": burst at t=0,30,61,200 -> lag-relative semantics
    // keep 0 (first), drop 30 (gap 30), drop 61 (gap 31 vs PREVIOUS
    // EVENT 30, not vs last-kept 0), keep 200. Other key untouched.
    val ev = Seq(
      (1L, 1L, "click", 0L), (2L, 1L, "click", 30L),
      (3L, 1L, "click", 61L), (4L, 1L, "click", 200L),
      (5L, 1L, "view", 10L), (6L, 2L, "click", 31L)
    ).toDF("event_id", "user_id", "event_type", "ts")
    val kept = Events.dedupWithin(ev, Seq("user_id", "event_type"), "ts",
        windowSeconds = 60, orderCols = Seq("ts", "event_id"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L))
  }

  test("chunkDocs windows with overlap; empty docs keep one empty chunk") {
    import graft.operators.Curation
    val docs = Seq((1L, "abcdefghij"), (2L, "")).toDF("id", "text")
    // chunk 4, overlap 1 -> stride 3: ceil((10-1)/3) = 3 chunks cover
    // all 10 chars; a naive ceil(10/3) = 4 would add a 4th chunk "j"
    // that is a pure suffix of chunk 2 (duplicate content downstream)
    val out = Curation.chunkDocs(docs, "id", "text", chunkChars = 4,
        overlap = 1)
      .orderBy("id", "chunk_ix")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, "abcd"), (1L, 1L, "defg"), (1L, 2L, "ghij"),
      (2L, 0L, "")))
    intercept[IllegalArgumentException] {
      Curation.chunkDocs(docs, "id", "text", chunkChars = 4, overlap = 4)
    }
  }

  test("unigramLogProb: mean log p(token) under the corpus distribution") {
    import graft.operators.Curation
    // corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, n=5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "text")
    val out = Curation.unigramLogProb(docs, "id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def m(ps: Double*) = BigDecimal(ps.map(math.log).sum / ps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(
      (1L, 3L, m(0.6, 0.6, 0.2)), // a, a, b
      (2L, 2L, m(0.6, 0.2))))     // a, c
  }

  test("distributionDrift: identical halves score zero, a shift scores positive") {
    import graft.operators.Profile
    val base = (1L to 200L).map(v => v % 50)
    val same = Profile.distributionDrift(
        base.toDF("v"), base.toDF("v"), "v", bins = 10)
      .select("psi").as[Double].collect()
    assert(same.forall(_ == 0.0)) // identical shares -> every bin 0
    val shifted = Profile.distributionDrift(
        base.toDF("v"), base.map(_ + 40L).toDF("v"), "v", bins = 10)
      .select("psi").as[Double].collect()
    // each bin's contribution is non-negative by construction
    // ((pa-pb) and ln(pa/pb) share sign); a real shift must show up
    assert(shifted.forall(_ >= 0.0))
    assert(shifted.sum > 0.2, s"psi total ${shifted.sum}")
    // the FULL grid is emitted (ADVICE r10): unequal totals give even
    // a both-sides-empty bin nonzero smoothing mass, which the summed
    // headline PSI must include
    val unequal = Profile.distributionDrift(
        Seq(0L, 100L).toDF("v"),
        Seq(0L, 0L, 0L, 100L, 100L, 100L).toDF("v"), "v", bins = 10)
      .select("bin", "n_a", "n_b", "psi")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(unequal.map(_._1).toSeq == (0L to 9L)) // all 10 bins present
    val emptyBins = unequal.filter(r => r._2 == 0 && r._3 == 0)
    assert(emptyBins.nonEmpty && emptyBins.forall(_._4 != 0.0))
  }

  test("categoricalDrift: identical sides zero, one-sided category positive") {
    import graft.operators.Profile
    val a = Seq("en", "en", "fr", "de").toDF("lang")
    val same = Profile.categoricalDrift(a, a, "lang")
      .select("psi").as[Double].collect()
    assert(same.forall(_ == 0.0))
    val b = Seq("en", "zh", "zh", "zh").toDF("lang")
    val out = Profile.categoricalDrift(a, b, "lang")
      .select("category", "n_a", "n_b", "psi")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // union grid: every category of either side appears
    assert(out.keySet == Set("en", "fr", "de", "zh"))
    assert(out("zh")._2 == 0L && out("zh")._3 == 3L)
    // one-sided categories must contribute positive drift
    assert(out("zh")._4 > 0.0 && out("fr")._4 > 0.0)
  }

  test("logOdds: class vocabulary separates, unknown tokens take the default") {
    import graft.operators.Curation
    val pos = Seq("excellent prose flows here", "prose reads excellent")
      .toDF("text")
    val neg = Seq("spam spam click buy", "click spam buy now")
      .toDF("text")
    val model = Curation.trainLogOdds(pos, neg, "text")
    val lo = model.collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(lo(Some("excellent")) > 0 && lo(Some("spam")) < 0)
    // symmetric counts -> the unknown default sits between the classes
    assert(lo(Some("spam")) < lo(None) && lo(None) < lo(Some("excellent")))
    val docs = Seq(
      (1L, "excellent prose"),     // pure positive vocabulary
      (2L, "spam click buy"),      // pure negative vocabulary
      (3L, "zzz qqq")              // fully out of vocabulary
    ).toDF("doc_id", "text")
    val s = Curation.logOddsScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(1L) > 0 && s(2L) < 0)
    assert(math.abs(s(3L) - lo(None)) < 1e-6) // mean of defaults
    assert(s(2L) < s(3L) && s(3L) < s(1L))
  }

  test("equiDepthBuckets: equal populations, repeated values stay together") {
    import graft.operators.Curation
    val out = Curation.equiDepthBuckets((1L to 100L).toDF("v"), "v", 4)
      .as[(Long, Long)].collect().toMap
    // 1..25 -> 0, 26..50 -> 1, 51..75 -> 2, 76..100 -> 3
    assert((1L to 100L).forall(v => out(v) == (v - 1) / 25))
    // a value straddling a threshold cannot split: 60x the same value
    // collapses thresholds and first-match keeps every copy in bucket 0
    val skew = (Seq.fill(60)(5L) ++ (6L to 45L)).toDF("v")
    val sk = Curation.equiDepthBuckets(skew, "v", 4)
      .as[(Long, Long)].collect()
    assert(sk.filter(_._1 == 5L).map(_._2).distinct.toSeq == Seq(0L))
    // NULL values band to a NULL bucket, not the top quantile
    // (ADVICE r10); non-null rows keep their thresholds
    val withNulls = Curation.equiDepthBuckets(
      (Seq[java.lang.Long](null, null) ++ (1L to 100L).map(Long.box))
        .toDF("v"), "v", 4)
    assert(withNulls.where(col("v").isNull && col("bucket").isNotNull)
      .isEmpty)
    assert(withNulls.where(col("v") === 100L).select("bucket")
      .as[Long].head() == 3L)
  }

  test("sourceCoverage: heaviest first, shares cumulate to 1") {
    import graft.operators.Profile
    val df = Seq(("a", 70L), ("a", 30L), ("b", 50L), ("c", 10L),
      (null.asInstanceOf[String], 99L)).toDF("src", "w")
    val out = Profile.sourceCoverage(df, "src", "w")
      .orderBy("rank")
      .as[(Long, String, Long, Long, Double, Double)].collect().toSeq
    assert(out.map(_._2) == Seq("a", "b", "c")) // null source excluded
    assert(out.map(_._4) == Seq(100L, 50L, 10L))
    assert(out.map(_._5) == Seq(0.625, 0.3125, 0.0625))
    assert(out.map(_._6) == Seq(0.625, 0.9375, 1.0))
  }

  test("round-10 drift/skew/shuffle/fusion ops tolerate empty inputs") {
    import graft.operators.{Ann, Curation, Profile, Retrieval, Sampling}
    val noLongs = Seq.empty[Long].toDF("v")
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_id", "rank")
    assert(Profile.categoricalDrift(noLongs, noLongs, "v").count() == 0)
    assert(Profile.keySkew(noLongs, "v").count() == 0)
    assert(Sampling.shuffleShards(noLongs.withColumnRenamed("v", "id"),
      "id", 4).count() == 0)
    assert(Retrieval.rrfFuse(Seq(noPairs, noPairs), "doc_id")
      .count() == 0)
    assert(Curation.kAnonymityViolations(
      Seq.empty[(String, String)].toDF("a", "b"), Seq("a", "b"), 3)
      .count() == 0)
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Ann.semanticDedup(noVecs, nCells = 4, threshold = 0.9)
      .count() == 0)
    assert(Sampling.hardNegatives(noPairs
        .withColumnRenamed("doc_id", "u").withColumnRenamed("rank", "i"),
      "u", "i", Seq((1L, Seq(1.0f))).toDF("u", "embedding"),
      Seq((2L, Seq(1.0f))).toDF("i", "embedding"), k = 3).count() == 0)
    // distributionDrift is explicit about the empty case
    intercept[IllegalArgumentException] {
      Profile.distributionDrift(noLongs, noLongs, "v", bins = 4)
    }
  }

  test("correlation: tracks corr, partition-proof, edge cases") {
    import graft.operators.Profile
    val li = spark.read
      .parquet("/root/testdata/sf0.01/lineitem.parquet")
    val out = Profile.correlation(li,
        Seq(("l_quantity", "l_extendedprice")))
      .as[(String, String, Long, Option[Double])].head()
    // tracks the built-in estimate (same statistic, different exact
    // accumulation) to a loose tolerance
    val builtin = li.agg(corr(col("l_quantity"), col("l_extendedprice")))
      .as[Double].head()
    assert(math.abs(out._4.get - builtin) < 1e-6,
      s"got ${out._4} vs corr $builtin")
    // BIT-deterministic under repartitioning — the property built-in
    // corr does not have (decimal sums are order-free)
    val again = Profile.correlation(li.repartition(13),
        Seq(("l_quantity", "l_extendedprice")))
      .as[(String, String, Long, Option[Double])].head()
    assert(again == out)
    // perfect correlation, zero variance, and empty input
    val tiny = Seq((1.0, 2.0, 5.0), (2.0, 4.0, 5.0), (3.0, 6.0, 5.0))
      .toDF("x", "y", "c")
    val t = Profile.correlation(tiny, Seq(("x", "y"), ("x", "c")))
      .as[(String, String, Long, Option[Double])].collect()
    assert(t(0)._4.contains(1.0), s"got ${t(0)}")
    assert(t(1)._4.isEmpty, "zero variance must yield null r")
    assert(Profile.correlation(tiny.where(lit(false)), Seq(("x", "y")))
      .as[(String, String, Long, Option[Double])].head()._4.isEmpty)
    // out-of-contract magnitude overflows LOUDLY (ANSI decimal cast)
    val big = Seq((1e9, 1.0), (2e9, 2.0)).toDF("x", "y")
    intercept[Exception] {
      Profile.correlation(big, Seq(("x", "y"))).collect()
    }
  }

  test("keySkew: uniform keys hit ln(n), a dominant key is named") {
    import graft.operators.Profile
    // 4 keys x 25 rows: perfectly uniform
    val uniform = (0L until 100L).map(i => i % 4).toDF("k")
    val u = Profile.keySkew(uniform, "k")
      .select("n_rows", "n_keys", "top_share", "entropy")
      .as[(Long, Long, Double, Double)].collect().head
    assert(u == ((100L, 4L, 0.25, math.round(math.log(4) * 1e6) / 1e6)))
    // 96 rows of key 7, four singletons: top key must be named with
    // its share, entropy collapses toward 0
    val skewed = (Seq.fill(96)(7L) ++ Seq(1L, 2L, 3L, 4L)).toDF("k")
    val s = Profile.keySkew(skewed, "k")
      .select("top_key", "top_n", "top_share", "entropy")
      .as[(String, Long, Double, Double)].collect().head
    assert(s._1 == "7" && s._2 == 96L && s._3 == 0.96)
    assert(s._4 < 0.3 && s._4 > 0.0)
  }

  test("kAnonymityViolations: flags only groups under k, with their size") {
    import graft.operators.Curation
    val rows = Seq.fill(5)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq(("b", "x"))
    val out = Curation.kAnonymityViolations(
        rows.toDF("c1", "c2"), Seq("c1", "c2"), k = 3)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("a", "y", 2L), ("b", "x", 1L)))
  }

  test("madOutliers: keeps the robust center, drops planted extremes") {
    import graft.operators.Curation
    // center 100 +- small noise, two planted extremes; median 100,
    // MAD ~2 -> k=3 keeps [94, 106]
    val vals = (Seq.tabulate(20)(i => 98L + (i % 5)) ++ Seq(5000L, -400L))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val out = Curation.madOutliers(vals.toDF("id", "v"), "v", k = 3.0)
      .select("v").as[Long].collect()
    assert(out.forall(v => v >= 94 && v <= 106))
    assert(out.length == 20) // both extremes gone, center intact
    // zero MAD (majority constant): only the median value survives
    val const = Seq.fill(9)(7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) } :+ (99L, 1000L)
    val strict = Curation.madOutliers(const.toDF("id", "v"), "v", 3.0)
      .select("v").as[Long].collect()
    assert(strict.toSet == Set(7L) && strict.length == 9)
    // empty input survives
    assert(Curation.madOutliers(
      Seq.empty[(Long, Long)].toDF("id", "v"), "v", 3.0).count() == 0)
  }

  test("histogram: exact integer bins, lossless counts, empty input tolerated") {
    import graft.operators.Profile
    // values 0..99, 10 bins -> width (99-0)/10+1 = 10, bins 0..9 of 10
    val vals = (0L to 99L).toDF("v")
    val out = Profile.histogram(vals, "v", bins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 10)
    assert(out.head == (0L, 0L, 9L, 10L) && out.last == (9L, 90L, 99L, 10L))
    assert(out.map(_._4).sum == 100L)
    // a single distinct value lands wholly in bin 0
    val one = Profile.histogram(Seq(7L, 7L).toDF("v"), "v", 5)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(one.toSeq == Seq((0L, 2L)))
    // all-null / empty input -> empty frame with the histogram schema
    val nulls = Seq[Option[Long]](None, None).toDF("v")
    assert(Profile.histogram(nulls, "v", 3).count() == 0)
  }

  test("sessionPrefixes: prior-event prefixes, session-bounded, first excluded") {
    import graft.operators.Events
    // user 1: events 1,2,3 in one session, then a >30min gap -> event
    // 4 opens a new session (no prefix crosses the boundary)
    val ev = Seq(
      (1L, 1L, 1000L), (1L, 2L, 1060L), (1L, 3L, 1120L),
      (1L, 4L, 9999L)
    ).toDF("user_id", "event_id", "ts_s")
    val out = Events.sessionPrefixes(ev, "user_id", "ts_s", "event_id",
        gapMinutes = 30, orderCols = Seq("ts_s", "event_id"),
        maxPrefix = 2)
      .orderBy("label")
      .collect()
      .map(r => (r.getLong(3), r.getSeq[Long](2)))
    // events 1 and 4 open sessions -> absent; maxPrefix=2 truncates
    // event 3's context to the two PRIOR events
    assert(out.toSeq == Seq((2L, Seq(1L)), (3L, Seq(1L, 2L))))
    val capped = Events.sessionPrefixes(ev, "user_id", "ts_s",
        "event_id", gapMinutes = 30,
        orderCols = Seq("ts_s", "event_id"), maxPrefix = 1)
      .orderBy("label").collect().map(_.getSeq[Long](2))
    assert(capped.toSeq == Seq(Seq(1L), Seq(2L))) // window of 1 slides
  }

  test("sessionizeBucketed == sessionize: boundaries, chains, randomized") {
    import graft.operators.Events
    def both(ev: org.apache.spark.sql.DataFrame, bucketS: Long) = {
      def u(r: org.apache.spark.sql.Row) =
        if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      val plain = Events.sessionize(ev, "user_id", "ts_s",
          gapMinutes = 30, orderCols = Seq("ts_s", "event_id"))
        .select("user_id", "event_id", "session_seq")
        .collect().map(r => (u(r), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      val bucketed = Events.sessionizeBucketed(ev, "user_id", "ts_s",
          gapMinutes = 30, orderCols = Seq("ts_s", "event_id"),
          bucketSeconds = bucketS)
        .select("user_id", "event_id", "session_seq")
        .collect().map(r => (u(r), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      (plain, bucketed)
    }
    // handcrafted plants, bucket 100 s << gap 1800 s so single sessions
    // chain-merge across MANY buckets; gap-exactly-1800 (same session,
    // strict >) and gap-1801 (new session) both straddle bucket edges
    val ev = Seq(
      (1L, 1L, 0L), (1L, 2L, 99L),        // same bucket, same session
      (1L, 3L, 101L), (1L, 4L, 1901L),    // next bucket; exact 1800 gap
      (1L, 5L, 3702L),                    // 1801 gap -> NEW session
      (1L, 6L, 3750L), (1L, 7L, 5550L),   // exact gap again, mid-chain
      (2L, 8L, 50L), (2L, 9L, 10050L),    // other user: clean break
      (3L, 10L, 250L)                     // single-event user
    ).toDF("user_id", "event_id", "ts_s")
    val (p1, b1) = both(ev, 100L)
    assert(p1 == b1)
    // session structure itself is right, not just self-consistent
    assert(p1.map(_._3) == Seq(1L, 1L, 1L, 1L, 2L, 2L, 2L, 1L, 2L, 1L))
    // bucket >> gap (one summary row per user) and bucket == gap
    assert(both(ev, 1000000L)._1 == both(ev, 1000000L)._2)
    assert(both(ev, 1800L)._1 == both(ev, 1800L)._2)
    // randomized: clustered ts draws make real gap/boundary collisions
    // likely at every bucket size; a NULL user stripe pins the
    // null-safe offset join (the plain window keeps the null-user
    // partition — round-15 review); seed fixed for reproducibility
    val rnd = new scala.util.Random(42)
    val rand = (1 to 800).map { i =>
      (if (i % 13 == 0) None else Some(rnd.nextInt(4).toLong),
       i.toLong,
       rnd.nextInt(50).toLong * 1800L + rnd.nextInt(40))
    }.toDF("user_id", "event_id", "ts_s")
    for (b <- Seq(137L, 1800L, 7200L, 86400L)) {
      val (p, q) = both(rand, b)
      assert(p == q, s"bucketSeconds=$b diverged")
    }
  }

  test("sessionPrefixes chunked == plain across chunk/session edges") {
    import graft.operators.Events
    // tiny prefixChunkRows forces chunk boundaries INSIDE sessions and
    // sessions spanning many chunks — the carry-row path every row
    // near a boundary exercises; plain path is the semantics oracle
    val rnd = new scala.util.Random(7)
    val rand = (1 to 600).map { i =>
      (if (i % 11 == 0) None else Some(rnd.nextInt(3).toLong), i.toLong,
       rnd.nextInt(30).toLong * 1800L + rnd.nextInt(40))
    }.toDF("user_id", "event_id", "ts_s")
    def run(bucketS: Option[Long], chunk: Long, maxP: Int) =
      Events.sessionPrefixes(rand, "user_id", "ts_s", "event_id",
          gapMinutes = 30, orderCols = Seq("ts_s", "event_id"),
          maxPrefix = maxP, bucketSeconds = bucketS,
          prefixChunkRows = chunk)
        .collect()
        .map(r => (if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
          r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._4)).toSeq
    for (maxP <- Seq(1, 3, 10); chunk <- Seq(maxP + 1L, 7L, 64L, 100000L)
         if chunk > maxP) {
      val plain = run(None, chunk, maxP)
      val chunked = run(Some(1800L), chunk, maxP)
      assert(plain == chunked, s"maxPrefix=$maxP chunk=$chunk diverged")
    }
  }

  test("bigramLogProb: coherent transitions outscore word salad") {
    import graft.operators.Curation
    // "x y" is a frequent transition in the corpus; doc 3 uses the
    // same unigrams in scrambled order, so its unigram profile is
    // identical to doc 1's but its bigram transitions are all rare
    val docs = Seq(
      (1L, "x y x y x y"),
      (2L, "x y x y"),
      (3L, "y x y x y x")
    ).toDF("id", "text")
    val out = Curation.bigramLogProb(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    assert(out.map(_._2) == Seq(5L, 3L, 5L)) // n-1 bigrams each
    val byId = out.map(t => t._1 -> t._3).toMap
    // doc 3 leans on the rare y->x transition -> strictly lower score
    assert(byId(3L) < byId(1L))
    // docs with < 2 tokens are absent
    val short = Curation.bigramLogProb(
      Seq((9L, "solo")).toDF("id", "text"), "id", "text")
    assert(short.count() == 0)
  }

  test("pivotAttributes transposes array<struct> and drops external_id clash") {
    val df = Seq(("u1", Seq(("i1", "s1"), ("i2", "s2"))))
      .toDF("userId", "pairs")
      .select(col("userId"), transform(col("pairs"),
        p => struct(p.getField("_1").as("itemId"),
          p.getField("_2").as("slot"))).as("recommendations"))
    val out = Ops.pivotAttributes(df, "userId", Seq("itemId", "slot"),
      "rec_", Map("country" -> "US", "external_id" -> "MUST_DROP"))
    assert(out.columns.toSeq ==
      Seq("external_id", "rec_itemId", "rec_slot", "country"))
    val r = out.collect().head
    assert(r.getString(0) == "u1")
    assert(r.getSeq[String](1) == Seq("i1", "i2"))
    assert(r.getString(3) == "US")
  }

  test("pointInTime: contained version, change-instant, gap, unknowns") {
    import graft.operators.AsofJoin
    val dims = Seq(
      (1L, "v1", 10L, Some(20L)),
      (1L, "v2", 20L, Some(30L)), // contiguous change at 20
      (1L, "v3", 50L, None)       // GAP [30, 50): no version current
    ).toDF("k", "ver", "valid_from", "valid_to")
    val facts = Seq(
      (1L, 100L, 15L), // inside v1
      (1L, 101L, 20L), // exact change instant -> the NEW version
      (1L, 102L, 35L), // in the gap -> null (asof finds v2 but closed)
      (1L, 103L, 99L), // open tail -> v3
      (1L, 104L, 5L),  // before first version -> null
      (2L, 200L, 15L)  // unknown key -> null
    ).toDF("k", "fid", "ts")
    val out = AsofJoin.pointInTime(facts, dims, Seq("k"), "ts")
      .select("fid", "ver").as[(Long, Option[String])]
      .collect().toMap
    assert(out == Map(100L -> Some("v1"), 101L -> Some("v2"),
      102L -> None, 103L -> Some("v3"), 104L -> None, 200L -> None))
  }

  test("pointInTime: dims carrying the fact time column is refused") {
    import graft.operators.AsofJoin
    // ADVICE r18: renaming valid_from -> factTimeCol on a dims frame
    // that ALREADY has a column of that name (both sides derived from
    // one event table) would create duplicate column names and
    // silently ambiguous downstream references
    val dims = Seq((1L, "v1", 10L, 5L))
      .toDF("k", "ver", "valid_from", "ts")
    val facts = Seq((1L, 100L, 15L)).toDF("k", "fid", "ts")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.pointInTime(facts, dims.withColumn("valid_to",
        lit(null).cast("long")), Seq("k"), "ts")
    }
    assert(e.getMessage.contains("already has a column named 'ts'"))
    // the degenerate-but-valid case: ordering column IS the fact time
    // column name already — no rename happens, no refusal
    val ok = AsofJoin.pointInTime(facts,
      Seq((1L, "v1", 10L, Option.empty[Long]))
        .toDF("k", "ver", "ts", "valid_to"),
      Seq("k"), "ts", validFromCol = "ts")
    assert(ok.count() == 1L)
  }

  test("resample: grid alignment, ffill across gaps, ties, guard") {
    import graft.operators.Events
    // key a: events at 15, 25, 25 (tie -> id 4 wins), 47; step 10
    // grid aligns to 10: 10,20,30,40 — 10 precedes the first event
    // (null fill), 30 and 40 carry the tie winner across the gap
    val ev = Seq(
      ("a", 15L, 1L, 1.5), ("a", 25L, 3L, 2.5), ("a", 25L, 4L, 9.9),
      ("a", 47L, 5L, 4.7),
      ("b", 30L, 6L, 3.0)
    ).toDF("k", "ts", "eid", "v")
    val out = Events.resample(ev, Seq("k"), "ts", Seq("v"),
        stepUs = 10L, tieCol = Some("eid"))
      .select("k", "ts", "v", "eid")
      .as[(String, Long, Option[Double], Option[Long])]
      .collect().toSet
    assert(out == Set(
      ("a", 10L, None, None),
      ("a", 20L, Some(1.5), Some(1L)),
      ("a", 30L, Some(9.9), Some(4L)), // tie: greatest eid's payload
      ("a", 40L, Some(9.9), Some(4L)), // carried across the gap
      ("b", 30L, Some(3.0), Some(6L))), s"got $out")
    // the guard refuses a grid wider than maxPointsPerKey
    val e = intercept[IllegalArgumentException] {
      Events.resample(ev, Seq("k"), "ts", Seq("v"), stepUs = 1L,
        tieCol = Some("eid"), maxPointsPerKey = 10L)
    }
    assert(e.getMessage.contains("widest key"))
    // guard measures from the ALIGNED start (review r19): span 15..20
    // at step 10 aligns to 10 and emits TWO grid points (10, 20),
    // while the pre-fix floor((20-15)/10)+1 counted one — a bound of
    // 1 must refuse, not pass
    val edge = Seq(("e", 15L, 9L, 1.0), ("e", 20L, 10L, 2.0))
      .toDF("k", "ts", "eid", "v")
    assert(Events.resample(edge, Seq("k"), "ts", Seq("v"),
      stepUs = 10L, tieCol = Some("eid"),
      maxPointsPerKey = 2L).count() == 2L)
    val e2 = intercept[IllegalArgumentException] {
      Events.resample(edge, Seq("k"), "ts", Seq("v"), stepUs = 10L,
        tieCol = Some("eid"), maxPointsPerKey = 1L)
    }
    assert(e2.getMessage.contains("2 points"))
    // maxPointsPerKey = 0 skips the guard pass entirely:
    // key a 15..47 inclusive = 33 points, key b 30..30 = 1
    assert(Events.resample(ev, Seq("k"), "ts", Seq("v"), stepUs = 1L,
      tieCol = Some("eid"), maxPointsPerKey = 0L).count() == 34L)
  }

  test("survivorship: per-field latest non-null, whole-null fallback") {
    import graft.operators.Events
    val log = Seq(
      // user 1: latest row (ts 30) has null email; email survives
      // from ts 20, name from ts 30 — fields diverge
      (1L, 10L, Some("a@x"), Some("Al")),
      (1L, 20L, Some("b@x"), None),
      (1L, 30L, None, Some("Bo")),
      // user 2: email null throughout -> stays null; name latest
      (2L, 10L, None, Some("Cy")),
      (2L, 20L, None, Some("Dee")),
      // user 3: single row, all filled
      (3L, 5L, Some("e@x"), Some("Ed"))
    ).toDF("k", "seq", "email", "name")
    val out = Events.survivorship(log, Seq("k"), Seq("seq"),
        Seq("email", "name"))
      .as[(Long, Option[String], Option[String])].collect()
      .map { case (k, e, n) => k -> ((e, n)) }.toMap
    assert(out == Map(
      1L -> ((Some("b@x"), Some("Bo"))),
      2L -> ((None, Some("Dee"))),
      3L -> ((Some("e@x"), Some("Ed")))))
    // deterministic under repartitioning (max_by over a total struct)
    val again = Events.survivorship(log.repartition(7), Seq("k"),
        Seq("seq"), Seq("email", "name"))
      .orderBy("k").collect().toSeq
    assert(again == Events.survivorship(log, Seq("k"), Seq("seq"),
      Seq("email", "name")).orderBy("k").collect().toSeq)
    // scale shape: no Window operator in the plan — one aggregate
    val plan = Events.survivorship(log, Seq("k"), Seq("seq"),
      Seq("email", "name")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"window crept in:\n$plan")
  }

  test("Checks.run: metrics exact on a planted-violation fixture") {
    import graft.operators.Checks
    // 10 rows: 2 null ids (completeness 0.8), one duplicated key
    // (9 distinct / 10), 3 out-of-range values (0.7 in-range),
    // 4 status outside {A,B} (0.6 in-set), 2 orphan FKs (share 0.2)
    val df = Seq(
      (Some(1L), 10L, 5.0, "A", Some(100L)),
      (Some(2L), 11L, 5.0, "A", Some(100L)),
      (None, 12L, 5.0, "B", Some(101L)),
      (None, 13L, 5.0, "B", Some(101L)),
      (Some(5L), 14L, 99.0, "B", Some(101L)),
      (Some(6L), 15L, 99.0, "B", Some(999L)),   // orphan
      (Some(7L), 16L, 99.0, "C", Some(998L)),   // orphan
      (Some(8L), 17L, 5.0, "C", None),          // null FK: not orphan
      (Some(9L), 18L, 5.0, "C", Some(100L)),
      (Some(9L), 18L, 5.0, "C", Some(100L))     // dup key
    ).toDF("id", "k", "v", "status", "fk")
    val dim = Seq(100L, 101L).toDF("pk")
    val out = Checks.run(df, Seq(
        Checks.NotNull("id", minRatio = 0.9),
        Checks.Unique("k"),
        Checks.InRange("v", 0.0, 50.0, minRatio = 0.7),
        Checks.InSet("status", Seq("A", "B"), minRatio = 0.7),
        Checks.RefIntegrity("fk", dim, "pk")))
      .as[(String, String, Double, Double, Boolean)].collect().toList
    assert(out == List(
      ("not_null", "id", 0.8, 0.9, false),
      ("unique", "k", 0.9, 1.0, false),
      ("in_range", "v", 0.7, 0.7, true),
      ("in_set", "status", 0.6, 0.7, false),
      ("ref_integrity", "fk", 0.2, 0.0, false)), s"got $out")
    // empty input: ratio rules vacuously pass, RI has no orphans —
    // INCLUDING InRange/InSet, whose sum-over-zero-rows is NULL and
    // crashed the gate before the coalesce (review r19)
    val empty = Checks.run(df.where(lit(false)), Seq(
        Checks.NotNull("id"), Checks.Unique("k"),
        Checks.InRange("v", 0.0, 50.0), Checks.InSet("status", Seq("A")),
        Checks.RefIntegrity("fk", dim, "pk")))
      .as[(String, String, Double, Double, Boolean)].collect().toList
    assert(empty.forall(_._5), s"empty input must pass: $empty")
    // Like and Predicate rules: status 'A'/'B'/'C' single chars all
    // match '_'; cross-column predicate v <= k*10 holds for the five
    // 5.0 rows with k in 1..9 plus (5,99)? no — exactly where v=5.0
    // and k*10 >= 5, i.e. all six v=5.0 rows; NULL ids don't matter
    val lp = Checks.run(df, Seq(
        Checks.Like("status", "_"),
        Checks.Like("status", "A%", minRatio = 0.5),
        Checks.Predicate("v_vs_k", "v <= k", minRatio = 0.5)))
      .as[(String, String, Double, Double, Boolean)].collect().toList
    assert(lp(0) == ("like", "status", 1.0, 1.0, true), s"got ${lp(0)}")
    assert(lp(1) == ("like", "status", 0.2, 0.5, false), s"got ${lp(1)}")
    // v <= k: v is 5.0 or 99.0, k is 10..18 -> exactly the 7 rows
    // with v = 5.0 of 10
    assert(lp(2) == ("predicate", "v_vs_k", 0.7, 0.5, true),
      s"got ${lp(2)}")
    // two rules of one type on one column report INDEPENDENTLY
    // (review r19: keying by (name, column) collapsed them)
    val dup = Checks.run(df, Seq(
        Checks.InRange("v", 0.0, 50.0, minRatio = 0.5),
        Checks.InRange("v", 0.0, 1000.0, minRatio = 0.99)))
      .as[(String, String, Double, Double, Boolean)].collect().toList
    assert(dup == List(
      ("in_range", "v", 0.7, 0.5, true),
      ("in_range", "v", 1.0, 0.99, true)), s"got $dup")
    // unique with a SINGLE null row passes (null counts as one value);
    // the fixture's two identical (k=18) rows still fail
    val oneNull = Seq(Some(1L), Some(2L), None).toDF("u")
    val un = Checks.run(oneNull, Seq(Checks.Unique("u")))
      .as[(String, String, Double, Double, Boolean)].head()
    assert(un._5 && un._3 == 1.0, s"got $un")
    val twoNulls = Seq(Some(1L), None, None).toDF("u")
    val un2 = Checks.run(twoNulls, Seq(Checks.Unique("u")))
      .as[(String, String, Double, Double, Boolean)].head()
    assert(!un2._5, s"two null rows must be duplicates: $un2")
  }

  test("Checks.run: minRatio=1.0 gates on EXACT counts past rounding " +
      "saturation") {
    import graft.operators.Checks
    // 2,000,001 rows with ONE null: 2000000/2000001 = 0.9999995 rounds
    // HALF_UP to 1.000000 — the rounded-metric gate silently passed
    // pre-fix (ADVICE r19 medium); the exact gate must fail it
    val big = spark.range(2000001L)
      .withColumn("v", when(col("id") === 0L, lit(null).cast("long"))
        .otherwise(col("id")))
    val out = Checks.run(big, Seq(
        Checks.NotNull("v"),                           // 1 null row
        Checks.InRange("v", 0.0, 3000000.0),           // same 1 miss
        Checks.Predicate("v_pos", "v >= 1")))          // same 1 miss
      .as[(String, String, Double, Double, Boolean)].collect().toList
    out.foreach { r =>
      assert(r._3 == 1.0, s"metric must ROUND to 1.0: $r")
      assert(!r._5, s"exact gate must still FAIL: $r")
    }
    // sub-1.0 thresholds keep the rounded comparison (engines agree)
    val ok = Checks.run(big, Seq(Checks.NotNull("v", minRatio = 0.999)))
      .as[(String, String, Double, Double, Boolean)].head()
    assert(ok._5, s"got $ok")
  }

  test("Checks.run: ALL RefIntegrity probes share one action") {
    import graft.operators.Checks
    val df = Seq((1L, 10L, 100L), (2L, 20L, 999L), (3L, 30L, 101L))
      .toDF("a", "b", "c")
    val dimA = Seq(1L, 2L).toDF("pk")      // 3L orphan
    val dimB = Seq(10L, 20L, 30L).toDF("pk") // zero orphans
    val dimC = Seq(100L).toDF("pk")        // 999, 101 orphans
    // with AQE and broadcast off, one action == one job: the whole
    // run must be exactly 2 jobs (row-rule aggregate + RI union)
    // regardless of how many RI rules are listed — the pre-fix code
    // ran one count() job PER rule (VERDICT r19 #3)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
      "10485760")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sc.addSparkListener(listener)
      val out = Checks.run(df, Seq(
          Checks.NotNull("a"),
          Checks.RefIntegrity("a", dimA, "pk"),
          Checks.RefIntegrity("b", dimB, "pk"),
          Checks.RefIntegrity("c", dimC, "pk")))
        .as[(String, String, Double, Double, Boolean)].collect().toList
      // listener bus is async; give queued JobStart events time to
      // drain before asserting the count
      Thread.sleep(500)
      assert(out(1) == ("ref_integrity", "a", 0.333333, 0.0, false),
        s"got ${out(1)}")
      // zero-orphan rule: absent from the grouped counts, must still
      // report share 0.0 / pass
      assert(out(2) == ("ref_integrity", "b", 0.0, 0.0, true),
        s"got ${out(2)}")
      assert(out(3) == ("ref_integrity", "c", 0.666667, 0.0, false),
        s"got ${out(3)}")
      assert(jobs.get() <= 2,
        s"expected <=2 jobs (agg + RI union), got ${jobs.get()}")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("decontaminate: planted eval overlap flags, clean docs do not") {
    import graft.operators.Curation
    // 10-token docs with w=4 shingles: doc 1's middle 6 tokens form
    // the eval set (3 shared 4-grams), doc 2 shares exactly TWO
    // 4-grams (under minShared=3), doc 3 shares none
    val train = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g zz ww qq"),  // "c d e f","d e f g" shared
      (3L, "p q r s t u v w p2 q2")
    ).toDF("doc_id", "text")
    val eval = Seq(Tuple1("c d e f g h")).toDF("text")
    val m = Curation.decontaminate(train, eval, "doc_id", "text",
        shingleWidth = 4, minShared = 3)
      .select("doc_id", "n_shared", "contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((3L, true)), s"got ${m(1L)}")
    assert(m(2L) == ((2L, false)), s"got ${m(2L)}")
    assert(m(3L) == ((0L, false)), s"got ${m(3L)}")
    // short-doc contract: under w tokens, the whole text is one
    // shingle — an eval doc equal to a short train doc still flags
    // at minShared=1
    val shortT = Seq((9L, "tiny doc here")).toDF("doc_id", "text")
    val shortE = Seq(Tuple1("tiny doc here")).toDF("text")
    val sm = Curation.decontaminate(shortT, shortE, "doc_id", "text",
        shingleWidth = 8, minShared = 1)
      .select("n_shared", "contaminated").as[(Long, Boolean)].head()
    assert(sm == ((1L, true)), s"got $sm")
  }

  test("funnel: strict ordering, stalls, same-instant, absent keys") {
    import graft.operators.Events
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),   // full
      (2L, 10L, "view"), (2L, 10L, "click"),  // same instant: no advance
      (2L, 15L, "click"), (2L, 12L, "buy"),   // buy BEFORE click: stall
      (3L, 10L, "click"), (3L, 20L, "buy"),   // no view: absent entirely
      (4L, 50L, "view"),                      // stage-1 only
      (5L, 9L, "buy"), (5L, 10L, "view"), (5L, 20L, "click"),
      (5L, 25L, "buy")                        // early buy ignored
    ).toDF("k", "ts", "tp")
    val out = Events.funnel(ev, "k", "ts", "tp",
        Seq("view", "click", "buy"))
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(out == Map(
      1L -> (Some(10L), Some(20L), Some(30L)),
      2L -> (Some(10L), Some(15L), None),
      4L -> (Some(50L), None, None),
      5L -> (Some(10L), Some(20L), Some(25L))))
  }

  test("scd2History: intervals close at the next change, deletes close " +
      "but never emit, resurrection reopens") {
    import graft.operators.Events
    val log = Seq(
      (1L, 10L, "a", "U"),  // v1: valid [10, 20)
      (1L, 20L, "b", "U"),  // v2: valid [20, 30)
      (1L, 30L, "x", "D"),  // tombstone: closes v2, emits nothing
      (1L, 40L, "c", "U"),  // resurrection: valid [40, null) current
      (2L, 15L, "z", "U"),  // single version, current
      (3L, 11L, "q", "D")   // delete-only key: no history at all
    ).toDF("k", "seq", "v", "op")
    val out = Events.scd2History(log, Seq("k"), Seq("seq"), "op", "D")
      .select("k", "seq", "v", "valid_from_seq", "valid_to_seq",
        "is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(out == Set(
      (1L, 10L, "a", 10L, Some(20L), false),
      (1L, 20L, "b", 20L, Some(30L), false),
      (1L, 40L, "c", 40L, None, true),
      (2L, 15L, "z", 15L, None, true)), s"got $out")
  }

  test("cohortRetention: hand-computed matrix, null users excluded") {
    import graft.operators.Events
    // buckets of 100 us; exact epoch-microsecond TIMESTAMPs
    def ts(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    val ev = Seq(
      (Some(1L), 10L), (Some(1L), 110L), (Some(1L), 115L), // u1: b0, b1 (dup in b1)
      (Some(1L), 310L),                                    // u1: b3
      (Some(2L), 120L), (Some(2L), 220L),                  // u2: cohort b1, +0, +1
      (Some(3L), 130L),                                    // u3: cohort b1 only
      (None, 10L)                                          // anonymous: excluded
    ).map { case (u, us) => (u, ts(us)) }
      .toDF("user_id", "ts")
    val out = Events.cohortRetention(ev, "user_id", "ts",
        bucketMicros = 100L)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),  // u1
      (1L, 0L, 2L), (1L, 1L, 1L)),               // u2+u3 at +0, u2 at +1
      s"got $out")
  }

  test("applyChangelog: latest wins, deletes drop keys, resurrection") {
    import graft.operators.Events
    val log = Seq(
      (1L, 10L, "U", "a"), (1L, 20L, "U", "b"),   // upsert chain -> b
      (2L, 10L, "U", "x"), (2L, 30L, "D", "-"),   // latest is delete
      (3L, 10L, "D", "-"), (3L, 15L, "U", "y"),   // delete then upsert
      (4L, 10L, "D", "-"),                        // only a delete
      (5L, 10L, "U", "p"), (5L, 9L, "U", "q")     // out-of-order arrival
    ).toDF("k", "seq", "op", "v")
    val snap = Events.applyChangelog(log, Seq("k"), Seq("seq"), "op", "D")
      .select("k", "seq", "v").as[(Long, Long, String)].collect().toSet
    assert(snap == Set((1L, 20L, "b"), (3L, 15L, "y"), (5L, 10L, "p")))
    // the op column is consumed; everything else survives
    val cols = Events.applyChangelog(log, Seq("k"), Seq("seq"), "op", "D")
      .columns.toSeq
    assert(cols == Seq("k", "seq", "v"))
    // partial-aggregation shape: no Window operator anywhere
    val plan = Events.applyChangelog(log, Seq("k"), Seq("seq"), "op", "D")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("scd2: collapses runs, closes intervals, tie-breaks by tieCol") {
    import graft.operators.Events
    // user 1: A A B A (run of A collapses); user 2: one event (open
    // interval from the start); ts=40 ties broken by event_id: the
    // B(41) change wins the slot before A(42)
    val ev = Seq(
      (1L, 10L, 100L, "A"),
      (1L, 20L, 101L, "A"),   // same as prev -> collapsed
      (1L, 30L, 102L, "B"),
      (1L, 40L, 103L, "B"),   // collapsed
      (1L, 40L, 104L, "A"),   // same ts as 103: event_id orders it after
      (2L, 5L, 200L, "X")
    ).toDF("user_id", "ts_us", "event_id", "event_type")
    val out = Events.scd2(ev, "user_id", "ts_us", "event_id",
        "event_type")
      .orderBy("user_id", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, "A", 10L, Some(30L), false),
      (1L, "B", 30L, Some(40L), false),
      (1L, "A", 40L, None, true),
      (2L, "X", 5L, None, true)))
  }

  test("scd2: every interval chain covers the key's full event span") {
    import graft.operators.Events
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = raw.select(col("user_id"), col("event_id"),
      col("event_type"), Events.tsMicros(raw).as("ts_us"))
    val out = Events.scd2(ev, "user_id", "ts_us", "event_id",
      "event_type")
    // exactly one open interval per user, starting at the user's first
    // event; consecutive intervals chain with no gaps or overlaps
    val perUser = out.orderBy("user_id", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
      .groupBy(_._1)
    val firstTs = ev.groupBy("user_id").agg(min("ts_us"))
      .as[(Long, Long)].collect().toMap
    perUser.foreach { case (u, ivs) =>
      assert(ivs.count(_._5) == 1 && ivs.last._5)
      assert(ivs.head._3 == firstTs(u))
      ivs.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3), s"gap at $u")
        case _         =>
      }
      // adjacent intervals always change the attribute value
      ivs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 != b._2, s"uncollapsed run at $u")
        case _         =>
      }
    }
  }
}
