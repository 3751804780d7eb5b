package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}

/** Dedup + ANN operator specs on small curated corpora where the exact
  * answer is known; scale behaviour (bucketing, skew guard) is asserted
  * structurally — no cartesian products in any plan.
  */
class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE QUICK  BROWN FOX jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),  // near dup of 1
    (4L, "completely different text about spark engines and scale")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-equal docs, keeper = min id") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .groupBy("fp").agg(count(lit(1)).as("n"), min("keeper").as("keep"))
      .where(col("n") > 1).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keep") == 1L)
  }

  test("exactWeighted: one keeper per content, weight counts the copies") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "same text here"),
      (2L, "SAME   text here  "), // normalizes equal to 1
      (3L, "same text here"),     // verbatim copy of 1
      (4L, "different entirely")
    ).toDF("id", "text")
    val out = Dedup.exactWeighted(docs, "id", "text")
      .select("id", "weight").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (4L, 1L))) // min-id keepers, counts
    // weights conserve the corpus: sum == raw row count
    assert(out.toSeq.map(_._2).sum == 4L)
  }

  test("redactPii replaces scan hits with placeholders, leaves prose") {
    import graft.functions.{TextFunctions => T}
    val out = Seq(
      "mail a.b@x.org or see https://x.org/a?id=1234567 acct 987654321 ok",
      "no signals here 123456"
    ).toDF("text").select(T.redactPii(col("text"))).as[String].collect()
    // the URL swallows its own digit run; the bare account run redacts
    assert(out(0) == "mail <EMAIL> or see <URL> acct <NUM> ok")
    assert(out(1) == "no signals here 123456") // 6 digits: below 7+ bar
  }

  test("minhash near-dup finds the near pair, skips the distinct doc") {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
        shingleWidth = 2, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup is also a near dup
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash skew guard drops degenerate buckets") {
    val degenerate = (1L to 50L).map(i => (i, "same same same"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(degenerate, "doc_id", "text",
      shingleWidth = 2, numHashes = 16, bands = 8, threshold = 0.9,
      maxBucket = 10)
    assert(out.count() == 0) // all buckets over cap -> dropped, no blowup
  }

  test("simhash near-dups: exact dup at hamming 0 within radius") {
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngramJaccard scores an explicit candidate pair set") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(corpus, pairs, "doc_id", "text", n = 2)
      .orderBy("id_b").collect()
    assert(out(0).getDouble(2) == 1.0) // 1 vs 2: identical after normalize
    assert(out(1).getDouble(2) < 0.1)  // 1 vs 4: near-disjoint
  }

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.999f, 0.01f, 0.0f, 0.0f)), // ~parallel to 1
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),    // orthogonal
    (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with id tie-break") {
    val q = vecs.where(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.bruteForceTopK(q, vecs, k = 2).orderBy("rank")
      .select("vec_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L)) // self first, near-parallel second
  }

  test("lshTopK finds identical/near-parallel vectors (recall on easy case)") {
    val q = vecs.where(col("vec_id") === 1)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.lshTopK(q, vecs, k = 2, dim = 4, numPlanes = 8, bands = 8)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(out.contains(1L) && out.contains(2L))
  }

  test("quantized top-k: self at rank 1, codes preserve the easy order") {
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.bruteForceTopKQuantized(q, vecs, k = 2)
    // self-similarity survives quantization exactly (codes parallel)
    val top1 = out.where(col("rank") === 1)
      .select("query_id", "vec_id", "cosine").collect()
    top1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 1.0)
    }
    // and the near-parallel pair stays each other's runner-up, as in
    // the float baseline — O(1/127) error cannot flip this margin
    val second = out.where(col("rank") === 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(second(1L) == 2L && second(2L) == 1L)
  }

  test("quantized top-k keeps high recall vs the float baseline") {
    // Real embeddings (sf0.001): top-5 by int8 codes vs top-5 by float
    // cosine. O(1/127) score error should barely perturb rankings.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def tops(quantized: Boolean) = {
      val df = if (quantized)
        Ann.bruteForceTopKQuantized(q, e, k = 5)
      else Ann.bruteForceTopK(q, e, k = 5)
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    }
    val exact = tops(quantized = false)
    val approx = tops(quantized = true)
    val recalls = exact.map { case (qid, ex) =>
      approx(qid).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"quantized recall@5 degraded to $mean")
  }

  test("ivfTopK: self always found at rank 1 (query is in its own cell)") {
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.ivfTopK(q, vecs, k = 2, nCells = 2, nProbe = 1)
      .where(col("rank") === 1)
      .select("query_id", "vec_id", "cosine").collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1)) // top hit is the query itself
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("trainIvfCentroids: deterministic, converging, keeps empty cells") {
    val c1 = Ann.trainIvfCentroids(vecs, nCells = 2, iters = 2)
    val c2 = Ann.trainIvfCentroids(vecs, nCells = 2, iters = 2)
    assert(c1 == c2) // bit-deterministic across runs
    assert(c1.length == 2 && c1.forall(_.length == 4))
    // trained centroids still locate every vector's own cell: self at rank 1
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.ivfTopK(q, vecs, k = 1, nCells = 2, nProbe = 1,
        trainedCentroids = Some(c1))
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(out.length == 4 && out.forall(p => p._1 == p._2))
  }

  test("ivf2TopK: self at rank 1 under a single-coarse probe") {
    // wProbe=1 probes exactly the query's own coarse cell, whose best
    // fine cell IS the corpus assignment of the query vector — so a
    // corpus query must always find itself first.
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val out = Ann.ivf2TopK(q, vecs, k = 1, nCells = 4, nCoarse = 2,
        wProbe = 1, nProbe = 1)
      .select("query_id", "vec_id", "cosine").collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("ivf2TopK: full probe equals bruteForceTopK; deterministic") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // probing every coarse cell and every fine cell makes the
    // candidate set the whole corpus -> exact brute-force equality
    val full = rows(Ann.ivf2TopK(queries, corpus, k = 5, nCells = 64,
      nCoarse = 8, wProbe = 8, nProbe = 64))
    val brute = rows(Ann.bruteForceTopK(queries, corpus, k = 5))
    assert(full == brute)
    val d1 = rows(Ann.ivf2TopK(queries, corpus, k = 5))
    val d2 = rows(Ann.ivf2TopK(queries, corpus, k = 5))
    assert(d1 == d2)
  }

  test("ivf2TopK: default probe keeps useful recall; broadcast plan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding"))
    val out = Ann.ivf2TopK(queries, corpus, k = 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val approx = ids(out)
    val exact = ids(Ann.bruteForceTopK(queries, corpus, k = 5))
    val recalls = exact.map { case (qid, ex) =>
      approx.getOrElse(qid, Set.empty[Long]).intersect(ex).size.toDouble /
        ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"two-level recall@5 collapsed to $mean")
    // the fine level must enter as a broadcast join, never a cartesian
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "fine table not broadcast")
    assert(!plan.contains("CartesianProduct"), "cartesian in ivf2 plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in ivf2 plan")
  }

  test("cosineNearDupPairs at high threshold keeps only the parallel pair") {
    val out = Ann.cosineNearDupPairs(vecs, threshold = 0.99, dim = 4,
        numPlanes = 8, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("semanticDedup drops higher-id cell-mates above threshold only") {
    // explicit axis centroids: cell 0 = {1, 2, 5} (e1-parallel),
    // cell 1 = {3, 6} (e2-parallel) plus 4 (orthogonal to both, tie
    // breaks to the higher cell)
    val corpus = vecs.unionByName(Seq(
      (5L, Seq(0.998f, 0.02f, 0.0f, 0.0f)),  // ~parallel to 1 and 2
      (6L, Seq(0.0f, 1.0f, 0.001f, 0.0f))    // ~parallel to 3
    ).toDF("vec_id", "embedding"))
    val axes = Some(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    val out = Ann.semanticDedup(corpus, nCells = 2, threshold = 0.99,
        trainedCentroids = axes)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    // 2 and 5 lose to lower-id cell-mate 1; 6 loses to 3; 4 shares
    // cell 1 but sits at cosine 0 from its mates and survives
    assert(out == Set((1L, 0L), (3L, 1L), (4L, 1L)))
    // oversized cells (> maxCell members) skip dedup wholesale: with
    // maxCell = 2 both cells are over and every row survives
    val guarded = Ann.semanticDedup(corpus, nCells = 2,
        threshold = 0.99, trainedCentroids = axes, maxCell = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(guarded == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("semanticDedupCensus reports exactly the cells the guard skips") {
    val corpus = vecs.unionByName(Seq(
      (5L, Seq(0.998f, 0.02f, 0.0f, 0.0f)),
      (6L, Seq(0.0f, 1.0f, 0.001f, 0.0f))
    ).toDF("vec_id", "embedding"))
    val axes = Some(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    // maxCell = 2: cell 0 holds {1,2,5}, cell 1 holds {3,4,6} -> both
    // oversized, both skipped by the operator, both in the census with
    // their populations
    val census = Ann.semanticDedupCensus(corpus, nCells = 2,
        trainedCentroids = axes, maxCell = 2)
      .as[(Long, Long)].collect().toSet
    assert(census == Set((0L, 3L), (1L, 3L)))
    // at the operator's own default the same corpus yields an empty
    // census — no silent cap in play
    assert(Ann.semanticDedupCensus(corpus, nCells = 2,
      trainedCentroids = axes).isEmpty)
    // census rows == rows the guarded operator passed through undeduped
    val skipped = census.toSeq.map(_._2).sum
    assert(Ann.semanticDedup(corpus, nCells = 2, threshold = 0.99,
      trainedCentroids = axes, maxCell = 2).count() == skipped)
  }

  test("semanticDedup with an empty trained centroid list keeps every row") {
    // ADVICE r10: Some(Seq.empty) on a non-empty corpus must mean "no
    // dedup possible -> all survive", never an empty result
    val out = Ann.semanticDedup(vecs, nCells = 2, threshold = 0.9,
        trainedCentroids = Some(Seq.empty))
      .as[(Long, Long)].collect().toSet
    assert(out.map(_._1) == Set(1L, 2L, 3L, 4L))
    assert(out.forall(_._2 == -1L)) // sentinel cell: unassigned
    // and an empty corpus still yields an empty frame
    assert(Ann.semanticDedup(vecs.where(lit(false)), nCells = 2,
      threshold = 0.9).count() == 0)
  }

  test("minhash/simhash skew censuses surface suppressed buckets") {
    import graft.operators.Dedup
    // 12 identical docs: every band bucket they share has 12 members
    val docs = (1L to 12L).map(i => (i, "the quick brown fox jumps " +
      "over the lazy dog tonight")).toDF("id", "text")
    val mh = Dedup.minhashSkewCensus(docs, "id", "text", maxBucket = 10)
      .as[(Long, Long)].collect()
    assert(mh.nonEmpty && mh.forall(_._2 == 12L))
    // and the operator under the same bound finds no pairs (all its
    // buckets are oversized) — the census explains the silence
    assert(Dedup.minhashNearDups(docs, "id", "text", maxBucket = 10)
      .count() == 0)
    val sh = Dedup.simhashSkewCensus(docs, "id", "text", maxBucket = 10)
      .as[(Long, Long)].collect()
    assert(sh.nonEmpty && sh.forall(_._2 == 12L))
    assert(Dedup.simhashNearDups(docs, "id", "text", maxBucket = 10)
      .count() == 0)
    // raise the bound and both censuses empty out
    assert(Dedup.minhashSkewCensus(docs, "id", "text").isEmpty)
    assert(Dedup.simhashSkewCensus(docs, "id", "text").isEmpty)
    // cosine variant: 12 identical embeddings, every sign-LSH bucket
    // oversized under a tight bound
    val emb = (1L to 12L).map(i => (i, Seq(1.0f, 0.5f, 0.25f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cc = Ann.cosineNearDupSkewCensus(emb, dim = 4, maxBucket = 10)
      .as[(Long, Long)].collect()
    assert(cc.nonEmpty && cc.forall(_._2 == 12L))
    assert(Ann.cosineNearDupSkewCensus(emb, dim = 4).isEmpty)
  }

  test("dedupGroups: multi-hop chains collapse to the min id") {
    // Component A: 1-2-3-4 chain (3 hops); component B: 7-9; 5 isolated
    // from the pair list entirely (absent nodes stay absent).
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (9L, 7L))
      .toDF("id_a", "id_b")
    val out = Dedup.dedupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("benchmarkContamination flags verbatim and partial overlap only") {
    val bench = Seq(
      (101L, "quick brown fox jumps over"),      // verbatim inside doc 1
      (102L, "brown fox jumps over a SUBMARINE"), // partial overlap
      (103L, "entirely absent benchmark prompt text here")
    ).toDF("bench_id", "text")
    val out = Dedup.benchmarkContamination(corpus, bench, "doc_id",
        "text", "bench_id", "text", n = 3, threshold = 0.5)
      .select("doc_id", "bench_id", "containment")
      .as[(Long, Long, Double)].collect()
      .map { case (d, b, c) => (d, b, math.rint(c * 1e6) / 1e6) }.toSet
    // bench 101: 3 shingles, all in docs 1/2 (same normalized text) and
    // none in 4; doc 3 shares all 3 too ("...lazy cat" differs later).
    // bench 102: 4 shingles, 2 shared -> 0.5, at threshold. bench 103:
    // nothing. The plan must also stay broadcast-equi (no cartesian).
    assert(out.contains((1L, 101L, 1.0)) && out.contains((2L, 101L, 1.0)))
    assert(out.contains((1L, 102L, 0.5)))
    assert(!out.exists(_._2 == 103L))
    assert(!out.exists(_._1 == 4L))
    val p = Dedup.benchmarkContamination(corpus, bench, "doc_id", "text",
        "bench_id", "text").queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("groupAwareSplit keeps every near-dup cluster in one split") {
    import graft.operators.Sampling
    val rows = (0L until 300L).toDF("id")
    // 100 chains of 3: {i, i+100, i+200} rooted at i
    val pairs = (0L until 100L).toDF("a")
      .selectExpr("a AS id_a", "a + 100 AS id_b")
      .unionByName((0L until 100L).toDF("a")
        .selectExpr("a + 100 AS id_a", "a + 200 AS id_b"))
    val groups = Dedup.dedupGroups(pairs)
    val split = Sampling.groupAwareSplit(rows, "id", groups,
        Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L))
      .select("id", "split").as[(Long, String)].collect().toMap
    // every member matches its root's split — zero straddling clusters
    (0L until 100L).foreach { i =>
      assert(split(i + 100) == split(i) && split(i + 200) == split(i))
    }
    // and with 100 roots, at least two split labels actually occur
    assert(split.values.toSet.size >= 2)
  }

  test("keepBest keeps the highest-score doc per cluster, min id on ties") {
    import graft.operators.Dedup
    // cluster {1,2,3}: 2 has top score; cluster {10,11}: tie -> min id
    // 10; 99 has no edge -> singleton survivor.
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (99L, 1L)).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(docs, pairs, "id", "score")
      .orderBy("group")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 9L, 3L), (10L, 10L, 4L, 2L),
      (99L, 99L, 1L, 1L)))

    // Null scores lose to any scored member; an all-null group falls
    // back to min id (the null-flag field in the struct-min order).
    val withNulls = Seq((1L, Some(5L)), (2L, None), (3L, Some(5L)),
      (10L, Option.empty[Long]), (11L, None)).toDF("id", "score")
    val outN = Dedup.keepBest(withNulls,
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"),
        "id", "score")
      .orderBy("group").select("group", "id")
      .as[(Long, Long)].collect().toSeq
    assert(outN == Seq((1L, 1L), (10L, 10L)))

    // String ids refuse cleanly (VERDICT r11 item 6) instead of dying
    // in analysis with a cast error: the message names the column and
    // the dense-numeric-id recipe.
    val sDocs = Seq(("a", 5L), ("b", 9L)).toDF("id", "score")
    val sPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException] {
      Dedup.keepBest(sDocs, sPairs, "id", "score")
    }
    assert(err.getMessage.contains("`id`") &&
      err.getMessage.contains("numeric"))
    val err2 = intercept[IllegalArgumentException] {
      Dedup.dedupGroups(sPairs)
    }
    assert(err2.getMessage.contains("`id_a`"))
  }

  test("packStreams: offsets are exclusive prefix sums, bins span the budget") {
    import graft.operators.Sampling
    // One stream so order is fully determined by id; token counts chosen
    // to cross the budget boundary mid-document (doc 3 spans bins 0-1)
    // and to include a zero-token doc (occupies one slot, stays
    // addressable).
    val docs = Seq((1L, 4L), (2L, 0L), (3L, 5L), (4L, 3L))
      .toDF("id", "toks")
    val out = Sampling.packStreams(docs, "id", "toks", streams = 1,
        budget = 8L)
      .select("id", "start_offset", "bin_first", "bin_last")
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 0L), // [0,4) in bin 0
      (2L, 4L, 0L, 0L), // zero tokens: one slot at offset 4
      (3L, 4L, 0L, 1L), // [4,9) crosses the bin-0/1 boundary
      (4L, 9L, 1L, 1L)))
  }

  test("shuffleShards: global_pos is a permutation, consistent with shards") {
    import graft.operators.Sampling
    val n = 500L
    val out = Sampling.shuffleShards((0L until n).toDF("id"), "id",
        shards = 8)
      .select("id", "shard", "pos", "global_pos")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // exactly one position per row, covering 0..n-1 with no gaps
    assert(out.map(_._4).sorted == (0L until n))
    // shards are contiguous global ranges in shard order (offset sums)
    val byShard = out.groupBy(_._2).toSeq.sortBy(_._1)
    val ranges = byShard.map { case (s, rs) =>
      (s, rs.map(_._4).min, rs.map(_._4).max, rs.size.toLong) }
    ranges.sliding(2).foreach {
      case Seq((_, _, maxA, _), (_, minB, _, _)) =>
        assert(minB == maxA + 1)
      case _ =>
    }
    // within a shard, pos is 1..count and increases with global_pos
    byShard.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._3) == (1L to rs.size))
    }
    // deterministic: a second run produces the identical permutation
    val again = Sampling.shuffleShards((0L until n).toDF("id"), "id",
        shards = 8)
      .select("id", "global_pos").as[(Long, Long)].collect().toSeq
    assert(again.toMap == out.map(r => r._1 -> r._4).toMap)
    // and the permutation actually shuffles (not the identity)
    assert(out.count(r => r._1 == r._4) < 20)
  }

  test("stratifiedKeep: rate 0 drops a stratum, full rate keeps it whole") {
    import graft.operators.Sampling
    val docs = (0L until 200L).toDF("id")
      .withColumn("s", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = docs.where(Sampling.stratifiedKeep(col("id"), col("s"),
        Map("a" -> 0L, "b" -> Sampling.Buckets), defaultPpm = 0L))
      .as[(Long, String)].collect()
    assert(kept.forall(_._2 == "b") && kept.length == 100)
    // and a mid-rate stratum keeps a strict, deterministic subset
    val half = docs.where(Sampling.stratifiedKeep(col("id"), col("s"),
        Map("a" -> 500000L), defaultPpm = 0L)).count()
    assert(half > 20 && half < 80)
  }

  test("temperatureMix flattens source shares toward sqrt weights") {
    import graft.operators.Sampling
    // sizes 400 vs 100 -> weights 20 vs 10 -> ppm 166666 vs 333333:
    // the small source keeps at TWICE the rate of the big one, where
    // proportional sampling would keep both at the same rate
    val docs = ((1L to 400L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, "small"))).toDF("id", "src")
    val kept = Sampling.temperatureMix(docs, "id", "src", budgetRows = 100)
      .collect().map(r => r.getString(1))
    val nBig = kept.count(_ == "big").toDouble
    val nSmall = kept.count(_ == "small").toDouble
    // expectations 66.7 and 33.3; allow generous binomial slack
    assert(nBig > 40 && nBig < 95, s"big kept $nBig")
    assert(nSmall > 18 && nSmall < 50, s"small kept $nSmall")
    // flattening: small keeps at a materially higher RATE than big
    assert(nSmall / 100.0 > 1.3 * (nBig / 400.0))
    // a NULL source is its own stratum, not an NPE (old .toString
    // count map) and not a silent drop (stratifiedKeep's default)
    val withNull = ((1L to 400L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, null: String))).toDF("id", "src")
    val keptNull = Sampling
      .temperatureMix(withNull, "id", "src", budgetRows = 100)
      .where(col("src").isNull).count().toDouble
    assert(keptNull > 18 && keptNull < 50, s"null kept $keptNull")
  }

  test("round-10 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Dedup, Frequency, Sampling}
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.duplicatePassages(emptyDocs, "doc_id", "text")
      .count() == 0)
    // a single empty-text doc yields one degenerate fingerprint and,
    // with no partner, no pairs
    val blank = Seq((1L, ""), (2L, "real words here")).toDF("doc_id", "text")
    assert(Dedup.duplicatePassages(blank, "doc_id", "text",
      minShared = 1).count() == 0)
    val emptyBaskets = Seq.empty[(Long, String)].toDF("bk", "it")
    assert(Frequency.coOccurrence(emptyBaskets, "bk", "it", k = 3)
      .count() == 0)
    // empty pool -> no negatives; empty interactions -> no users
    val inter = Seq((1L, 10L)).toDF("u", "i")
    val emptyPool = Seq.empty[Long].toDF("i")
    assert(Sampling.negativeSample(inter, "u", "i", emptyPool, 3)
      .count() == 0)
    assert(Sampling.negativeSample(
      Seq.empty[(Long, Long)].toDF("u", "i"), "u", "i",
      Seq(1L).toDF("i"), 3).count() == 0)
    assert(Sampling.quotaSample(emptyDocs, "doc_id", "text", 5)
      .count() == 0)
  }

  test("quotaSample: exact counts per stratum, deterministic membership") {
    import graft.operators.Sampling
    val docs = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "s")
    def run() = Sampling.quotaSample(docs, "id", "s", quota = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = run()
    // exact quota per stratum (both strata have >= 10 members)
    assert(out.count(_._1 == "a") == 10 && out.count(_._1 == "b") == 10)
    // dense ranks, stable membership across evaluations
    assert(out.filter(_._1 == "a").map(_._3).sorted.sameElements(1L to 10L))
    assert(run().toSet == out.toSet)
    // a stratum smaller than the quota is kept whole
    val small = Sampling.quotaSample(
      docs.where(col("id") <= 5), "id", "s", quota = 10)
    assert(small.count() == 5)
    // a NULL stratum is a real group: the window head counts it, and
    // the restore join must be null-safe or its picks vanish (caught
    // by the synthgen replay: null-lang documents drew a quota the
    // equi-join then dropped)
    val withNull = (1L to 60L)
      .map(i => (i, if (i % 3 == 0) null else "a"))
      .toDF("id", "s")
    val nOut = Sampling.quotaSample(withNull, "id", "s", quota = 10)
    assert(nOut.where(col("s").isNull).count() == 10)
    assert(nOut.count() == 20)
  }

  test("coOccurrence ranks by co-basket count, lift favors rare affinity") {
    import graft.operators.Frequency
    // 4 baskets: x+y together twice, x+z twice; z appears in 2 baskets
    // while y appears in 3 -> equal n_co, but lift prefers z (rarer)
    val baskets = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y")
    ).toDF("bk", "it")
    val out = Frequency.coOccurrence(baskets, "bk", "it", k = 2,
        minCount = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4)))
    val forX = out.filter(_._1 == "x").sortBy(_._2)
    // n_co(x,y) = n_co(x,z) = 2; lift(x,z) = 2*4/(3*2) = 1.333333 >
    // lift(x,y) = 2*4/(3*3) = 0.888889 -> z ranks first
    assert(forX.map(t => (t._2, t._5)).toSeq == Seq((1L, "z"), (2L, "y")))
    assert(forX.find(_._5 == "z").get._4 == 1.333333)
    assert(forX.find(_._5 == "y").get._4 == 0.888889)
    // symmetry of counts: (y, x) exists with the same n_co
    assert(out.exists(t => t._1 == "y" && t._5 == "x" && t._3 == 2L))
  }

  test("negativeSample: never a positive, exactly k per user, deterministic") {
    import graft.operators.Sampling
    val inter = Seq((1L, 10L), (1L, 11L), (2L, 10L))
      .toDF("user", "item")
    val pool = (10L to 29L).toDF("item")
    def run() = Sampling.negativeSample(inter, "user", "item", pool, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    val out = run()
    val positives = Set((1L, 10L), (1L, 11L), (2L, 10L))
    out.foreach { case (u, _, i) =>
      assert(!positives((u, i)), s"sampled a positive: ($u, $i)")
    }
    assert(out.count(_._1 == 1L) == 4 && out.count(_._1 == 2L) == 4)
    assert(out.map(_._2).grouped(4).forall(_ == Seq(1L, 2L, 3L, 4L)))
    assert(run() == out) // same negatives on re-evaluation
  }

  test("hardNegatives: closest non-positives win, positives never appear") {
    import graft.operators.Sampling
    // user 1 points along e1; items fan out from e1 to e2
    val inter = Seq((1L, 10L)).toDF("user", "item") // 10 is a positive
    val uv = Seq((1L, Seq(1.0f, 0.0f))).toDF("user", "embedding")
    val iv = Seq(
      (10L, Seq(1.0f, 0.0f)),    // identical but POSITIVE -> excluded
      (11L, Seq(0.9f, 0.1f)),    // closest negative
      (12L, Seq(0.5f, 0.5f)),
      (13L, Seq(0.0f, 1.0f))     // orthogonal, must rank last
    ).toDF("item", "embedding")
    val out = Sampling.hardNegatives(inter, "user", "item", uv, iv,
        k = 2)
      .orderBy("rank").select("item", "rank")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((11L, 1L), (12L, 2L))) // hardest first, k caps
  }

  test("negativeSample/hardNegatives refuse an oversized pool") {
    import graft.operators.Sampling
    val inter = Seq((1L, 10L)).toDF("user", "item")
    val pool = (10L to 29L).toDF("item") // 20 distinct items
    val iv = (10L to 29L).map(i => (i, Seq(1.0f, i.toFloat)))
      .toDF("item", "embedding")
    val uv = Seq((1L, Seq(1.0f, 0.0f))).toDF("user", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.negativeSample(inter, "user", "item", pool, k = 3,
        maxPool = 10L)
    }
    assert(e1.getMessage.contains("hardNegativesAnn"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.hardNegatives(inter, "user", "item", uv, iv, k = 3,
        maxPool = 10L)
    }
    assert(e2.getMessage.contains("hardNegativesAnn"))
    // at exactly the bound, both proceed
    assert(Sampling.negativeSample(inter, "user", "item", pool, k = 3,
      maxPool = 20L).count() == 3)
  }

  test("hardNegativesAnn: exhaustive probing matches the exact miner") {
    import graft.operators.Sampling
    val inter = Seq((1L, 10L)).toDF("user", "item")
    val uv = Seq((1L, Seq(1.0f, 0.0f))).toDF("user", "embedding")
    val iv = Seq(
      (10L, Seq(1.0f, 0.0f)),    // identical but POSITIVE -> excluded
      (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.5f, 0.5f)),
      (13L, Seq(0.0f, 1.0f))
    ).toDF("item", "embedding")
    // nProbe = nCells probes every cell -> candidates are the whole
    // catalog and the ANN head must equal hardNegatives' exact scan
    // (cosines here are distinct, so the tie orders cannot diverge)
    val out = Sampling.hardNegativesAnn(inter, "user", "item", uv, iv,
        k = 2, nCells = 2, nProbe = 2, overfetch = 5)
      .orderBy("rank").select("item", "rank")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((11L, 1L), (12L, 2L)))
    // restricted probing still never returns a positive and caps at k
    val narrow = Sampling.hardNegativesAnn(inter, "user", "item", uv,
        iv, k = 2, nCells = 2, nProbe = 1, overfetch = 1)
      .select("item").as[Long].collect().toSeq
    assert(narrow.size <= 2 && !narrow.contains(10L))
  }

  test("minhashNearDupsAgainst flags batch near-dups of corpus docs only") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val corpus = Seq((1L, base), (2L, "completely unrelated content " +
      "about database engines and query optimizers at scale"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, base.dropRight(15)), // near-dup of corpus 1: flagged
      (11L, "fresh new document with its own entirely distinct topic " +
        "matter and vocabulary choices throughout")
    ).toDF("id", "text")
    val pairs = Dedup.minhashNearDupsAgainst(batch, corpus, "id", "text",
        threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 1L)))
    assert(!pairs.exists(_._1 == 11L))
    assert(!pairs.exists(_._2 == 2L))
  }

  test("minhashNearDupsAgainst precision: every unrestricted pair clears the threshold independently") {
    import graft.operators.Dedup
    // Replays q_neardup_against WITHOUT the query's planted-key-space
    // restriction (QueriesLlm.nearDupAgainst narrows its output because
    // natural near-dups are correct but not SQL-predictable). This
    // asserts the discarded remainder is PRECISE — every emitted pair
    // clears the threshold under a driver-side Jaccard recomputation
    // that shares no code with the operator — so the query's shape
    // filter can only hide correct extra pairs, never false positives.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val batch = docs.where(col("doc_id") < 150)
      .select((col("doc_id") + 100000).as("doc_id"),
        substring(col("text"), lit(1),
          (length(col("text")) * 90 / 100).cast("int")).as("text"))
    val out = Dedup.minhashNearDupsAgainst(batch, docs, "doc_id", "text",
        shingleWidth = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    // recall: every planted twin is flagged against its original
    val plantedIds = docs.where(col("doc_id") < 150)
      .select("doc_id").as[Long].collect()
    val planted = plantedIds.map(id => (id + 100000L, id)).toSet
    assert(planted.subsetOf(out), s"missing: ${planted.diff(out).take(5)}")
    // precision: independent shingle-set Jaccard, plain Scala
    val texts = docs.as[(Long, String)].collect().toMap
    def shingleSet(text: String): Set[String] = {
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\s+", " ").split(" ").filter(_.nonEmpty).toSeq
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    out.foreach { case (batchId, corpusId) =>
      val orig = texts(batchId - 100000L)
      val truncated = orig.take(orig.length * 90 / 100)
      val a = shingleSet(truncated)
      val b = shingleSet(texts(corpusId))
      val j = (a & b).size.toDouble / (a | b).size.max(1)
      assert(j >= 0.3 - 1e-6,
        s"pair ($batchId, $corpusId) below threshold: jaccard $j")
    }
  }

  test("minhash index probe equals the direct against-corpus scan") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val corpus = Seq(
      (1L, base),
      (2L, "completely unrelated content about database engines and " +
        "query optimizers running at tremendous scale"),
      (3L, "a third document with its own distinct words entirely")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, base + " extra"),           // near-dup of corpus 1
      (11L, "nothing like anything in the corpus at all honestly")
    ).toDF("id", "text")
    val direct = Dedup.minhashNearDupsAgainst(batch, corpus, "id",
        "text", threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val idx = tmpDir("mhidx") + "/bands"
    // split write + append: the incremental maintenance path must
    // yield the same index as a one-shot build
    Dedup.minhashIndexWrite(corpus.where(col("id") < 3), "id", "text",
      idx)
    Dedup.minhashIndexWrite(corpus.where(col("id") >= 3), "id", "text",
      idx, append = true)
    val probed = Dedup.minhashNearDupsAgainstIndex(batch, corpus, "id",
        "text", idx, threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(probed == direct)
    assert(probed.contains((10L, 1L)) && !probed.exists(_._1 == 11L))

    // Params sidecar enforcement (ADVICE r11): probing or appending
    // with different sketch parameters must refuse, not silently
    // return a near-empty result.
    val probeErr = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupsAgainstIndex(batch, corpus, "id", "text",
        idx, bands = 4, threshold = 0.3)
    }
    assert(probeErr.getMessage.contains("built"))
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexWrite(corpus, "id", "text", idx,
        numHashes = 16, bands = 4, append = true)
    }

    // Probe-after-compact equivalence (VERDICT r11 item 4): re-append
    // half the corpus (duplicate signatures) and shrink the corpus by
    // one document (stale index rows); compaction must fold both away
    // and the probe must equal the direct scan on the LIVE corpus.
    Dedup.minhashIndexWrite(corpus.where(col("id") < 3), "id", "text",
      idx, append = true)
    val live = corpus.where(col("id") =!= 3L)
    val (nBefore, nAfter) = Dedup.minhashIndexCompact(live, "id", idx)
    assert(nBefore > nAfter, s"compaction dropped nothing: $nBefore")
    // after compact the index is exactly the live corpus's distinct
    // (band, id) rows — no re-append duplicates, no stale ids
    val rows = spark.read.parquet(idx)
    assert(rows.count() == rows.dropDuplicates("band", "id").count())
    assert(rows.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L))
    val directLive = Dedup.minhashNearDupsAgainst(batch, live, "id",
        "text", threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val probedAfter = Dedup.minhashNearDupsAgainstIndex(batch, live,
        "id", "text", idx, threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(probedAfter == directLive)
    // the params sidecar survives the compaction swap
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDupsAgainstIndex(batch, live, "id", "text",
        idx, bands = 4, threshold = 0.3)
    }

    // maybeCompact policy: far below the file bound -> no-op; bound 0
    // -> compacts (and is then idempotent on the row count)
    assert(Dedup.minhashIndexMaybeCompact(live, "id", idx,
      maxFiles = 10000).isEmpty)
    val Some((b2, a2)) =
      Dedup.minhashIndexMaybeCompact(live, "id", idx, maxFiles = 0)
    assert(b2 == a2 && a2 == nAfter)
  }

  test("append to a pre-sidecar index stays caller-owned: no retroactive params stamp") {
    // ADVICE r12: appending to an index built before the sidecar
    // existed used to stamp the APPENDER's params as if they were the
    // build params — refusing later probes that use the true originals
    // and legitimizing the append if IT was the mismatched one.
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "one document full of perfectly ordinary words"),
      (2L, "another document with different ordinary words")
    ).toDF("id", "text")
    val idx = tmpDir("mhidx-presidecar") + "/bands"
    Dedup.minhashIndexWrite(corpus.where(col("id") === 1L), "id",
      "text", idx)
    val sidecar = new java.io.File(
      new java.net.URI(s"file:$idx/_graft_minhash_params.json"))
    assert(sidecar.exists(), "fresh build must stamp the sidecar")
    // simulate a pre-sidecar index
    assert(sidecar.delete())
    Dedup.minhashIndexWrite(corpus.where(col("id") === 2L), "id",
      "text", idx, append = true)
    assert(!sidecar.exists(),
      "append to a pre-sidecar index must not stamp params")
    // caller-owned contract: a probe with matching params still works
    val probed = Dedup.minhashNearDupsAgainstIndex(
      corpus.limit(1).select(col("id") + 100 as "id", col("text")),
      corpus, "id", "text", idx, threshold = 0.3)
    assert(probed.count() == 1)
    // compaction of a pre-sidecar index must not invent a sidecar
    // either, and must leave no swap debris behind
    Dedup.minhashIndexCompact(corpus, "id", idx)
    assert(!sidecar.exists())
    for (suffix <- Seq("__compacting", "__old"))
      assert(!new java.io.File(new java.net.URI(s"file:$idx$suffix"))
        .exists(), s"swap debris left at $idx$suffix")
  }

  test("dedupAgainst drops corpus hits, self-dedups the batch, keeps fresh rows") {
    import graft.operators.Dedup
    val corpus = Seq((1L, "Hello World"), (2L, "other doc"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, "hello   world"), // corpus dup modulo case/whitespace: dies
      (11L, "brand new"),     // fresh: survives
      (12L, "BRAND NEW"),     // batch-internal dup of 11: loses to min id
      (13L, "also new")       // fresh: survives
    ).toDF("id", "text")
    val out = Dedup.dedupAgainst(batch, corpus, "id", "text")
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(11L, 13L))
  }

  test("duplicatePassages flags embedded verbatim passages, skips disjoint docs") {
    import graft.operators.Dedup
    val passage = "the shared boilerplate disclaimer spans exactly " +
      "eleven word tokens here"
    val docs = Seq(
      (1L, s"first document body before quoting $passage and then more"),
      (2L, s"second report opens differently yet cites $passage near its end"),
      (3L, "third text shares no run of tokens with anything else at all")
    ).toDF("doc_id", "text")
    // passage has 11 tokens >= window + n - 1 = 7 -> a shared
    // fingerprint is GUARANTEED, not probabilistic
    val pairs = Dedup.duplicatePassages(docs, "doc_id", "text",
        n = 4, window = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("graphExpandTopK: a hop recovers the cross-cell true neighbor") {
    import graft.operators.Ann
    // Hand-built 2-D geometry, 3 cells (centroids = ids 0/1/2): the
    // query's best cell is 0, but its TRUE nearest neighbor (id 10)
    // lives in cell 1 — invisible to a 1-cell probe. id 11 sits in
    // cell 0 AND shares cell 1 under the graph's 2-cell assignment,
    // so the edge 11 -> 10 bridges the Voronoi boundary and one hop
    // must surface id 10 at rank 1.
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)),   // centroid/cell 0
      (1L, Seq(0.6, 0.8)),   // centroid/cell 1
      (2L, Seq(0.0, 1.0)),   // centroid/cell 2
      (10L, Seq(0.85, 0.527)), // true NN of the query, primary cell 1
      (11L, Seq(0.95, 0.312))  // the bridge: cell 0, second cell 1
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(0.9, 0.436)))
      .toDF("query_id", "embedding")
    val ivf = Ann.ivfTopK(queries, corpus, k = 2, nCells = 3,
        nProbe = 1)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(ivf == Seq(11L, 0L), s"1-cell probe fixture drifted: $ivf")
    val graph = Ann.graphExpandTopK(queries, corpus, k = 2, nCells = 3,
        nProbe = 1, beam = 2, hops = 1, kG = 4)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(graph == Seq(10L, 11L),
      s"hop did not recover the cross-cell neighbor: $graph")
  }

  test("graphExpandTopK: hops=0 equals ivfTopK; recall monotone in hops") {
    import graft.operators.Ann
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // hops=0 short-circuits to exactly the entry probe = ivfTopK over
    // the same cells
    val zero = ids(Ann.graphExpandTopK(queries, corpus, k = 5,
      nCells = 16, nProbe = 1, beam = 5, hops = 0))
    val ivf1 = ids(Ann.ivfTopK(queries, corpus, k = 5, nCells = 16,
      nProbe = 1))
    assert(zero == ivf1)
    // a true top-k element present in ANY candidate set ranks <= k
    // there (fewer than k vectors score above it globally), so
    // candidate-set growth can only add true hits: per-query recall
    // must be monotone from entry-only to one hop
    val brute = Ann.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val one = ids(Ann.graphExpandTopK(queries, corpus, k = 5,
      nCells = 16, nProbe = 1, beam = 5, hops = 1))
    val qids = brute.map(_._1)
    for (q <- qids) {
      val r0 = (zero.filter(_._1 == q) & brute).size
      val r1 = (one.filter(_._1 == q) & brute).size
      assert(r1 >= r0, s"query $q: hop LOWERED recall $r0 -> $r1")
    }
    // determinism: an identical invocation returns the identical set
    assert(one == ids(Ann.graphExpandTopK(queries, corpus, k = 5,
      nCells = 16, nProbe = 1, beam = 5, hops = 1)))
    // edge contract: at most kG out-edges per source
    val maxOut = Ann.knnGraph(corpus, kG = 4, nCells = 16)
      .groupBy("src").count().agg(max("count")).as[Long].collect()(0)
    assert(maxOut <= 4)
  }

  test("cellAssignments: nearest centroid by cosine, ties to the highest cell") {
    import graft.operators.Ann
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f)),  // cell 0
      (2L, Array(0.1f, 0.9f)),  // cell 1
      (3L, Array(0.5f, 0.5f)),  // exact tie: highest cell wins -> 1
      (4L, Array(-1.0f, 0.0f))  // anti-aligned with 0, orthogonal to 1 -> 1
    ).toDF("vec_id", "embedding")
    val out = Ann.cellAssignments(vecs, cents)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // the assignment is one codegen'd projection: no join, no shuffle
    val plan = Ann.cellAssignments(vecs, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("jaccardJoin equals brute force exactly: complete AND precise (3x)") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(13)
    val vocab = Vector("spark", "scan", "join", "agg", "sort", "key",
      "row", "batch", "merge", "filter")
    for (trial <- 1 to 3) {
      val docs = (0L until 40L).map { i =>
        val base = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        (i, base.mkString(" "))
      }
      // plant exact-threshold and near-threshold twins
      val twins = docs.take(8).map { case (i, t) =>
        (i + 1000L, t.split(" ").dropRight(rnd.nextInt(3)).mkString(" "))
      }
      val all = (docs ++ twins).toDF("doc_id", "text")
      def shingles(t: String): Set[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        if (toks.length < 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val rows = (docs ++ twins)
      val brute = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        sa = shingles(ta); sb = shingles(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter) if j >= 0.5
      } yield (ia, ib)).toSet
      val out = Dedup.jaccardJoin(all, "doc_id", "text", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(out == brute,
        s"trial $trial missing=${(brute -- out).take(5)} " +
          s"spurious=${(out -- brute).take(5)}")
      assert(brute.nonEmpty, s"trial $trial degenerate fixture")
    }
  }

  test("jaccardJoin pins its answer, frees every intermediate (ADVICE r16)") {
    import graft.operators.Dedup
    import org.apache.spark.sql.graft.CacheBridge
    // the multi-consumer intermediates (candidates, hashed shingle
    // sets, survivors, gram explode, prefix) must be persisted DURING
    // the join — so the prefix self-join runs once with cache=None —
    // and unpersisted before the call returns: repeated calls may
    // leave only their own returned frame pinned, nothing else
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    assert(CacheBridge.isEmpty(spark))
    val out = Dedup.jaccardJoin(docs, "doc_id", "text", threshold = 0.5)
    // already materialized by the internal terminal action; the pin
    // means later consumers reuse one execution instead of replaying
    // the prefix self-join per consumer
    assert(out.storageLevel.useMemory || out.storageLevel.useDisk,
      s"returned frame not pinned: ${out.storageLevel}")
    assert(out.count() == 1L)
    out.unpersist(blocking = true)
    // with the answer released, the session cache is EMPTY — the five
    // internal pins were all freed inside the call (no growth across
    // repeated invocations)
    assert(CacheBridge.isEmpty(spark),
      "jaccardJoin left pinned intermediates behind")
  }

  test("lazy composition: pinsOut transfers ownership, equal results, " +
      "no residue (VERDICT r18 #6)") {
    import graft.operators.{Dedup, Graph}
    import org.apache.spark.sql.graft.CacheBridge
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    assert(CacheBridge.isEmpty(spark))
    // compose: jaccard pairs -> pageRank over the pair graph — in lazy
    // mode the caller pays ONE terminal action for the whole pipeline
    // instead of one per operator
    val pins = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val pairs = Dedup.jaccardJoin(docs, "doc_id", "text",
      threshold = 0.5, pinsOut = Some(pins))
    // lazy contract: the returned frame itself is NOT pinned
    assert(!pairs.storageLevel.useMemory && !pairs.storageLevel.useDisk)
    val sym = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .unionByName(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
    val ranks = Graph.pageRank(sym, "s", "d", iters = 2,
      pinsOut = Some(pins))
    val got = ranks.orderBy("node").collect().toSeq // the ONE action
    assert(pins.nonEmpty) // ownership actually transferred
    pins.foreach(_.unpersist(blocking = true))
    assert(CacheBridge.isEmpty(spark),
      "lazy path left pins the caller's buffer did not own")
    // and the composition equals the eager path row-for-row
    spark.catalog.clearCache()
    val eagerPairs = Dedup.jaccardJoin(docs, "doc_id", "text",
      threshold = 0.5)
    val eagerSym = eagerPairs
      .select(col("id_a").as("s"), col("id_b").as("d"))
      .unionByName(
        eagerPairs.select(col("id_b").as("s"), col("id_a").as("d")))
    val want = Graph.pageRank(eagerSym, "s", "d", iters = 2)
      .orderBy("node").collect().toSeq
    assert(got == want)
    spark.catalog.clearCache()
  }

  test("jaccardJoin keeps exact-boundary pairs at a binary-inexact threshold") {
    import graft.operators.Dedup
    // 27 unique tokens -> 25 distinct shingles; the 16-token prefix
    // -> 14 shingles, all shared: J = 14/25 = 0.56 exactly. The raw
    // double product 25 * 0.56 = 14.000000000000002 made the old
    // ceil-based size filter demand overlap 15 and silently DROP this
    // true pair — the epsilon-safe bound must keep it.
    val a = (0 until 27).map(i => s"w$i").mkString(" ")
    val b = (0 until 16).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = Dedup.jaccardJoin(docs, "doc_id", "text", threshold = 0.56)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 0.56)),
      s"boundary pair lost or mis-scored: $out")
    // just past the boundary the pair must NOT appear
    assert(Dedup.jaccardJoin(docs, "doc_id", "text",
      threshold = 0.5601).count() == 0)
  }

  test("dropCommonSegments strips cross-doc boilerplate, reassembles in order") {
    import graft.operators.Dedup
    val chrome = "subscribe to our newsletter" // 4-token boilerplate
    val docs = Seq(
      (1L, s"alpha beta gamma delta $chrome"),
      (2L, s"epsilon zeta eta theta $chrome"),
      (3L, s"iota kappa lambda mu $chrome tail words beyond segment"),
      (4L, chrome),                    // boilerplate-only: empties out
      (5L, "unique content with no shared segments anywhere at all"),
      (6L, "   ")                      // token-less: passes through
    ).toDF("doc_id", "text")
    val out = Dedup.dropCommonSegments(docs, "doc_id", "text",
        segWords = 4, minDocs = 4)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "alpha beta gamma delta", 1L),
      (2L, "epsilon zeta eta theta", 1L),
      (3L, "iota kappa lambda mu tail words beyond segment", 1L),
      (4L, "", 1L),
      (5L, "unique content with no shared segments anywhere at all", 0L),
      (6L, "", 0L)))
    // raise the threshold past the carrier count: nothing is dropped
    val none = Dedup.dropCommonSegments(docs, "doc_id", "text",
        segWords = 4, minDocs = 5)
      .agg(sum("n_dropped")).as[Long].head()
    assert(none == 0L)
  }

  test("dedupAgainstBloom equals dedupAgainst even with a saturated filter") {
    import graft.operators.Dedup
    val corpus = Seq((1L, "Hello World"), (2L, "other doc"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, "hello   world"), // corpus dup modulo case/whitespace: dies
      (11L, "brand new"),     // fresh: survives
      (12L, "BRAND NEW"),     // batch-internal dup of 11: loses to min id
      (13L, "also new")       // fresh: survives
    ).toDF("id", "text")
    val exact = Dedup.dedupAgainst(batch, corpus, "id", "text")
      .collect().map(_.toSeq).toSet
    // honest sizing
    val bloom = Dedup.dedupAgainstBloom(batch, corpus, "id", "text",
      expectedItems = 1000L, fpp = 0.03).collect().map(_.toSeq).toSet
    assert(bloom == exact)
    // 2-item capacity at fpp 0.5: nearly every probe is a false
    // positive, yet the exact anti-join keeps the result identical —
    // the filter may only cost performance, never correctness
    val saturated = Dedup.dedupAgainstBloom(batch, corpus, "id", "text",
      expectedItems = 2L, fpp = 0.5).collect().map(_.toSeq).toSet
    assert(saturated == exact)
  }

  test("sourceFilter keeps whole domains by mean score, drops the rest") {
    import graft.operators.Curation
    val docs = Seq(
      ("good", 1L, 100L), ("good", 2L, 300L), // mean 200
      ("bad", 3L, 500L), ("bad", 4L, 50L), ("bad", 5L, 50L) // mean 200
    ).toDF("src", "id", "score")
    // threshold above one mean, below/at the other decides per SOURCE,
    // never per row: the 500-score row dies with its domain
    val kept = Curation.sourceFilter(docs, "src", "score", minMean = 150.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L, 5L))
    val strict = Curation.sourceFilter(docs, "src", "score",
        minMean = 200.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(strict == Seq())
    val mid = Curation.sourceFilter(
        docs.where(col("id") =!= 2L), "src", "score", minMean = 150.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(mid == Seq(3L, 4L, 5L)) // good's mean fell to 100: dropped
  }

  test("rankBounds picks nearest-rank values; lengthFilter keeps the band") {
    import graft.operators.Curation
    val docs = (1L to 100L).toDF("len").withColumn("id", col("len"))
    // ranks: ceil(.05*100)=5 -> value 5; ceil(.95*100)=95 -> value 95
    assert(Curation.rankBounds(docs, "len", 0.05, 0.95) == (5L, 95L))
    val kept = Curation.lengthFilter(docs, "len").count()
    assert(kept == 91) // values 5..95 inclusive
    // duplicate-heavy histogram: rank lands inside a run
    val skew = Seq.fill(50)(10L).union(Seq.fill(50)(20L)).toDF("len")
    assert(Curation.rankBounds(skew, "len", 0.05, 0.95) == (10L, 20L))
    // null lengths (failed-ingest rows) are excluded, not an NPE
    val withNulls = Seq(Some(10L), None, Some(20L), None).toDF("len")
    assert(Curation.rankBounds(withNulls, "len", 0.0, 1.0) == (10L, 20L))
  }

  test("no ANN/dedup plan contains a cartesian product") {
    val q = vecs.select(col("vec_id").as("query_id"), col("embedding"))
    val plans = Seq(
      Dedup.minhashNearDups(corpus, "doc_id", "text").queryExecution
        .executedPlan.toString,
      Ann.lshTopK(q, vecs, 2, 4).queryExecution.executedPlan.toString,
      Ann.cosineNearDupPairs(vecs, 0.9, 4).queryExecution.executedPlan
        .toString)
    plans.foreach(p => assert(!p.contains("CartesianProduct"), p.take(400)))
  }
}
