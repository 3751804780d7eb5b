package graft

import org.apache.spark.sql.functions._

import graft.etl.Ops
import graft.functions.{HashFunctions => H}
import graft.operators.{AsofJoin, Skew}

/** Randomized invariants for the operators whose correctness arguments
  * are algebraic (metric axioms, formulation equivalence) — seeded, so
  * runs are reproducible, but the inputs cover edge shapes (empty
  * tokens, ties, unmatched keys) that example tests miss.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20240812L)
  private val alphabet = Vector("a", "b", "cc", "dd", "e f", "Ж", "")
  private def randTokens(): List[String] =
    List.fill(rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.size)))

  test("jaccard: symmetric, bounded, duplicate-insensitive (20 cases)") {
    val cases = List.fill(20)((randTokens(), randTokens()))
    val rows = cases.toDF("a", "b").select(
      H.jaccard(col("a"), col("b")).as("ab"),
      H.jaccard(col("b"), col("a")).as("ba"),
      H.jaccard(col("a"), col("a")).as("aa"),
      H.jaccard(concat(col("a"), col("a")), col("b")).as("dup"),
      size(array_distinct(col("a"))).as("na")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))              // symmetry
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0) // bounds
      assert(r.getDouble(2) == (if (r.getInt(4) == 0) 0.0 else 1.0))
      assert(r.getDouble(3) == r.getDouble(0))              // set semantics
    }
  }

  test("simhash60: self-distance zero, 60-bit range (20 cases)") {
    val cases = List.fill(20)(randTokens())
    val rows = cases.map(t => (t, t)).toDF("a", "b").select(
      H.hamming64(H.simhash60(col("a")), H.simhash60(col("b"))).as("d"),
      H.simhash60(col("a")).as("s")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == 0)
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60))
    }
  }

  test("topKPerGroup equals window top-k on random frames (5 frames)") {
    for (_ <- 1 to 5) {
      val rows = List.fill(30)((s"g${rnd.nextInt(3)}", rnd.nextInt(6),
        rnd.nextInt(100).toLong))
      val df = rows.toDF("k", "score", "id").repartition(3)
      val two = Skew.topKPerGroup(df, Seq("k"), Seq("score", "id"),
          k = 2, salts = 3)
        .select("k", "score", "id")
        .as[(String, Int, Long)].collect().sorted.toSeq
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k")
        .orderBy(col("score").desc, col("id").desc)
      val win = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2).select("k", "score", "id")
        .as[(String, Int, Long)].collect().sorted.toSeq
      // NOTE identical payloads can repeat; both formulations keep
      // exactly k rows per group, so the sorted multisets must agree
      assert(two == win)
    }
  }

  test("boundedBuffers top-k equals the salted shape on random frames (5x)") {
    for (_ <- 1 to 5) {
      val rows = List.fill(40)((s"g${rnd.nextInt(3)}", rnd.nextInt(6),
        rnd.nextInt(100).toLong))
      val df = rows.toDF("k", "score", "id").repartition(4)
      def run(b: Boolean) = Skew.topKPerGroup(df, Seq("k"),
          Seq("score", "id"), k = 2, salts = 3, boundedBuffers = b)
        .select("k", "rank", "score", "id")
        .as[(String, Long, Int, Long)].collect().sorted.toSeq
      // identical payloads can repeat; both shapes keep exactly k rows
      // per group, so the sorted multisets (including ranks) must agree
      assert(run(true) == run(false))
    }
  }

  test("per-record pivot equals wide pivot under uniform directives (5x)") {
    // When every record carries the SAME directives, exploding the wide
    // pivot must reproduce the per-record long form exactly — the two
    // formulations may only diverge when directives differ per record.
    for (_ <- 1 to 5) {
      val rows = List.fill(10)((s"u${rnd.nextInt(8)}",
        List.fill(1 + rnd.nextInt(3))(s"p${rnd.nextInt(9)}"))).distinct
      val base = rows.toDF("userId", "items")
        .select(col("userId"),
          expr("transform(items, x -> named_struct('itemId', x))")
            .as("recommendations"))
      val stamped = Ops.stampJobInfo(base, "j", "2024-01-01T00:00:00.000",
        Some(("px_", Map("country" -> "DE"))))
      val long = Ops.pivotAttributesPerRecord(stamped, "userId",
          Seq("itemId"))
        .as[(String, String, String)].collect().sorted.toSeq
      val wide = Ops.pivotAttributes(stamped.drop("jobInfo",
            "syncDirectives"), "userId", Seq("itemId"), "px_",
          Map("country" -> "DE"))
        .select(col("external_id"), col("px_itemId"), col("country"))
        .collect().flatMap { r =>
          Seq((r.getString(0), "px_itemId",
            r.getSeq[String](1).map(s => s""""$s"""")
              .mkString("[", ",", "]")),
            (r.getString(0), "country", r.getString(2)))
        }.sorted.toSeq
      assert(long == wide)
    }
  }

  test("dedupGroups equals union-find components on random graphs (3x)") {
    import scala.collection.mutable
    // exercise BOTH checkpoint modes: ephemeral localCheckpoint (the
    // default) and the reliable checkpoint() against a set
    // checkpoint dir
    // the guard must fire while no checkpoint dir is set yet
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Dedup.dedupGroups(
          Seq((1L, 2L)).toDF("id_a", "id_b"), reliableCheckpoint = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    // the session outlives this suite: the dir goes at JVM exit
    val ckptDir = Queries.tmp("ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir)
    for (round <- 1 to 3) {
      val n = 30
      val edges = List.fill(25)((rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      // attaching the larger root under the smaller keeps the min id
      // as every component's root
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val out = graft.operators.Dedup.dedupGroups(
          edges.toDF("id_a", "id_b"),
          reliableCheckpoint = round == 2)
        .as[(Long, Long)].collect().toMap
      assert(out == expected)
    }
  }


  test("dedupGroupsStar equals dedupGroups on random graphs; logs past the chain cap") {
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(Queries.tmp("ckpt-star"))
    // random graphs: byte-identical label maps from both algorithms
    for (round <- 1 to 3) {
      val n = 40
      val edges = List.fill(35)((rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong)).distinct // self-pairs INCLUDED (singletons)
      val prop = graft.operators.Dedup.dedupGroups(
          edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val star = graft.operators.Dedup.dedupGroupsStar(
          edges.toDF("id_a", "id_b"),
          reliableCheckpoint = round == 2)
        .as[(Long, Long)].collect().toMap
      assert(star == prop, s"round $round diverged")
    }
    // a 120-hop chain: min-label propagation needs 120 rounds (throws
    // at maxIter=10 — asserted on a 15-hop chain to keep the test
    // fast), the star alternation collapses it within its default 30
    val shortChain = (0L until 15L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      graft.operators.Dedup.dedupGroups(
        shortChain.toDF("id_a", "id_b"), maxIter = 10).collect()
    }
    val chain = (0L until 120L).map(i => (i, i + 1))
    val out = graft.operators.Dedup.dedupGroupsStar(
        chain.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(out.length == 121 && out.forall(_._2 == 0L),
      "120-hop chain must collapse to component 0")
    // empty pair set: empty label frame, like dedupGroups
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.operators.Dedup.dedupGroupsStar(noPairs).count() == 0)
  }

  test("dedupGroupsAuto: budget overrun flips to star, outputs identical") {
    // shallow random graph: propagation converges inside the default
    // budget, so auto returns the propagation labels
    val n = 40
    val edges = List.fill(35)((rnd.nextInt(n).toLong,
      rnd.nextInt(n).toLong)).distinct
    val plain = graft.operators.Dedup.dedupGroups(
        edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val auto = graft.operators.Dedup.dedupGroupsAuto(
        edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(auto == plain)
    // a 60-hop chain past an 8-round budget: plain propagation at the
    // same cap REFUSES — that non-convergence is exactly the diameter
    // probe that flips auto's route — while auto falls back to the
    // star alternation and still labels every node with the chain min
    val chain = (0L until 60L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      graft.operators.Dedup.dedupGroups(
        chain.toDF("id_a", "id_b"), maxIter = 8).collect()
    }
    val deep = graft.operators.Dedup.dedupGroupsAuto(
        chain.toDF("id_a", "id_b"), propagationBudget = 8)
      .as[(Long, Long)].collect()
    assert(deep.length == 61 && deep.forall(_._2 == 0L))
    // keepBest's autoRoute ships the same trigger: keeper-identical
    // to the star route on the deep chain
    val docs = (0L until 61L).map(i => (i, i % 7)).toDF("id", "score")
    val viaAuto = graft.operators.Dedup.keepBest(docs,
        chain.toDF("id_a", "id_b"), "id", "score",
        autoRoute = true, propagationBudget = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaStar = graft.operators.Dedup.keepBest(docs,
        chain.toDF("id_a", "id_b"), "id", "score", logRounds = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaAuto == viaStar && viaAuto.size == 1)
  }

  test("keepBest equals union-find + argmax on random graphs (3x)") {
    for (_ <- 1 to 3) {
      val n = 40
      val scores = (0L until n).map(i => i -> rnd.nextInt(5).toLong).toMap
      val edges = List.fill(25)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: driver-side union-find, then argmax(score, min id)
      val parent = scala.collection.mutable.Map((0L until n).map(i =>
        i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val members = (0L until n).groupBy(i => find(i))
      val expected = members.map { case (_, ids) =>
        val grp = ids.min
        val best = ids.minBy(i => (-scores(i), i))
        (grp, best, scores(best), ids.size.toLong)
      }.toSet
      val docs = (0L until n).map(i => (i, scores(i))).toDF("id", "score")
      val out = graft.operators.Dedup.keepBest(docs,
          edges.toDF("id_a", "id_b"), "id", "score")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out == expected)
      // the star-clustered route is keeper-identical
      val star = graft.operators.Dedup.keepBest(docs,
          edges.toDF("id_a", "id_b"), "id", "score", logRounds = true)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(star == expected)
    }
  }

  test("chunkDocs reconstructs the original text exactly (5x random params)") {
    for (_ <- 1 to 5) {
      val chunkChars = 2 + rnd.nextInt(8)
      val overlap = rnd.nextInt(chunkChars) // 0 .. chunkChars-1
      val texts = (0L until 20L).map(i =>
        i -> rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
      val chunks = graft.operators.Curation.chunkDocs(
          texts.toDF("id", "text"), "id", "text", chunkChars, overlap)
        .orderBy("id", "chunk_ix")
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList)
      texts.foreach { case (id, text) =>
        val cs = chunks(id)
        // stitching rule: keep chunk 0 whole, drop each later chunk's
        // first `overlap` chars (they duplicate the previous window) —
        // must reproduce the text exactly: full coverage, no gap, and
        // no pure-suffix final chunk
        val stitched = (cs.head :: cs.tail.map(_.drop(overlap))).mkString
        assert(stitched == text,
          s"id=$id chunk=$chunkChars overlap=$overlap: " +
            s"'$stitched' != '$text' (chunks $cs)")
      }
    }
  }

  test("keepBest and dedupGroups survive an EMPTY pair set (all singletons)") {
    val docs = Seq((1L, 9L), (2L, 5L)).toDF("id", "score")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.operators.Dedup.dedupGroups(noPairs).count() == 0)
    val out = graft.operators.Dedup.keepBest(docs, noPairs, "id", "score")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 9L, 1L), (2L, 2L, 5L, 1L)))
  }

  test("coOccurrence equals a driver-side brute force on random baskets (3x)") {
    import graft.operators.Frequency
    for (_ <- 1 to 3) {
      val rows = for {
        bk <- 1L to 30L
        _ <- 1 to (2 + rnd.nextInt(4))
      } yield (bk, s"i${rnd.nextInt(12)}")
      val out = Frequency.coOccurrence(rows.toDF("bk", "it"), "bk", "it",
          k = 3, minCount = 1)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSeq
      // independent recomputation: distinct per basket, pair counts,
      // marginals, lift, (n_co desc, lift desc, related desc) head
      val items = rows.distinct
      val nB = items.map(_._1).distinct.size.toLong
      val marg = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val co = items.groupBy(_._1).values.flatMap { b =>
        val is = b.map(_._2).distinct
        for (a <- is; c <- is if a != c) yield (a, c)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = co.keys.groupBy(_._1).flatMap { case (item, ks) =>
        ks.toSeq
          .map { case (_, rel) =>
            val nCo = co((item, rel))
            // exact integer products, one double division — the
            // operator's own arithmetic order
            val lift = BigDecimal((nCo * nB).toDouble /
              (marg(item) * marg(rel)).toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            (rel, nCo, lift)
          }
          .sortWith { case ((relA, nA, lA), (relB, nB2, lB)) =>
            if (nA != nB2) nA > nB2
            else if (lA != lB) lA > lB
            else relA > relB
          }
          .take(3).zipWithIndex
          .map { case ((rel, nCo, lift), i) =>
            (item, i + 1L, nCo, lift, rel)
          }
      }.toSeq
      assert(out.toSet == expected.toSet,
        s"diff=${(out.toSet -- expected.toSet).take(3)} / " +
          s"${(expected.toSet -- out.toSet).take(3)}")
    }
  }

  test("winnowing guarantee: a planted shared run always yields a shared fingerprint (5x)") {
    // Schleimer/MOSS property under the value-set variant: any shared
    // passage of >= window + n - 1 tokens selects at least one common
    // fingerprint — deterministic, not probabilistic. Random hosts,
    // random insertion points, random passage.
    import graft.operators.Dedup
    val n = 4
    val w = 4
    for (trial <- 1 to 5) {
      def words(len: Int) =
        Seq.fill(len)(s"t${rnd.nextInt(500)}").mkString(" ")
      val passage = (1 to (w + n - 1)).map(i =>
        s"p${trial}x$i").mkString(" ") // unique tokens, length w+n-1
      def host(id: Long) = {
        val pre = words(rnd.nextInt(30))
        val post = words(rnd.nextInt(30))
        (id, s"$pre $passage $post".trim)
      }
      val docs = Seq(host(1L), host(2L),
        (3L, words(40))).toDF("doc_id", "text")
      val pairs = Dedup.duplicatePassages(docs, "doc_id", "text",
          n = n, window = w, minShared = 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"trial $trial lost the run")
    }
  }

  test("packStreams offsets equal driver-side prefix sums (3x)") {
    for (_ <- 1 to 3) {
      val rows = (0L until 60L).map(i => (i, rnd.nextInt(10).toLong))
      val out = graft.operators.Sampling.packStreams(
          rows.toDF("id", "toks"), "id", "toks", streams = 4,
          budget = 16L)
        .select("id", "stream", "start_offset", "bin_first", "bin_last")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      // reference: same md5 bucketing replayed driver-side per stream
      val byStream = rows.groupBy { case (id, _) =>
        out(id)._2 // trust the stream id; offsets are what we check
      }
      byStream.foreach { case (_, members) =>
        var cum = 0L
        members.sortBy(_._1).foreach { case (id, toks) =>
          val (_, _, start, binF, binL) = out(id)
          assert(start == cum, s"id $id start $start != $cum")
          assert(binF == start / 16L)
          assert(binL == (start + math.max(toks, 1L) - 1) / 16L)
          cum += toks
        }
      }
    }
  }

  test("budgetSelect equals the naive global running sum (3x, any bucket width)") {
    import org.apache.spark.sql.expressions.Window
    for (trial <- 1 to 3) {
      // heavy score ties + null/NaN/±Inf stripes: the orders that
      // break a sloppy total order, an equi-join on the bucket key,
      // or an ANSI floor-cast on a non-finite score
      val rows = (0L until 120L).map { i =>
        val score: java.lang.Double =
          if (i % 17 == 0) null
          else if (i % 23 == 0) Double.NaN
          else if (i % 29 == 0) Double.PositiveInfinity
          else if (i % 31 == 0) Double.NegativeInfinity
          else (rnd.nextInt(6) * 10).toDouble
        (i, score, 1L + rnd.nextInt(9).toLong)
      }
      val df = rows.toDF("id", "score", "cost")
      val naive = df.withColumn("cum_cost",
          sum("cost").over(Window.orderBy(col("score").desc, col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("cum_cost") <= 100L)
        .select("id", "cum_cost").as[(Long, Long)].collect().toSet
      assert(naive.nonEmpty, s"trial $trial: degenerate budget")
      for (width <- Seq(1L, 7L, 1000L)) {
        val fast = graft.operators.Sampling.budgetSelect(
            df, "id", "cost", "score", budget = 100L,
            bucketWidth = width)
          .select("id", "cum_cost").as[(Long, Long)].collect().toSet
        assert(fast == naive, s"trial $trial width $width diverged")
      }
    }
  }

  test("dedupGroups throws on an iteration-cap exit instead of returning wrong labels") {
    // A 5-node chain needs ~diameter rounds; maxIter=1 exits with
    // labels still moving. Silent return would feed wrong components
    // into groupAwareSplit — the exact leak it exists to prevent.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.dedupGroups(edges, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("heavyHitters equals exact GROUP BY HAVING on skewed streams (3x)") {
    for (_ <- 1 to 3) {
      // skewed synthetic stream: gaussian-index items, heavy head
      val items = List.fill(3000)(
        s"i${(rnd.nextGaussian().abs * 20).toInt}")
      val df = items.toDF("item").repartition(4)
      val out = graft.operators.Frequency
        .heavyHitters(df, "item", minCount = 50, total = items.size.toLong)
        .as[(String, Long)].collect().toMap
      val exact = items.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
        .filter(_._2 >= 50)
      assert(out == exact)
    }
  }

  test("heavyHitters refuses an undersized sketch instead of degrading") {
    val df = List("a", "b", "a").toDF("item")
    // total/minCount + 1 = 1_000_001 > maxCapacity: the survival
    // guarantee no longer covers minCount, so this must throw, not
    // silently return a possibly-incomplete "exact" answer.
    val e = intercept[IllegalArgumentException] {
      graft.operators.Frequency.heavyHitters(df, "item", minCount = 1L,
        total = 1_000_000L, maxCapacity = 1_000_000)
    }
    assert(e.getMessage.contains("Raise minCount"))
    // at the boundary it still runs
    val ok = graft.operators.Frequency.heavyHitters(df, "item",
      minCount = 1L, total = 3L, maxCapacity = 4)
      .as[(String, Long)].collect().toMap
    assert(ok == Map("a" -> 2L, "b" -> 1L))
  }

  test("asofBackward equals the naive greatest-at-or-before join (5x)") {
    for (_ <- 1 to 5) {
      val l = List.fill(8)((1L + rnd.nextInt(2), rnd.nextInt(21).toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      // unique (k, t) on the right so the expected winner is unique
      val r = List.fill(8)((1L + rnd.nextInt(2), rnd.nextInt(21).toLong))
        .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val left = l.toDF("k", "t", "lid")
      val right = r.toDF("k", "t", "rid")
      val out = AsofJoin.asofBackward(left, right, Seq("k"), "t")
        .select("k", "t", "lid", "rid")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3))).toSet
      val expected = l.map { case (k, t, lid) =>
        val cand = r.filter(c => c._1 == k && c._2 <= t)
        val rid = if (cand.isEmpty) -1L else cand.maxBy(_._2)._3
        (k, t, lid, rid)
      }.toSet
      assert(out == expected)
    }
  }

  test("keySkew equals a driver-side brute force on random keys (3x)") {
    import graft.operators.Profile
    for (_ <- 1 to 3) {
      val keys = Seq.fill(300)(rnd.nextInt(20).toLong)
      val got = Profile.keySkew(keys.toDF("k"), "k")
        .select("n_rows", "n_keys", "top_key", "top_n", "top_share",
          "entropy")
        .as[(Long, Long, String, Long, Double, Double)].collect().head
      val counts = keys.groupBy(identity).view.mapValues(_.size.toLong)
        .toMap
      val n = keys.size.toLong
      // top = max count, ties by string-rendered key desc (struct max)
      val (tk, tn) = counts.toSeq.map { case (k, c) => (k.toString, c) }
        .maxBy { case (k, c) => (c, k) }
      assert(got._1 == n && got._2 == counts.size.toLong)
      assert(got._3 == tk && got._4 == tn)
      assert(math.abs(got._5 - tn.toDouble / n) < 1e-6)
      val h = math.log(n.toDouble) -
        counts.values.map(c => c * math.log(c.toDouble)).sum / n
      assert(math.abs(got._6 - h) < 1e-6)
    }
  }

  test("equiDepthBuckets matches driver-side nearest-rank thresholds (3x)") {
    import graft.operators.Curation
    for (_ <- 1 to 3) {
      val vals = Seq.fill(200)(rnd.nextInt(50).toLong)
      val k = 2 + rnd.nextInt(6)
      val got = Curation.equiDepthBuckets(vals.toDF("v"), "v", k)
        .as[(Long, Long)].collect()
      val sorted = vals.sorted
      val n = vals.size
      def at(rank: Long): Long = sorted(math.min(rank, n).toInt - 1)
      val thr = (1 until k).map(i =>
        at(math.max(math.ceil(i.toDouble / k * n).toLong, 1L)))
      def bucket(v: Long): Long =
        thr.indexWhere(v <= _) match {
          case -1 => (k - 1).toLong
          case i  => i.toLong
        }
      got.foreach { case (v, b) =>
        assert(b == bucket(v), s"v=$v b=$b expected=${bucket(v)} k=$k")
      }
    }
  }

  test("zValue uninterleaves back to its inputs on random 31-bit keys (100)") {
    import graft.io.ZOrder
    // the Morton code is a bijection on 31-bit pairs: recovering x
    // (even bits) and y (odd bits) must return the inputs exactly
    def unspread(z: Long, off: Int): Long =
      (0 until 31).foldLeft(0L) { (v, i) =>
        v | ((z >> (2 * i + off)) & 1L) << i
      }
    val pts = Seq.fill(100)(
      (math.abs(rnd.nextLong()) & 0x7FFFFFFFL,
        math.abs(rnd.nextLong()) & 0x7FFFFFFFL))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z >= 0, s"sign bit set for ($x,$y)")
      assert(unspread(z, 0) == x && unspread(z, 1) == y, s"($x,$y) -> $z")
    }
  }
}
