package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k, broadcast query set x full
  *    corpus scan. The BASELINE: correct for any data, linear in corpus
  *    size, embarrassingly parallel (no shuffle on the corpus side; the
  *    only shuffle is the final per-query top-k, k rows per partition
  *    after partial aggregation via window-on-partition pruning).
  *  - [[lshTopK]] — the 100 TB path: sign-LSH banding buckets corpus and
  *    queries; candidates = bucket co-members; exact cosine re-rank of
  *    candidates only. Recall tunable via planes/bands.
  *
  * Embedding-cosine near-dup ([[cosineNearDupPairs]]) reuses the same
  * bucketing corpus-vs-itself.
  */
object Ann {

  /** (similarity, cell) struct array of `v` against every centroid —
    * THE shared scoring block behind every cell argmax in this file
    * (training assignment, IVF probe, semantic-dedup cells, the public
    * [[cellAssignments]]). Centroids inline as literals: one codegen'd
    * projection, no shuffle. Struct-max over it = highest cosine,
    * ties to the HIGHEST cell id — change the convention HERE or
    * nowhere, four operators and their oracles depend on it agreeing.
    */
  private def centroidScores(v: Column,
      centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct(V.cosine(v, array(c.map(lit(_)): _*)).as("s"),
        lit(i).as("c"))
    }: _*)

  private def bestCellOf(v: Column,
      centroids: Seq[Seq[Double]]): Column =
    array_max(centroidScores(v, centroids)).getField("c")

  /** Exact top-k by cosine. `queries` must be small (it is broadcast).
    * Output: (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    * vec_id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      queryIdCol: String = "query_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      V.toDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
      V.toDouble(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Top-k by cosine over int8-QUANTIZED vectors: corpus and queries
    * carry `array<byte>` codes (4x smaller than float32 — at a billion
    * vectors this is the difference between an in-memory corpus and a
    * spilling one; shuffle/broadcast bytes shrink identically) and
    * ranking uses exact integer cosine over the codes. Quantization
    * perturbs scores by O(1/127), so this approximates
    * [[bruteForceTopK]]; DedupAnnSpec measures the recall. Same
    * scale shape as the float baseline: the corpus never shuffles,
    * only the (tiny) query codes broadcast.
    */
  def bruteForceTopKQuantized(queries: DataFrame, corpus: DataFrame,
      k: Int, queryIdCol: String = "query_id",
      corpusIdCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      V.quantizeI8(col(vecCol)).as("qc"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
      V.quantizeI8(col(vecCol)).as("cc"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(V.cosineI8(col("qc"), col("cc")), 6).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Sign-LSH bucketed top-k: candidates are corpus vectors sharing at
    * least one band key with the query; exact cosine re-ranks candidates.
    * Planes are deterministic (seeded) so results are reproducible.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      numPlanes: Int = 16, bands: Int = 4,
      queryIdCol: String = "query_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding", maxBucket: Int = 100000): DataFrame = {
    val planes = V.hyperplanes(dim, numPlanes)
    val q = queries.select(col(queryIdCol).as("query_id"),
      V.toDouble(col(vecCol)).as("qv"))
      .withColumn("k", explode(V.signLshBandKeys(col("qv"), planes, bands)))
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
      V.toDouble(col(vecCol)).as("cv"))
      .withColumn("k", explode(V.signLshBandKeys(col("cv"), planes, bands)))
    val bucketCounts = c.groupBy("k").count().where(col("count") <= maxBucket)
    val candidates = c.join(bucketCounts.select("k"), "k")
      .join(q, "k")
      .select("query_id", "vec_id", "qv", "cv")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    candidates
      .select(col("query_id"), col("vec_id"),
        round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic k-means (Lloyd's) training for IVF centroids, run as
    * DataFrame ops: init = first `nCells` vectors by id; each iteration
    * assigns every vector to its max-cosine centroid (ties -> higher
    * cell, matching [[ivfTopK]]'s assignment) and recomputes centroids
    * as element-wise means. The per-dimension sum accumulates in
    * `decimal(30,15)` — decimal addition is exactly associative and
    * commutative, so the result is BIT-DETERMINISTIC regardless of
    * partitioning (a plain `avg()` of doubles is partition-order-
    * dependent) WITHOUT buffering group members: the aggregate stays a
    * map-side-combinable partial/final HashAggregate whose buffer is
    * one decimal per (cell, dim) key, never the whole cell.
    *
    * Scale shape: the heavy step (assignment) is one embarrassingly-
    * parallel scan per iteration; the mean aggregation shuffles
    * (cell, dim) pairs — corpus-rows x dim narrow rows, not vectors;
    * only the nCells x dim centroid matrix is ever collected. At 100 TB
    * train on a sample (pass `corpus.limit(n)` or a filtered slice) —
    * centroid quality converges long before the full corpus is seen.
    */
  def trainIvfCentroids(corpus: DataFrame, nCells: Int, iters: Int,
      corpusIdCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Double]] = {
    val vecs = corpus.select(col(corpusIdCol).as("vec_id"),
      V.toDouble(col(vecCol)).as("v"))
    var centroids: Seq[Seq[Double]] = vecs.orderBy("vec_id").limit(nCells)
      .collect().toSeq.map(_.getSeq[Double](1).toSeq)
    for (_ <- 1 to iters) {
      val byCell = vecs
        .withColumn("cell", bestCellOf(col("v"), centroids))
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "val")))
        .groupBy("cell", "d")
        .agg((sum(col("val").cast("decimal(30,15)")).cast("double")
          / count(lit(1))).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_._2).map(_._3).toSeq }
      // empty cells keep their previous centroid
      centroids = Seq.tabulate(nCells)(i => byCell.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** IVF-flat ANN (the second scale path next to [[lshTopK]]): the
    * corpus is partitioned into `nCells` Voronoi cells by
    * nearest-centroid assignment; each query probes its `nProbe`
    * closest cells and exact cosine re-ranks only those cells' members.
    *
    * Default centroids are a deterministic corpus sample (first `nCells`
    * by id), collected once driver-side and inlined as literals; pass
    * [[trainIvfCentroids]] output for k-means cells. Either way the
    * cell-assignment expression, the cell-equi-join, and the re-rank
    * shapes are exactly what scales: corpus shuffles once on the cell
    * key, candidates = nProbe/nCells of the corpus per query, never a
    * cartesian.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2,
      queryIdCol: String = "query_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val centroids: Seq[Seq[Double]] = trainedCentroids.getOrElse(
      sampleCentroids(corpus, nCells, corpusIdCol, vecCol))
    def probeCells(v: Column, n: Int): Column =
      transform(
        slice(reverse(array_sort(centroidScores(v, centroids))), 1, n),
        x => x.getField("c"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
        V.toDouble(col(vecCol)).as("cv"))
      .withColumn("cell", bestCellOf(col("cv"), centroids))
    val q = queries.select(col(queryIdCol).as("query_id"),
        V.toDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(probeCells(col("qv"), nProbe)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    c.join(q, "cell") // cells are disjoint per corpus row: no dup pairs
      .select(col("query_id"), col("vec_id"),
        round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Two-level (coarse-quantized) IVF — the designated fix for flat
    * IVF's scale bend: [[ivfTopK]]'s nearest-centroid argmax inlines
    * all `nCells` centroids as literals, so assignment is O(N x
    * nCells) and the expression tree grows with the index — fine to
    * ~10^3 cells, wrong past ~10^4.
    * Here the centroid set is SPLIT: `nCoarse` coarse centroids (the
    * first `nCoarse` fine centroids, deterministic) stay literal —
    * O(nCoarse) per row — and the fine centroids move into DATA: a
    * tiny (`nCoarse`-row) frame mapping each coarse cell to the array
    * of its member fine centroids, broadcast-hash-joined to the
    * corpus (no shuffle) so the fine argmax only scans the matched
    * coarse cell's members. Assignment cost drops from O(nCells) to
    * O(nCoarse + nCells/nCoarse) per row — minimized at nCoarse =
    * sqrt(nCells), the standard two-level coarse quantizer — and the
    * expression tree stays O(nCoarse) no matter how many fine cells
    * the index has.
    *
    * Search mirrors the assignment: a query probes its `wProbe` best
    * coarse cells, takes the `nProbe` best fine cells within them,
    * and exact cosine re-ranks those cells' corpus members. Note the
    * semantics differ from flat IVF exactly where a true nearest fine
    * centroid lives under an unprobed coarse cell — that is the
    * approximation `wProbe` tunes, same recall/cost dial as every
    * other ANN path here.
    *
    * Fully deterministic (sample centroids, struct-max ties to the
    * higher cell at every level, id tie-breaks in the final rank), so
    * a SQL oracle replays the entire construction. Scale shape: two
    * broadcast joins and the final per-query top-k window are the
    * only exchanges touching the corpus — the corpus itself shuffles
    * once, on the fine-cell key of the candidate join.
    */
  def ivf2TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 64, nCoarse: Int = 8, wProbe: Int = 2,
      nProbe: Int = 4, queryIdCol: String = "query_id",
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    require(nCoarse > 0 && nCoarse <= nCells,
      s"need 0 < nCoarse <= nCells, got $nCoarse/$nCells")
    require(wProbe > 0 && wProbe <= nCoarse && nProbe > 0 && k > 0,
      s"need 0 < wProbe <= nCoarse and nProbe/k > 0, got $wProbe/$nProbe/$k")
    val fine: Seq[Seq[Double]] = trainedCentroids.getOrElse(
      sampleCentroids(corpus, nCells, corpusIdCol, vecCol))
    val coarse = fine.take(nCoarse)
    // Driver-side cosine over the centroid matrix only (nCells x dim,
    // already collected): left-to-right summation, the same order as
    // the engine kernel and SQL list_dot_product, so the fine->coarse
    // map is bit-reproducible by the oracle.
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosD(a: Seq[Double], b: Seq[Double]): Double = {
      val na = dotD(a, a); val nb = dotD(b, b)
      if (na == 0 || nb == 0) 0.0
      else dotD(a, b) / (math.sqrt(na) * math.sqrt(nb))
    }
    // fine cell -> its nearest coarse cell, ties to the HIGHER coarse
    // id (the file-wide struct-max convention).
    val f2c: Seq[Int] = fine.map { fc =>
      var best = 0; var bs = Double.NegativeInfinity
      var j = 0
      while (j < coarse.length) {
        val s = cosD(fc, coarse(j))
        if (s >= bs) { bs = s; best = j }
        j += 1
      }
      best
    }
    // The fine level as DATA, not expression: one row per coarse cell
    // holding its member fine (cell, centroid) structs. nCoarse rows x
    // ~(nCells/nCoarse) structs — broadcastable at any realistic index
    // size, and the plan's expression tree never sees a fine centroid.
    val spark = corpus.sparkSession
    val fineStruct = StructType(Seq(
      StructField("fc", IntegerType, nullable = false),
      StructField("fv", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    val tblSchema = StructType(Seq(
      StructField("ccell", IntegerType, nullable = false),
      StructField("fines", ArrayType(fineStruct, containsNull = false),
        nullable = false)))
    val grpRows = f2c.zipWithIndex.groupBy(_._1).toSeq.map {
      case (cc, members) =>
        Row(cc, members.map(_._2).sorted.map(i => Row(i, fine(i))))
    }
    val fineTbl = spark.createDataFrame(
      spark.sparkContext.parallelize(grpRows, 1), tblSchema)
    def fineArgmax(v: Column): Column =
      array_max(transform(col("fines"), f =>
        struct(V.cosine(v, f.getField("fv")).as("s"),
          f.getField("fc").as("c")))).getField("c")
    def probeCoarse(v: Column, n: Int): Column =
      transform(
        slice(reverse(array_sort(centroidScores(v, coarse))), 1, n),
        x => x.getField("c"))
    // corpus: O(nCoarse) literal argmax -> broadcast join (no shuffle)
    // -> fine argmax over the matched coarse cell's members only
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
        V.toDouble(col(vecCol)).as("cv"))
      .withColumn("ccell", bestCellOf(col("cv"), coarse))
      .join(broadcast(fineTbl), "ccell")
      .withColumn("cell", fineArgmax(col("cv")))
      .select("vec_id", "cv", "cell")
    // queries: wProbe coarse cells -> union of their fine lists ->
    // global top-nProbe fine cells per query (ties -> higher cell)
    val qf = queries.select(col(queryIdCol).as("query_id"),
        V.toDouble(col(vecCol)).as("qv"))
      .withColumn("ccell", explode(probeCoarse(col("qv"), wProbe)))
      .join(broadcast(fineTbl), "ccell")
      .select(col("query_id"), col("qv"), explode(col("fines")).as("f"))
      .select(col("query_id"), col("qv"),
        col("f").getField("fc").as("cell"),
        V.cosine(col("qv"), col("f").getField("fv")).as("s"))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("cell").desc)
    val q = qf.withColumn("rn", row_number().over(wp))
      .where(col("rn") <= nProbe)
      .select("query_id", "qv", "cell")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // fine cells are disjoint per corpus row AND per query probe set
    // (each fine cell maps to exactly one coarse cell): no dup pairs
    c.join(q, "cell")
      .select(col("query_id"), col("vec_id"),
        round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Within-neighborhood exact kNN graph — the navigable-neighbor
    * layer under [[graphExpandTopK]] (HNSW-style search re-expressed
    * as bounded joins). Every vector is assigned to its `nAssign`
    * nearest centroids (not just the argmax: single-cell edges could
    * never CROSS a Voronoi boundary, and a graph that only connects
    * cell-mates adds nothing to a cell probe); candidate pairs are
    * co-members of any shared cell, deduplicated, exact-cosine scored,
    * and each source keeps its `kG` best out-neighbors.
    *
    * Scale shape: one explode to `nAssign` rows per vector, one
    * equi-join on the cell key (never a cartesian — per-cell cost is
    * (nAssign x |cell|)^2, tuned by `nCells` exactly like every other
    * bucketed self-join in this engine), one window top-kG. The edge
    * list is O(corpus x kG) rows of three scalars — at 100 TB build it
    * once, persist it columnar, and amortize across query batches.
    *
    * @return (src, dst, cosine) — directed, kG rows per src, cosine
    *         rounded at 6, ties to the lowest dst
    */
  def knnGraph(corpus: DataFrame, kG: Int, nCells: Int = 16,
      nAssign: Int = 2, corpusIdCol: String = "vec_id",
      vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    require(kG > 0 && nCells > 0 && nAssign > 0,
      s"kG/nCells/nAssign must be > 0, got $kG/$nCells/$nAssign")
    val centroids = trainedCentroids.getOrElse(
      sampleCentroids(corpus, nCells, corpusIdCol, vecCol))
    def nearestCells(v: Column, n: Int): Column =
      transform(
        slice(reverse(array_sort(centroidScores(v, centroids))), 1, n),
        x => x.getField("c"))
    val base = corpus.select(col(corpusIdCol).as("vec_id"),
      V.toDouble(col(vecCol)).as("cv"))
    // The per-row cell assignment (nCells centroid cosines + a sort,
    // the build's CPU-heaviest projection) runs at the SCAN's
    // parallelism — for a single-row-group parquet file that is ONE
    // task (round-22 profile: a 0.9 s serial stage ahead of a 16-way
    // join; guide §2.5 "one huge unsplittable file … repartition
    // immediately after the read"). Rebalance only when the scan is
    // actually under-parallel, so a 100 TB scan with natural
    // parallelism pays no extra exchange; rows are (id, vector) —
    // the exchange is narrow and placement-independent (every
    // downstream ranking breaks ties totally).
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (base.rdd.getNumPartitions < par) base.repartition(par) else base
    val c = balanced
      .withColumn("cell", explode(nearestCells(col("cv"), nAssign)))
    // score each UNORDERED pair once and mirror: cosine is exactly
    // symmetric (identical summation order either way), so the mirror
    // is bit-equal to re-scoring — half the kernel work of the naive
    // both-directions self-join. Score BEFORE deduplicating: the
    // kernel is a codegen'd projection over the join stream (no
    // shuffle), while dropDuplicates shuffles its input — deduping
    // first moved every pair's TWO vector payloads through the
    // exchange (~1 KB/row; the x10 probe measured the build 75x at
    // 10x data on exactly that shuffle), deduping after moves 24-byte
    // scored rows. A pair sharing two cells scores twice and both
    // copies are identical, so the dedupe keeps an arbitrary one.
    val half = c.select(col("cell"), col("vec_id").as("src"),
        col("cv").as("sv"))
      .join(c.select(col("cell"), col("vec_id").as("dst"),
        col("cv").as("dv")), "cell")
      .where(col("src") < col("dst"))
      .select(col("src"), col("dst"),
        round(V.cosine(col("sv"), col("dv")), 6).as("cosine"))
      .dropDuplicates("src", "dst")
    val sym = half.unionByName(half.select(col("dst").as("src"),
      col("src").as("dst"), col("cosine")))
    val w = Window.partitionBy("src")
      .orderBy(col("cosine").desc, col("dst").asc)
    sym
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kG)
      .select("src", "dst", "cosine")
  }

  /** Graph-expansion ANN (the HNSW idea — greedy neighborhood descent
    * over a proximity graph — re-expressed Spark-first as BOUNDED
    * ITERATIVE JOINS): entry candidates come from an `nProbe`-cell IVF
    * probe, then each of `hops` rounds takes the per-query top-`beam`
    * scored candidates as the frontier, joins it to the [[knnGraph]]
    * edge list, scores the not-yet-seen out-neighbors, and folds them
    * into the candidate pool; the final exact re-rank emits top-k.
    * Because the graph's edges cross Voronoi boundaries (see
    * [[knnGraph]]), a hop recovers true neighbors the probed cells
    * missed — cell-probe recall at a fraction of a wider probe's
    * candidate volume.
    *
    * Scale shape: no stage ever touches more than O(queries x beam x
    * kG) candidate rows per hop — each hop is one broadcast-sized
    * frontier join against the cell-bucketed edge list plus one
    * late-payload scoring join; `hops` is a compile-time-bounded loop
    * of declarative plans (Catalyst sees a static DAG, nothing
    * driver-iterative at row scale). Deterministic end to end: every
    * ranking breaks ties by id.
    */
  def graphExpandTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 1, beam: Int = 8, hops: Int = 1,
      kG: Int = 4, queryIdCol: String = "query_id",
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None,
      graph: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && beam > 0 && hops >= 0,
      s"k/beam must be > 0 and hops >= 0, got $k/$beam/$hops")
    val centroids = trainedCentroids.getOrElse(
      sampleCentroids(corpus, nCells, corpusIdCol, vecCol))
    def probeCells(v: Column, n: Int): Column =
      transform(
        slice(reverse(array_sort(centroidScores(v, centroids))), 1, n),
        x => x.getField("c"))
    val c = corpus.select(col(corpusIdCol).as("vec_id"),
      V.toDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      V.toDouble(col(vecCol)).as("qv"))
    val g = graph.getOrElse(knnGraph(corpus, kG, nCells,
        nAssign = 2, corpusIdCol, vecCol, Some(centroids)))
      .select(col("src"), col("dst"))
    // entry: the probed cells' members, exact-scored (the same cells
    // ivfTopK would search — the graph hops widen exactly this set)
    val cCell = c.withColumn("cell", bestCellOf(col("cv"), centroids))
    val qProbe = q.withColumn("cell",
      explode(probeCells(col("qv"), nProbe)))
    var cand = cCell.join(qProbe, "cell")
      .select(col("query_id"), col("vec_id"),
        round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
    for (_ <- 1 to hops) {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id").asc)
      val frontier = cand.withColumn("rk", row_number().over(w))
        .where(col("rk") <= beam).select("query_id", "vec_id")
      val fresh = frontier.join(g, frontier("vec_id") === g("src"))
        .select(col("query_id"), col("dst").as("vec_id")).distinct()
        // seen candidates carry identical deterministic scores, so
        // anti-join + union equals a distinct union — but skips
        // re-scoring what the pool already holds
        .join(cand.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_anti")
      val scored = fresh.join(c, "vec_id").join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"),
          round(V.cosine(col("qv"), col("cv")), 6).as("cosine"))
      cand = cand.unionByName(scored)
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic sample centroids — first `nCells` vectors by id,
    * the init [[ivfTopK]], [[knnGraph]] and [[graphExpandTopK]] share
    * (and [[trainIvfCentroids]] starts from).
    */
  private def sampleCentroids(corpus: DataFrame, nCells: Int,
      corpusIdCol: String, vecCol: String): Seq[Seq[Double]] =
    corpus.select(col(corpusIdCol), V.toDouble(col(vecCol)).as("v"))
      .orderBy(corpusIdCol).limit(nCells)
      .collect().toSeq.map(_.getSeq[Double](1).toSeq)

  /** Nearest-centroid cell assignment as a standalone frame —
    * (idCol, cell) for every corpus vector, the building block
    * [[ivfTopK]] and [[semanticDedup]] use internally, exposed for
    * cluster-level curation (cluster-balanced sampling, per-cell
    * censuses, cell-keyed layouts). Centroids inline as literals so
    * the argmax is one codegen'd projection over the scan: no shuffle,
    * no join, no UDF. Cosine ties resolve to the HIGHEST cell id —
    * the same struct-max convention as [[ivfTopK]]'s assignment.
    */
  def cellAssignments(corpus: DataFrame, centroids: Seq[Seq[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), V.toDouble(col(vecCol)).as("__v"))
      .withColumn("cell",
        bestCellOf(col("__v"), centroids).cast("long"))
      .select(col(idCol), col("cell"))

  /** Element-wise mean of vectors per group — embedding pooling
    * (chunk->document, document->cluster rollups). Output:
    * (group, n_vecs, mean: array<double> ordered by dimension). Same
    * determinism technique as [[trainIvfCentroids]]: each (group, dim)
    * sum accumulates in `decimal(30,15)` (exactly associative +
    * commutative), so the result is bit-identical under any
    * partitioning and the aggregation buffer is ONE decimal per
    * (group, dim) key — a corpus-level or hot-cluster rollup never
    * holds its members. Shuffles narrow (group, dim, value) rows,
    * never whole vectors; both phases are map-side combinable. The
    * only bounded collect is the final dim-reassembly (`dim` entries
    * per group).
    */
  def meanPool(df: DataFrame, groupCol: String, idCol: String,
      vecCol: String = "embedding"): DataFrame =
    // idCol kept in the signature for source compatibility; the decimal
    // accumulation no longer needs a member order, so the id never
    // enters the plan and the exploded shuffle rows stay 3-wide.
    df.select(col(groupCol).as("group"),
        posexplode(V.toDouble(col(vecCol))).as(Seq("d", "v")))
      .groupBy("group", "d")
      .agg(
        (sum(col("v").cast("decimal(30,15)")).cast("double")
          / count(lit(1))).as("m"),
        count(lit(1)).as("n"))
      .groupBy("group")
      .agg(max(col("n")).as("n_vecs"),
        transform(sort_array(collect_list(struct(col("d"), col("m")))),
          x => x.getField("m")).as("mean"))

  /** Sign-LSH banding stage shared by [[cosineNearDupPairs]] and
    * [[cosineNearDupSkewCensus]]: (id, v) vectors and the narrow
    * (id, k) band-key explosion. Narrow candidate generation — only
    * (bucket, id) shuffles; vectors re-enter late for candidate ids
    * only (same shape as [[graft.operators.Dedup.minhashNearDups]]).
    */
  private def signBanded(corpus: DataFrame, dim: Int, numPlanes: Int,
      bands: Int, corpusIdCol: String, vecCol: String)
      : (DataFrame, DataFrame) = {
    val planes = V.hyperplanes(dim, numPlanes)
    val vecs = corpus.select(col(corpusIdCol).as("id"),
      V.toDouble(col(vecCol)).as("v"))
    val banded = vecs.select(col("id"),
      explode(V.signLshBandKeys(col("v"), planes, bands)).as("k"))
    (vecs, banded)
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH self-join, exact
    * cosine >= threshold, id_a < id_b. The 5th dedup family from the
    * brief, sharing the Ann bucketing machinery.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
      numPlanes: Int = 16, bands: Int = 4,
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame = {
    val (vecs, banded) =
      signBanded(corpus, dim, numPlanes, bands, corpusIdCol, vecCol)
    val bucketCounts = banded.groupBy("k").count()
      .where(col("count") <= maxBucket && col("count") > 1)
    val inBuckets = banded.join(bucketCounts.select("k"), "k")
    val pairIds = inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val candIds = pairIds
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candVecs = vecs.join(broadcast(candIds), "id")
    def side(n: String) = candVecs
      .select(col("id").as(n), col("v").as(s"v_$n"))
    pairIds
      .join(side("id_a"), "id_a").join(side("id_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(V.cosine(col("v_id_a"), col("v_id_b")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the corpus by nearest centroid, then WITHIN each cluster
    * drop every vector that has a lower-id neighbor at cosine >=
    * `threshold` — semantically redundant documents whose text-level
    * fingerprints (MinHash, SimHash) never collide. Clustering is
    * what makes the quadratic local: candidate pairs exist only
    * inside a cell, so the self-join shuffles on `cell` and each
    * cell's comparison is independent — NEVER all-pairs across the
    * corpus. The keep-lowest-id rule is greedy (not a transitive
    * closure), exactly as published, and deterministic on any engine.
    *
    * Cell assignment reuses [[ivfTopK]]'s broadcast-centroid argmax
    * (ties to the higher cell), with the same deterministic-sample
    * default and [[trainIvfCentroids]] as the trained upgrade.
    *
    * Scale shape: assignment is a codegen'd projection against
    * broadcast centroids; the only shuffle keys on `cell`. Cells
    * larger than `maxCell` SKIP dedup (their rows all survive, same
    * skew policy as [[cosineNearDupPairs]]'s `maxBucket`) — at 100 TB
    * an oversized cell means the clustering is too coarse: raise
    * `nCells` or train centroids rather than letting one reducer eat
    * a quadratic cell.
    *
    * @return surviving rows as (vec_id, cell)
    */
  def semanticDedup(corpus: DataFrame, nCells: Int, threshold: Double,
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None,
      maxCell: Int = 100000): DataFrame =
    cellAssign(corpus, nCells, corpusIdCol, vecCol, trainedCentroids)
      match {
      // No centroids (empty corpus, or trainedCentroids = Some(empty))
      // -> no cells, no candidate pairs, so NOTHING can be deduped and
      // every row survives with sentinel cell -1. (ADVICE r10: the old
      // empty-frame return silently dropped a non-empty corpus when
      // the trained centroid list was empty.)
      case None =>
        corpus.select(col(corpusIdCol).as("vec_id"), lit(-1L).as("cell"))
      case Some(c) =>
        val dedupCells = c.groupBy("cell").count()
          .where(col("count") <= maxCell && col("count") > 1)
          .select("cell")
        val inCells = c.join(dedupCells, "cell")
        val dropped = inCells.alias("a").join(inCells.alias("b"),
            col("a.cell") === col("b.cell") &&
            col("b.vec_id") < col("a.vec_id") &&
            round(V.cosine(col("a.cv"), col("b.cv")), 6) >= threshold)
          .select(col("a.vec_id").as("vec_id")).distinct()
        c.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cell").cast("long").as("cell"))
    }

  /** Nearest-centroid assignment shared by [[semanticDedup]] and
    * [[semanticDedupCensus]] — one source of truth for the cell key,
    * so the census can never drift from the operator it audits.
    * Returns (vec_id, cv, cell), or None when no centroid exists to
    * build the assignment expression.
    */
  private def cellAssign(corpus: DataFrame, nCells: Int,
      corpusIdCol: String, vecCol: String,
      trainedCentroids: Option[Seq[Seq[Double]]]): Option[DataFrame] = {
    val centroids: Seq[Seq[Double]] = trainedCentroids.getOrElse(corpus
      .select(col(corpusIdCol), V.toDouble(col(vecCol)).as("v"))
      .orderBy(corpusIdCol).limit(nCells)
      .collect().toSeq.map(_.getSeq[Double](1).toSeq))
    if (centroids.isEmpty) None
    else
      Some(corpus.select(col(corpusIdCol).as("vec_id"),
          V.toDouble(col(vecCol)).as("cv"))
        .withColumn("cell", bestCellOf(col("cv"), centroids)))
  }

  /** Skew census for [[semanticDedup]] (VERDICT r10 item 3: no silent
    * caps): the cells whose population exceeds `maxCell` — exactly the
    * rows `semanticDedup` passes through UNDEDUPED under its skew
    * policy. Empty census = the dedup covered every row; a non-empty
    * one quantifies the coverage gap and says how much to raise
    * `nCells` (or that centroids need training). Same parameters, same
    * assignment expression, one narrow aggregate on the cell key.
    *
    * @return (cell, rows) — rows skipped per oversized cell
    */
  def semanticDedupCensus(corpus: DataFrame, nCells: Int,
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None,
      maxCell: Int = 100000): DataFrame =
    cellAssign(corpus, nCells, corpusIdCol, vecCol, trainedCentroids)
      match {
      case None =>
        corpus.select(lit(0L).as("cell"), lit(0L).as("rows"))
          .where(lit(false))
      case Some(c) =>
        c.groupBy("cell").count().where(col("count") > maxCell)
          .select(col("cell").cast("long").as("cell"),
            col("count").as("rows"))
    }

  /** Skew census for [[cosineNearDupPairs]]: sign-LSH band buckets
    * larger than `maxBucket`, within which candidate pairs were NOT
    * generated. Unlike [[semanticDedupCensus]]'s cells, an oversized
    * band bucket does not exclude its rows outright — a pair can still
    * surface through one of the other `bands - 1` buckets it lands in —
    * so `rows` here measures lost candidate-generation coverage in
    * that band, not rows guaranteed undeduped.
    *
    * @return (k, rows) — band-bucket key and its population
    */
  def cosineNearDupSkewCensus(corpus: DataFrame, dim: Int,
      numPlanes: Int = 16, bands: Int = 4,
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame =
    signBanded(corpus, dim, numPlanes, bands, corpusIdCol, vecCol)._2
      .groupBy("k").count().where(col("count") > maxBucket)
      .select(col("k"), col("count").as("rows"))
}
