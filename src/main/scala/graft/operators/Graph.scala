package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over edge lists — the companion to
  * [[Dedup]]'s connected components. First use case: PageRank over
  * the [[Ann.knnGraph]] similarity graph as a representativeness /
  * centrality signal for corpus curation (central documents anchor
  * clusters; peripheral ones are outliers or near-noise).
  *
  * Scale + determinism shape, per iteration: one equi-join of the
  * edge list with the current rank vector on `src` (rank and
  * out-degree frames are O(nodes) — broadcastable when nodes fit,
  * shuffle-joined otherwise), one aggregation keyed by `dst` whose
  * per-destination sum accumulates in `decimal(30,15)` — exactly
  * associative and commutative, so the result is bit-identical under
  * any partitioning (the [[Ann.meanPool]] technique) and map-side
  * combinable. Iterations are a compile-time-bounded loop of
  * declarative plans (same discipline as [[Ann.graphExpandTopK]]);
  * the only driver materialization is the node COUNT (one scalar).
  */
object Graph {

  /** PageRank with `iters` unrolled synchronous iterations at damping
    * `d`: r'(v) = (1-d)/N + d * sum over in-edges (r(u) / outdeg(u)).
    * Nodes = distinct src ∪ dst; a node with no in-edges decays to the
    * (1-d)/N floor. Assumes every node has at least one OUT-edge (true
    * for any mirrored/symmetric edge list, e.g. [[Ann.knnGraph]]'s) —
    * with dangling nodes the lost mass is simply not redistributed,
    * the standard simplification.
    *
    * Fully deterministic: the floor and damping constants fold in the
    * same order as a SQL replay, contributions divide double-by-long
    * identically, and the per-dst reduction is a decimal sum — so an
    * oracle can replay every iteration bit-for-bit.
    *
    * With `weightCol` (weighted PageRank) an edge carries
    * `r(u) * (w / sumW(u))` instead of `r(u) / outdeg(u)`: weights
    * clamp at 0 (a negative similarity is a non-edge, not negative
    * mass) and the per-src normalizer is itself a decimal sum, so the
    * weighted variant keeps the same bit-reproducibility; a src whose
    * weights all clamp to 0 contributes nothing (treated dangling).
    *
    * Output: (node, rank), unrounded.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      cache: Option[StorageLevel] = None,
      weightCol: Option[String] = None,
      pinsOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    // The edge frame feeds 3 + iters subtrees (both node projections,
    // the out-degree count, one join per iteration); unpinned, each
    // consumer re-derives the caller's edge lineage — for an inline
    // [[Ann.knnGraph]] build that means re-running the whole bucketed
    // self-join per consumer. Pin it (two narrow columns), materialize
    // through the one terminal action, release after (the
    // [[Dedup.jaccardJoin]] cache-hygiene pattern: unpersisting a
    // parent never drops caches built on top of it).
    val level = cache.getOrElse(StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(
        (Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++
          weightCol.map(w =>
            greatest(col(w).cast("double"), lit(0.0)).as("w"))): _*)
      .persist(level)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val n = nodes.count() // metadata-scale scalar; also fills e's pin
    val base = (1.0 - damping) / n
    // the per-src normalizer: out-degree, or the decimal weight sum
    val deg = weightCol match {
      case None => e.groupBy("src").agg(count(lit(1)).as("od"))
      case Some(_) => e.groupBy("src")
        .agg(sum(col("w").cast("decimal(30,15)")).cast("double").as("sw"))
        .where(col("sw") > 0) // all-clamped srcs contribute nothing
    }
    def contrib = weightCol match {
      case None    => col("r") / col("od")
      case Some(_) => col("r") * (col("w") / col("sw"))
    }
    var r = nodes.withColumn("r", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val sums = e.join(r, col("node") === col("src"))
        .join(deg, "src")
        .select(col("dst"), contrib.as("c"))
        .groupBy("dst")
        .agg(sum(col("c").cast("decimal(30,15)")).cast("double").as("s"))
      r = nodes.join(sums, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (lit(base) +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    pinsOut match {
      // Lazy composition (VERDICT r18 #6): ownership of the internal
      // pin transfers to the caller's buffer; the returned frame is
      // UNPINNED and UNMATERIALIZED, so a caller composing several
      // operators pays exactly one terminal action at the end, then
      // unpersists the buffer. (The node-count scalar above still ran
      // — it is needed to CONSTRUCT the plan — and it filled e's pin,
      // so the composition never re-derives the edge lineage.)
      case Some(buf) =>
        buf += e
        r.select(col("node"), col("r").as("rank"))
      case None =>
        val out = r.select(col("node"), col("r").as("rank")).persist(level)
        out.count() // terminal action: materialize out, then free the pin
        e.unpersist(blocking = false)
        out
    }
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with itself; each iteration relabels every node
    * with the MODE of its neighbors' labels, ties broken by the
    * smallest label. The edge list is symmetrized (and de-self-looped)
    * first, so "neighbors" is undirected and every node has at least
    * one. Synchronous updates + the min tie-break make the whole run
    * deterministic — the classic async/random-order LPA is not, which
    * is why this variant is the one an oracle can replay.
    *
    * Scale + determinism shape, per iteration: one equi-join of the
    * symmetrized edges with the label vector (O(nodes) side), one
    * count keyed by (node, label), then the argmax as a
    * `min(struct(-cnt, label))` aggregate — partial-aggregable (map
    * tasks forward one candidate per local (node) group), no window
    * sort over a node's whole neighborhood, label type free. Bounded
    * unrolled iterations, no driver state at all.
    *
    * Convergence note: synchronous LPA can 2-cycle on bipartite-ish
    * regions (the known limitation); callers pick small fixed `iters`
    * (2-3 suffices for the dense-cluster / sparse-bridge graphs this
    * targets, e.g. [[Ann.knnGraph]]).
    *
    * Output: (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, cache: Option[StorageLevel] = None,
      pinsOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None)
      : DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val level = cache.getOrElse(StorageLevel.MEMORY_AND_DISK)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
    // symmetrize; distinct so a mutual edge counts once per direction
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(level) // feeds one join per iteration (same pin pattern)
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      labels = und.join(labels, col("node") === col("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
        .select(col("src").as("node"), col("m.label").as("label"))
    }
    pinsOut match {
      case Some(buf) => // lazy composition: see [[pageRank]]
        buf += und
        labels
      case None =>
        val out = labels.persist(level)
        out.count() // terminal action: materialize, then free the edge pin
        und.unpersist(blocking = false)
        out
    }
  }

  /** Per-node triangle counts (and local clustering coefficient) over
    * the symmetrized simple graph — the density signal that separates
    * tight duplicate-ish clusters from star-shaped hubs in a
    * similarity graph.
    *
    * Degree-ordered orientation, the classic join-bounding trick:
    * each undirected edge is kept once, directed from the
    * (degree, id)-smaller endpoint to the larger. Every triangle then
    * has EXACTLY one wedge u->v, u->w with (v,w) also oriented, so
    * one self-join on the oriented list (wedges from the common
    * smaller endpoint) plus one membership join counts each triangle
    * once — and the wedge join fans out per node by its ORIENTED
    * out-degree, which the orientation caps near sqrt(|E|) on any
    * graph (arboricity bound), so no hub ever explodes the join. All
    * counts are integers; the coefficient is one rounded double
    * division, same discipline as the cosine scores.
    *
    * Output: (node, degree, n_tri, clustering_coef) for every node of
    * the symmetrized graph (zero-triangle nodes included, coef 0 for
    * degree < 2).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
      cache: Option[StorageLevel] = None,
      pinsOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None)
      : DataFrame = {
    val level = cache.getOrElse(StorageLevel.MEMORY_AND_DISK)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(level)
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    // orient small -> large under (degree, id); join degrees once per
    // endpoint, keep each undirected edge exactly once
    val dU = deg.select(col("node").as("src"), col("degree").as("du"))
    val dV = deg.select(col("node").as("dst"), col("degree").as("dv"))
    val o = und.join(dU, "src").join(dV, "dst")
      .where(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
      .persist(level)
    // eager mode only: fill o's pin up front (und feeds deg + o only
    // through here). In lazy mode the caller's one terminal action
    // fills both pins — persisted frames cache on first computation
    // within the job, so the 4 consumers of o still read one compute.
    if (pinsOut.isEmpty) o.count()
    val wedges = o.select(col("u"), col("v").as("a"))
      .join(o.select(col("u"), col("v").as("b")), "u")
      .where(col("a") < col("b"))
    // closing edge is oriented (a, b) or (b, a); a < b by construction
    // only fixes id order, not (degree, id) order - check both
    val closed = wedges.join(
      o.select(col("u").as("a"), col("v").as("b"))
        .unionByName(o.select(col("v").as("a"), col("u").as("b"))),
      Seq("a", "b"))
    val perNode = closed
      .select(explode(array(col("u"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val res = deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .as("clustering_coef"))
    pinsOut match {
      case Some(buf) => // lazy composition: see [[pageRank]]
        buf += und
        buf += o
        res
      case None =>
        val out = res.persist(level)
        out.count() // terminal action, then free the working pins
        und.unpersist(blocking = false)
        o.unpersist(blocking = false)
        out
    }
  }

  /** Personalized PageRank: random-walk-with-restart mass from a SEED
    * set — the item-graph recommendation primitive ("items related to
    * what this user touched", seeds = the user's items) and the
    * seed-expansion tool for curation (grow a topic slice from a few
    * known-good documents). Same synchronous unrolled loop, decimal
    * mass sums, and pinned-edge discipline as [[pageRank]]; the only
    * change is the teleport vector: restart mass (1-d)/|seeds| lands
    * on the seeds instead of (1-d)/N everywhere, and the walk starts
    * at the seeds. Nodes the walk hasn't reached report exactly 0.0.
    *
    * Directionality follows the edge list as given — pass a
    * symmetrized list for undirected graphs (every node then has
    * out-edges; with directed input, dangling-node mass is simply not
    * redistributed, as in [[pageRank]]). Seeds are intersected with
    * the graph's nodes; an empty intersection is refused loudly.
    *
    * Output: (node, rank), unrounded.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seedNodes = seeds.select(col(seedCol).as("node"))
      .where(col("node").isNotNull).distinct()
      .join(nodes, Seq("node"))
      .withColumn("__seed", lit(1))
    val nS = seedNodes.count() // scalar; also fills e's pin via nodes
    require(nS > 0, "no seed intersects the graph's node set")
    val start = 1.0 / nS
    val tele = (1.0 - damping) / nS
    val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
    def withSeed(df: DataFrame) =
      df.join(seedNodes, Seq("node"), "left_outer")
    var r = withSeed(nodes)
      .select(col("node"),
        when(col("__seed").isNotNull, lit(start)).otherwise(lit(0.0))
          .as("r"))
    for (_ <- 1 to iters) {
      val sums = e.join(r, col("node") === col("src"))
        .join(deg, "src")
        .select(col("dst"), (col("r") / col("od")).as("c"))
        .groupBy("dst")
        .agg(sum(col("c").cast("decimal(30,15)")).cast("double").as("s"))
      r = withSeed(nodes)
        .join(sums, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (when(col("__seed").isNotNull, lit(tele)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    val out = r.select(col("node"), col("r").as("rank"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // terminal action: materialize, then free the pin
    e.unpersist(blocking = false)
    out
  }

  /** Multi-source BFS hop distances over the symmetrized graph:
    * dist(v) = fewest edges from any seed, nodes unreached within
    * `maxHops` absent from the output.
    *
    * Implemented as monotone min-distance relaxation, not a frontier
    * queue: each of the `maxHops` unrolled iterations joins the edge
    * list with the CURRENT distance vector (O(nodes) side, keyed on
    * the node), proposes dist+1 across every edge, and re-minimizes
    * with a map-side-combinable min aggregate. Integer mins are
    * exactly associative/commutative, so the result is partition- and
    * merge-order-independent — replayable by a recursive-CTE oracle
    * row for row. After h iterations every node within h hops holds
    * its true BFS distance (standard Bellman-Ford argument), so
    * `maxHops` >= the seed eccentricity gives exact distances; smaller
    * values give the exact-within-horizon prefix. No driver state, no
    * collect; same bounded-unrolled-loop discipline as [[pageRank]].
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds one join per hop
    var dist = seeds.select(col(seedCol).as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("dist", lit(0L))
    for (_ <- 1 to maxHops) {
      val relaxed = und.join(dist, col("node") === col("dst"))
        .select(col("src").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
    }
    val out = dist.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // terminal action: materialize, then free the pin
    und.unpersist(blocking = false)
    out
  }
}
