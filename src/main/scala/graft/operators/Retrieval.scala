package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Term-based retrieval scoring for corpus curation: rank documents by
  * relevance to a query-term set (data selection, quality slicing,
  * nearest-neighbor text search without embeddings).
  */
object Retrieval {

  /** BM25 scores of every document against a small query-term set.
    *
    * Relational shape, built for the 100 TB corpus side: one explode +
    * two map-side-combinable aggregates build (tf, doc length); the
    * query-term set and its document frequencies are tiny and
    * BROADCAST, so the corpus shuffles only on (doc_id, term) for its
    * own aggregates, never against the query. Corpus-level constants
    * (N, average length) are a single 1-row aggregate collect.
    *
    * Determinism across engines: per-term score parts are a fixed
    * IEEE expression tree, and the per-document sum accumulates in
    * DECIMAL(28,12) — exact, order-independent — before the final
    * cast+round, so an oracle reproduces scores bit-for-bit (pass
    * exactly-representable k1/b, e.g. 1.25/0.75, to keep the constant
    * arithmetic exact too).
    *
    * @return (doc_id, score) — every document containing at least one
    *   query term, score rounded to 6 places; callers rank/limit.
    */
  def bm25(docs: DataFrame, queryTerms: DataFrame, idCol: String,
      textCol: String, termCol: String = "term", k1: Double = 1.25,
      b: Double = 0.75): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docLen = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = docLen.agg(count(lit(1)).as("n"), avg("len").as("avglen"))
      .collect()(0)
    val n = stats.getLong(0).toDouble
    val avglen = stats.getDouble(1)

    val terms = queryTerms.select(col(termCol).as("term")).distinct()
    val tfq = tf.join(broadcast(terms), "term")
    val dft = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    val part = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1) *
      (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / lit(avglen)))
    tfq
      .join(docLen, "doc_id")
      .join(broadcast(dft), "term")
      .withColumn("part", part)
      .groupBy("doc_id")
      .agg(round(sum(col("part").cast("decimal(28,12)")).cast("double"), 6)
        .as("score"))
  }

  /** Per-document top-k terms by smooth tf-idf — the keyword/topic
    * profile of every document in one pass (feature extraction for
    * clustering, corpus diagnostics, weak labels).
    *
    * `score = tf * (ln((N+1)/(df+1)) + 1)`, ranked per document by
    * (score desc, term desc) — rounding BEFORE ranking makes the order
    * engine-exact (both engines rank identical 6-place values, so a
    * last-ulp ln() difference cannot flip ranks).
    *
    * Scale shape: one explode feeds two map-side-combinable aggregates
    * (tf per (doc, term), df per term); their join keys on `term`
    * AFTER both sides have collapsed, so the shuffle carries one row
    * per distinct pair, never raw tokens. df is a grouped aggregate,
    * not a `count over (partition by term)` window — the window
    * formulation buffers every row of a hot term ("the" ~ one row per
    * document) on one reducer, the aggregate collapses them map-side.
    * The per-doc head reuses [[Skew.topKPerGroup]] — salted
    * two-phase top-k, immune to the million-token document.
    *
    * @param cache storage level for the tf subtree, which both the
    *   join side and the df aggregation consume — uncached, the plan
    *   re-explodes and re-aggregates the corpus once per side. Pass
    *   `Some(MEMORY_AND_DISK)` whenever tokenizing the corpus costs
    *   more than materializing (doc, term, tf).
    * @return (doc_id, rank 1..k, score, term)
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5,
      cache: Option[org.apache.spark.storage.StorageLevel] = None)
      : DataFrame = {
    val n = docs.count().toDouble
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
    val tf0 = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = cache.fold(tf0)(tf0.persist)
    val dfTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfTerm, "term")
      .withColumn("score", round(col("tf") *
        (log(lit(n + 1.0) / (col("df").cast("double") + 1.0)) + 1.0), 6))
    Skew.topKPerGroup(scored, Seq("doc_id"),
      Seq("score", "term"), k)
  }

  /** Hashed TF-IDF document vectors (the "hashing trick"
    * vectorizer) — the bridge from raw text to the ANN/semantic-dedup
    * family when no embedding model is in the loop: every document
    * becomes an l2-normalized `dim`-bucket sparse vector, with terms
    * md5-hashed into buckets (collisions ADD, the standard treatment)
    * and weighted by the [[tfidfTopTerms]] smooth idf. Output is
    * LONG-FORM (doc_id, ix, w) — sparse, shuffle-friendly, and
    * directly consumable by a dot-product join
    * (`sum(a.w * b.w) GROUP BY pair` over matching `ix`).
    *
    * Determinism: bucket sums and the squared-norm both accumulate in
    * DECIMAL(28,12) before one final IEEE sqrt/divide and 6-place
    * round, so vectors are engine-exact. The hash is the
    * [[graft.expressions.Kernels.md5_60]] derivation, reproducible
    * anywhere.
    *
    * Scale shape: explode feeds two map-side-combinable aggregates
    * (per-doc-term tf, per-term df) joined on `term` AFTER both
    * collapsed; bucketing is a codegen'd projection; the norm is a
    * second map-side-combinable per-doc aggregate over at most `dim`
    * rows per document.
    *
    * @return (doc_id, ix 0..dim-1, w) — occupied buckets only
    */
  def hashedTfidfVectors(docs: DataFrame, idCol: String,
      textCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be > 0")
    val n = docs.count().toDouble
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(T.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val bucket = tf.join(dfT, "term")
      .withColumn("w", col("tf") *
        (log(lit(n + 1.0) / (col("df").cast("double") + 1.0)) + 1.0))
      .withColumn("ix",
        conv(substring(md5(col("term")), 1, 15), 16, 10)
          .cast("long") % dim.toLong)
      .groupBy("doc_id", "ix")
      .agg(sum(col("w").cast("decimal(28,12)")).cast("double")
        .as("wraw"))
    val norm = bucket.groupBy("doc_id")
      .agg(sqrt(sum((col("wraw") * col("wraw"))
        .cast("decimal(28,12)")).cast("double")).as("nrm"))
    bucket.join(norm, "doc_id")
      .select(col("doc_id"), col("ix"),
        round(col("wraw") / col("nrm"), 6).as("w"))
  }

  /** Sparse cosine top-k over [[hashedTfidfVectors]]-style long-form
    * vectors — text similarity search with NO embedding model and NO
    * dense arrays: the join on `ix` IS an inverted index, so a query
    * only ever meets documents sharing at least one occupied bucket
    * (never all-pairs), and unit-norm inputs make the dot product the
    * cosine. The other text near-dup shapes here (MinHash, SimHash)
    * answer "is this a near copy"; this answers "what is most
    * SIMILAR", graded, without leaving the relational plan.
    *
    * Determinism: products accumulate in DECIMAL(28,12), scores round
    * to 6 BEFORE the head, ties break doc_id-desc inside the salted
    * two-phase [[Skew.topKPerGroup]] — engine-exact, skew-
    * immune (a stop-word-heavy bucket cannot pin one reducer).
    *
    * @param vecs (idCol, ix, w) unit-norm long-form vectors
    * @param queryIds frame with idCol naming the query documents
    *   (small — it broadcasts)
    * @param cache storage level for `vecs`, which BOTH join sides
    *   consume — uncached, an expensive upstream derivation (e.g.
    *   [[hashedTfidfVectors]]' explode + three aggregates) runs twice
    * @return (query_id, rank 1..k, cosine, idCol)
    */
  def sparseCosineTopK(vecs: DataFrame, queryIds: DataFrame, k: Int,
      idCol: String = "doc_id",
      cache: Option[org.apache.spark.storage.StorageLevel] = None)
      : DataFrame = {
    val v = cache.fold(vecs)(vecs.persist)
    val q = v.join(
        broadcast(queryIds.select(col(idCol).as("query_id"))),
        col(idCol) === col("query_id"))
      .select(col("query_id"), col("ix"), col("w").as("qw"))
    val scored = v.join(q, "ix")
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum((col("w") * col("qw")).cast("decimal(28,12)"))
        .cast("double"), 6).as("cosine"))
    Skew.topKPerGroup(scored, Seq("query_id"),
      Seq("cosine", idCol), k)
  }

  /** Reciprocal-rank fusion — the standard way to combine a lexical
    * ranking (BM25) with an embedding ranking (ANN cosine) without
    * comparing their incommensurable scores: each list contributes
    * `1 / (k + rank)` per document and the contributions sum, so a
    * document near the top of EITHER list surfaces (Cormack et al.,
    * SIGIR 2009; k = 60 is the conventional damping).
    *
    * Determinism across engines: each contribution is one IEEE
    * division on integer inputs, and the per-document sum accumulates
    * in DECIMAL(28,12) — order-independent — before the final
    * cast+round to 9 places, the same recipe as [[bm25]]. Ranks are
    * produced by the upstream operators' own engine-exact tie-breaks,
    * so the fused score is bit-reproducible end to end.
    *
    * Scale shape: inputs are ALREADY top-N lists (bounded — N per
    * query, not corpus-sized), so the union + groupBy here shuffles
    * at most `lists x N` rows per query. The heavy lifting happened
    * upstream; fusion is a footnote in the plan. Callers rank the
    * output by (rrf desc, id) and head it.
    *
    * @param rankings each a (idCol, rankCol) frame, rank 1-based
    * @return (idCol, n_lists, best_rank, rrf) per document appearing
    *   in at least one list
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
      rankCol: String = "rank", k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 0, "k must be >= 0")
    val uni = rankings
      .map(_.select(col(idCol), col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
    uni.groupBy(idCol).agg(
      count(lit(1)).as("n_lists"),
      min("__r").as("best_rank"),
      round(sum((lit(1.0) / (lit(k.toDouble) + col("__r").cast("double")))
        .cast("decimal(28,12)")).cast("double"), 9).as("rrf"))
  }
}
