package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.MisraGriesAgg

/** Heavy-hitter detection with bounded memory: the two-pass
  * sketch-then-verify shape that replaces a full (item, count) shuffle
  * when the distinct count is huge (token vocabularies, URL hosts,
  * user ids) but only items above a frequency floor matter.
  */
object Frequency {

  /** Items occurring at least `minCount` times — EXACT output from an
    * approximate first pass.
    *
    * Pass 1: a Misra-Gries sketch sized `total/minCount + 1` counters
    * (so every true heavy hitter provably survives) runs as one
    * partial/final aggregate with O(capacity) buffers — the full
    * distinct set never shuffles. Pass 2 broadcast-filters the input to
    * the candidate superset (at most `capacity` items) and counts those
    * exactly; the final `>= minCount` filter makes the result exact and
    * deterministic regardless of partitioning — which is what lets an
    * external oracle state it as a plain GROUP BY ... HAVING.
    *
    * The sketch's survival guarantee holds ONLY at full capacity, so an
    * undersized sketch is refused rather than silently degraded: if
    * `total/minCount + 1` exceeds `maxCapacity` (default 10M counters,
    * ~several hundred MB of aggregate buffer) this throws — raise
    * `minCount` (each 10x on minCount is 10x fewer counters) or, if an
    * approximate candidate set is acceptable, raise `maxCapacity` to
    * what the executors can hold.
    *
    * @param total input row count (non-null items); callers usually
    *   already know it from an upstream observe/count — pass it rather
    *   than paying another scan.
    */
  def heavyHitters(df: DataFrame, itemCol: String, minCount: Long,
      total: Long, maxCapacity: Int = 10_000_000): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    val needed = total / minCount + 1L
    require(needed <= maxCapacity,
      s"heavyHitters needs $needed Misra-Gries counters for " +
        s"total=$total, minCount=$minCount, but maxCapacity=$maxCapacity; " +
        "beyond that the sketch can evict true heavy hitters and the " +
        "output would no longer be exact. Raise minCount (counters " +
        "shrink linearly) or raise maxCapacity if executors can hold it.")
    val capacity = math.max(1L, needed).toInt
    val candidates = df
      .agg(MisraGriesAgg.sketch(col(itemCol), capacity).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as(itemCol))
    df.join(broadcast(candidates), itemCol)
      .groupBy(itemCol).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** Item-item co-occurrence related-items: for every item, the top-k
    * other items most often sharing a basket (order, session, playlist)
    * with it, plus the lift ratio — the classic collaborative
    * "customers also bought" precompute, the self-computed analogue of
    * a managed recommender's related-items output.
    *
    * Scale shape: the pair explosion is the per-basket self-join — its
    * cost is sum over baskets of (basket size)^2, bounded by real
    * basket sizes (an order carries items, not the catalog), and the
    * join key is the basket id so no reducer sees more than one
    * basket's pairs at a time. Counts collapse map-side; the two item
    * marginals re-enter by item-keyed joins of an aggregated (small)
    * table; the per-item head is the salted two-phase top-k. Lift
    * computes as exact integer products with ONE double division, so
    * engines agree bit-for-bit before the 6-place round.
    *
    * @param minCount evidence floor on co-basket count
    * @param cache storage level for the distinct (basket, item) set,
    *   which the basket count, the marginals, and BOTH pair-join
    *   sides consume — uncached, the plan re-derives it four times
    * @return (item, rank 1..k, n_co, lift, related), ranked by
    *   (n_co desc, lift desc, related desc) — lift is rounded BEFORE
    *   ranking, so the order is engine-exact
    */
  def coOccurrence(baskets: DataFrame, basketCol: String,
      itemCol: String, k: Int, minCount: Long = 2,
      cache: Option[org.apache.spark.storage.StorageLevel] = None)
      : DataFrame = {
    val items0 = baskets
      .select(col(basketCol).as("bk"), col(itemCol).as("it")).distinct()
    val items = cache.fold(items0)(items0.persist)
    val nBaskets = items.select("bk").distinct().count()
    val marg = items.groupBy("it").agg(count(lit(1)).as("c"))
    val pairs = items.alias("a")
      .join(items.alias("b"),
        col("a.bk") === col("b.bk") && col("a.it") =!= col("b.it"))
      .groupBy(col("a.it").as("item"), col("b.it").as("related"))
      .agg(count(lit(1)).as("n_co"))
      .where(col("n_co") >= minCount)
    val scored = pairs
      .join(marg.select(col("it").as("item"), col("c").as("c_a")), "item")
      .join(marg.select(col("it").as("related"), col("c").as("c_b")),
        "related")
      .withColumn("lift", round(
        (col("n_co") * lit(nBaskets)).cast("double") /
          (col("c_a") * col("c_b")).cast("double"), 6))
    Skew.topKPerGroup(scored, Seq("item"),
        Seq("n_co", "lift", "related"), k)
      .select(col("item"), col("rank"), col("n_co"), col("lift"),
        col("related"))
  }
}
