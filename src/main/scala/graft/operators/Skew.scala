package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-safe relational building blocks for hot keys: a salted
  * equi-join and a two-phase top-k per group. Shared by the operator
  * families (`Sampling`, `Frequency`, `Retrieval`) and the `Queries`
  * catalog; the connector sync does not use them.
  */
object Skew {

  /** Skew-safe equi-join for a hot-keyed fact side: scatter fact rows
    * across `salts` sub-partitions by a payload-derived salt and
    * replicate the dimension side once per salt, so one hot key's rows
    * land on `salts` reducers instead of one. Result is exactly the
    * plain inner equi-join (differential-tested); reach for this when a
    * skewed first-stage join feeds a wider pipeline that reuses its
    * partitioning, where AQE's skew split cannot apply. Dimension-side
    * cost: x`salts` replication — keep the dim side small relative to
    * the fact side (the usual case for the skewed joins this targets).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.map(col).toIndexedSeq: _*)),
        lit(salts.toLong)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedFact
      .join(saltedDim, col(factKey) === col(dimKey) &&
        saltedFact("__salt") === saltedDim("__salt"))
      .drop("__salt")
  }

  /** Skew-safe top-k rows per group: two-phase sorted-slice aggregation.
    *
    * Phase 1 keeps the top k within (groupKeys, salt) — at most k rows
    * OUT per salt bucket; phase 2 merges the buckets' survivors, so its
    * buffers hold at most salts*k rows per key. A hot key's rows spread
    * over `salts` reducers instead of one — where the window
    * `row_number()` formulation sorts the entire frame per key on one
    * reducer. Every global top-k row survives its own bucket's phase-1
    * cut, so the result is exact. Honest bound: phase 1's collect_list
    * BUFFER is O(rows/salts) per hot key (the slice happens after
    * accumulation, and Spark's ObjectHashAggregate collect_list cannot
    * cap mid-stream) — the salt count, not k, is the memory lever; size
    * `salts` so rows/salts fits an executor. For a truly O(k) buffer
    * set `boundedBuffers = true`, which swaps in the custom heap
    * aggregate at the cost of whole-stage codegen.
    *
    * Ordering is descending over `payload` as a struct (field by field),
    * so callers get a total order by listing a unique tiebreaker last.
    * Output: groupKeys ++ rank (1..k) ++ payload columns.
    *
    * @param boundedBuffers use the O(k) heap aggregate
    *   ([[graft.expressions.BoundedTopKAgg]]) instead of the salted
    *   collect_list shape: ONE shuffle, buffers capped at k rows per
    *   key regardless of skew (map-side partials ship at most k rows
    *   per key per mapper), at the cost of leaving whole-stage codegen
    *   for the aggregate. Differential-tested equal to the salted
    *   shape in OpsSpec.
    */
  def topKPerGroup(df: DataFrame, groupKeys: Seq[String],
      payload: Seq[String], k: Int, salts: Int = 16,
      boundedBuffers: Boolean = false): DataFrame = {
    val pstruct = struct(payload.map(col): _*)
    val topped =
      if (boundedBuffers)
        df.groupBy(groupKeys.map(col): _*)
          .agg(graft.expressions.BoundedTopKAgg.topK(pstruct, k).as("__top"))
      else {
        val topSlice = (c: Column) =>
          slice(sort_array(c, asc = false), 1, k)
        val phase1 = df
          .withColumn("__salt", pmod(xxhash64(pstruct), lit(salts)))
          .groupBy((groupKeys :+ "__salt").map(col): _*)
          .agg(topSlice(collect_list(pstruct)).as("__top"))
        phase1
          .select(groupKeys.map(col) :+ explode(col("__top")).as("__p"): _*)
          .groupBy(groupKeys.map(col): _*)
          .agg(topSlice(collect_list(col("__p"))).as("__top"))
      }
    topped
      .select(groupKeys.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__p")): _*)
      .select(groupKeys.map(col) ++
        Seq((col("__pos") + 1).cast("long").as("rank")) ++
        payload.map(f => col(s"__p.$f").as(f)): _*)
  }
}
