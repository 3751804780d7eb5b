package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Table reconciliation at scale — "which rows differ between these
  * two 100 TB tables" without shuffling either table against the
  * other. The Merkle idea, flattened to one level: both sides roll up
  * to per-bucket digests (bucket = key-hash mod nBuckets; digest =
  * exact decimal sum of 60-bit row hashes + a row count — associative
  * and commutative, so partition order cannot move a bit), the digest
  * frames (nBuckets rows each) full-outer compare, and ONLY the
  * mismatched buckets' rows re-enter for the row-level set
  * difference. When the tables mostly agree — the reconciliation
  * regime — stage 2 touches a vanishing fraction of either side:
  * the full-table work is one scan + one nBuckets-row aggregate per
  * side.
  */
object Reconcile {

  private def h60(v: Column): Column =
    conv(substring(md5(v), 1, 15), 16, 10).cast("long")

  /** Distinct (side, key...) rows whose full-row content is absent
    * from the other table: 'a' rows with no exact match in `b`, and
    * vice versa — a modified key reports from BOTH sides, an
    * insert/delete from one. SET semantics (duplicates within one
    * side collapse). Row identity is the md5-60 hash of the
    * U+0001-joined column strings (nulls sentineled) — a cross-side
    * collision inside one bucket could hide a differing row with
    * probability ~2^-60 per candidate pair; the digest compare itself
    * is EXACT (decimal sums + counts).
    *
    * Both inputs must share `a`'s column set; `keyCols` routes
    * matching keys to the same bucket so a localized change dirties
    * few buckets.
    */
  def merkleDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    require(a.columns.toSeq == b.columns.toSeq,
      s"schemas differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    require(keyCols.nonEmpty && keyCols.forall(a.columns.contains),
      s"keyCols $keyCols not all present in ${a.columns.toSeq}")
    val cols = a.columns.toSeq
    def canon(cs: Seq[String]): Column =
      concat_ws("\u0001",
        cs.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    def prep(df: DataFrame): DataFrame = df
      .withColumn("__rh", h60(canon(cols)))
      .withColumn("__bkt", pmod(h60(canon(keyCols)), lit(nBuckets.toLong)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pa = prep(a)
    val pb = prep(b)
    def digest(df: DataFrame, n: String): DataFrame = df
      .groupBy(col("__bkt").as(s"__bkt_$n"))
      .agg(sum(col("__rh").cast("decimal(38,0)")).as(s"__d_$n"),
        count(lit(1)).as(s"__n_$n"))
    // nBuckets rows per side: the ONLY full-table aggregation
    val bad = digest(pa, "a")
      .join(digest(pb, "b"),
        col("__bkt_a") === col("__bkt_b"), "full_outer")
      .where(!(col("__d_a") <=> col("__d_b")) ||
        !(col("__n_a") <=> col("__n_b")))
      .select(coalesce(col("__bkt_a"), col("__bkt_b")).as("__bkt"))
    // stage 2: only the dirty buckets' rows; the bucket list is tiny
    // (<= nBuckets rows) and broadcast, so neither table re-shuffles
    val keyOut = keyCols.map(col)
    def side(rows: DataFrame, other: DataFrame, tag: String): DataFrame =
      rows.join(broadcast(bad), "__bkt")
        // an exact match shares key AND content -> same bucket, so the
        // other side can be restricted to the dirty buckets too: the
        // anti-join never touches clean-bucket rows on EITHER side
        .join(other.join(broadcast(bad), "__bkt")
          .select(col("__rh")).distinct(), Seq("__rh"), "left_anti")
        .select(lit(tag).as("side") +: keyOut: _*)
        .distinct()
    val out = side(pa, pb, "a").unionByName(side(pb, pa, "b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // terminal action, then free the per-side pins
    pa.unpersist(blocking = false)
    pb.unpersist(blocking = false)
    out
  }

  /** Snapshot-to-snapshot changelog — the inverse of
    * [[Events.applyChangelog]]: classify every key as I (in `after`
    * only), D (in `before` only) or U (in both, any payload column
    * differing null-safely); unchanged keys emit NOTHING. One
    * co-partitioned full-outer equi-join on the key — no window, no
    * row hashing. Reach for [[merkleDiff]] instead when the tables
    * mostly agree and you only need the damaged keys without the full
    * key shuffle; this operator is for when a downstream CDC consumer
    * needs the complete TYPED delta with payloads.
    *
    * Both snapshots must share a column set and be keyed (at most one
    * row per key — duplicate keys would multiply through the join).
    *
    * Output: keys..., op, then the payload columns — `after`'s values
    * on I/U rows, `before`'s on D rows.
    */
  def snapshotDelta(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(before.columns.toSeq == after.columns.toSeq,
      s"schemas differ: ${before.columns.toSeq} vs ${after.columns.toSeq}")
    require(keys.nonEmpty && keys.forall(before.columns.contains),
      s"keys $keys not all present in ${before.columns.toSeq}")
    val payload = before.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, t: String): DataFrame =
      payload.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"__${t}_$c"))
        .withColumn(s"__${t}_present", lit(true))
    val j = tagged(before, "b").join(tagged(after, "a"), keys, "full_outer")
    val changed = payload
      .map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn("op",
        when(col("__b_present").isNull, "I")
          .when(col("__a_present").isNull, "D")
          .when(changed, "U"))
      .where(col("op").isNotNull)
      .select(keys.map(col) ++ Seq(col("op")) ++ payload.map(c =>
        when(col("op") === "D", col(s"__b_$c"))
          .otherwise(col(s"__a_$c")).as(c)): _*)
  }
}
