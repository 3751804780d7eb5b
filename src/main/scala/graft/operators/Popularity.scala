package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Item-popularity analytics over an interaction log: exponentially
  * time-decayed popularity (the freshness-aware ranking signal serving
  * systems feed from) and a long-tail concentration profile (Gini +
  * head-share — the diagnostic that says whether a catalog's traffic
  * is a power law and how hard personalization has to fight the head).
  */
object Popularity {

  private val dec = DecimalType(28, 12)

  /** Half-life-decayed popularity: score(item) = Σ over interactions
    * of 2^(-age_days / halfLifeDays), ages measured from `refMicros`
    * (pass the log's max timestamp or the job's as-of clock — an
    * injected constant, never wall-clock, so reruns reproduce).
    *
    * One map-side-combinable aggregation keyed by item. Each decay
    * term is rounded to 12 decimals before an exact decimal sum, so
    * the score is independent of partitioning and merge order.
    *
    * @return (item, n, score) — score 6-decimal, ordered by item.
    */
  def decayedScores(interactions: DataFrame, itemCol: String,
      tsMicrosCol: String, refMicros: Long, halfLifeDays: Double)
      : DataFrame = {
    require(halfLifeDays > 0.0,
      s"halfLifeDays must be > 0, got $halfLifeDays")
    val ageDays = (lit(refMicros) - col(tsMicrosCol)).cast("double") /
      lit(86400000000.0)
    interactions
      .where(col(itemCol).isNotNull && col(tsMicrosCol).isNotNull)
      .select(col(itemCol).as("item"),
        round(pow(lit(0.5), ageDays / lit(halfLifeDays)), 12)
          .cast(dec).as("w"))
      .groupBy("item")
      .agg(count(lit(1)).as("n"),
        round(sum("w").cast("double"), 6).as("score"))
      .orderBy("item")
  }

  /** Long-tail concentration of interaction counts across items:
    * Gini coefficient plus the interaction share captured by the top
    * 1% and top 10% of items (by count, ceil'd so a tiny catalog still
    * has a head).
    *
    * Gini over the per-item counts x_(1) <= ... <= x_(n):
    * G = (2 Σ i·x_(i)) / (n Σ x) - (n + 1) / n — every term an exact
    * integer/decimal until the single final IEEE division, so the
    * profile is bit-reproducible with NO transcendental calls at all.
    *
    * Scale note: the two windows here run over the per-ITEM count
    * table (catalog-sized — millions of rows, not the 100 TB log);
    * the log itself is touched by exactly one keyed count aggregation.
    *
    * @return one row: (n_items, n_interactions, gini, top1_share,
    *         top10_share), shares and gini 6-decimal.
    */
  def concentrationProfile(interactions: DataFrame, itemCol: String)
      : DataFrame = {
    val counts = interactions
      .where(col(itemCol).isNotNull)
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("c"))
    val asc = Window.orderBy(col("c").asc, col("item").asc)
    val desc = Window.orderBy(col("c").desc, col("item").asc)
    val ranked = counts
      .withColumn("i_asc", row_number().over(asc))
      .withColumn("i_desc", row_number().over(desc))
      .withColumn("n_tot",
        count(lit(1)).over(Window.partitionBy(lit(1))))
    ranked
      .agg(count(lit(1)).as("n_items"),
        sum("c").as("n_interactions"),
        sum((col("i_asc") * col("c")).cast("decimal(38,0)"))
          .as("wsum"),
        // head shares: ceil(n/100) / ceil(n/10) top items by count
        sum(when(col("i_desc") <= ceil(col("n_tot") / lit(100.0)),
          col("c")).otherwise(lit(0L))).as("top1"),
        sum(when(col("i_desc") <= ceil(col("n_tot") / lit(10.0)),
          col("c")).otherwise(lit(0L))).as("top10"))
      .select(col("n_items"), col("n_interactions"),
        round(lit(2.0) * col("wsum").cast("double") /
            (col("n_items").cast("double") *
              col("n_interactions").cast("double")) -
          (col("n_items") + lit(1L)).cast("double") /
            col("n_items").cast("double"), 6).as("gini"),
        round(col("top1").cast("double") /
          col("n_interactions").cast("double"), 6).as("top1_share"),
        round(col("top10").cast("double") /
          col("n_interactions").cast("double"), 6).as("top10_share"))
  }
}
