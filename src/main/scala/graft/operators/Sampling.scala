package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and dataset splitting — the
  * reproducibility primitive of a training-data pipeline. `rand()`-based
  * sampling changes on every run, partitioning, and Spark version;
  * hashing a stable key means the same row lands in the same split on
  * every engine, forever, and membership is checkable in plain SQL
  * (`('0x'||substr(md5(k),1,15))::BIGINT % 1000000`). Pure built-ins
  * (md5/conv), fully codegen'd, no shuffle — split assignment is a
  * per-row projection.
  */
object Sampling {

  final val Buckets = 1000000L

  /** Purpose salts. Sampling, splitting, and packing hash DIFFERENT
    * derivations of the same key — otherwise the decisions are
    * perfectly correlated: with one shared hash, every row sampled at
    * `p` ppm would land in whichever split covers `[0, p)`, so a
    * stratum kept at <= 800000 ppm could never reach val/test. Salting
    * the key per purpose makes keep/split/stream assignments pairwise
    * independent, so sample-then-split composes like independent draws.
    */
  final val SampleSalt = ":sample"
  final val SplitSalt = ":split"
  final val PackSalt = ":pack"
  final val ShuffleSalt = ":shuffle"
  final val MixSalt = ":mix"

  /** Uniform bucket in [0, 1000000) from the md5 of the key's string
    * form. Same derivation as [[graft.expressions.Kernels.md5_60]]
    * (first 15 hex chars), so any md5-equipped engine reproduces it.
    * This is the raw, unsalted primitive; the sampling/split/pack
    * operators below hash the purpose-salted key ([[saltedBucket]]).
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("long") % Buckets

  /** [[hashBucket]] of the purpose-salted key: bucket of
    * `concat(key, salt)`. Any md5-equipped engine reproduces it as
    * `md5(key || salt)`.
    */
  def saltedBucket(key: Column, salt: String): Column =
    hashBucket(concat(key.cast("string"), lit(salt)))

  /** Split label by cumulative weight over the [[SplitSalt]]-salted
    * hash bucket. Weights are parts-per-million boundaries, e.g.
    * `Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L)`.
    * The salt decorrelates the split from any upstream [[hashSample]]/
    * [[stratifiedKeep]] filter on the same key.
    */
  def assignSplit(key: Column, weights: Seq[(String, Long)]): Column = {
    require(weights.map(_._2).sum == Buckets,
      s"weights must sum to $Buckets ppm")
    val b = saltedBucket(key, SplitSalt)
    val (expr, _) = weights.init.foldLeft(
      (None: Option[Column], 0L)) { case ((acc, cum), (name, w)) =>
      val upper = cum + w
      val branch = acc match {
        case None    => when(b < upper, lit(name))
        case Some(c) => c.when(b < upper, lit(name))
      }
      (Some(branch), upper)
    }
    expr.map(_.otherwise(lit(weights.last._1)))
      .getOrElse(lit(weights.last._1))
  }

  /** Deterministic fractional sample: keep rows whose
    * [[SampleSalt]]-salted bucket falls below `ppm` parts-per-million
    * of the key space.
    */
  def hashSample(key: Column, ppm: Long): Column =
    saltedBucket(key, SampleSalt) < ppm

  /** Per-stratum deterministic sampling — corpus rebalancing with one
    * codegen'd per-row predicate: each stratum (language, source
    * domain, quality band) keeps its own fraction of rows, so
    * over-represented strata are downsampled in the same pass that
    * keeps rare strata whole. Membership hashes the stable row key
    * exactly as [[hashSample]] (same [[SampleSalt]]), so the same row
    * survives the same rate on every run and engine; unknown strata
    * fall back to `defaultPpm`. No shuffle, and because
    * [[assignSplit]]/[[packStreams]] hash different salts, the kept
    * subset splits and packs as if by independent draws.
    */
  def stratifiedKeep(key: Column, stratum: Column,
      ratesPpm: Map[String, Long], defaultPpm: Long): Column = {
    require(ratesPpm.values.forall(p => p >= 0 && p <= Buckets) &&
      defaultPpm >= 0 && defaultPpm <= Buckets,
      s"rates must be in [0, $Buckets] ppm")
    val thr = ratesPpm.toSeq.sortBy(_._1)
      .foldLeft(None: Option[Column]) { case (acc, (name, ppm)) =>
        Some(acc.fold(when(stratum === name, lit(ppm)))(
          _.when(stratum === name, lit(ppm))))
      }
      .map(_.otherwise(lit(defaultPpm))).getOrElse(lit(defaultPpm))
    saltedBucket(key, SampleSalt) < thr
  }

  /** Sequence packing: place every document at a byte/token offset in
    * one of `streams` independent concatenation streams, and name the
    * fixed-size context bins it lands in — the GPT-style "concatenate
    * then chunk" layout, computed relationally. A document starts at
    * the running token total of its stream and spans
    * `[bin_first, bin_last]` of width `budget`.
    *
    * Scale shape: stream assignment is the usual md5 projection; the
    * only shuffle is the window's partition-by-stream, and each stream
    * is an independent sequential prefix-sum — size `streams` to the
    * cluster's parallelism (one window partition per core) and no
    * single reducer ever sees more than corpus/streams rows. The
    * prefix-sum is a ROWS UNBOUNDED PRECEDING running frame: Spark
    * computes it in one pass per partition without buffering the
    * window.
    *
    * @param tokenCol per-row token count, >= 0 (zero-token rows occupy
    *   one slot so they remain addressable)
    */
  def packStreams(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokenCol: String, streams: Int,
      budget: Long): org.apache.spark.sql.DataFrame = {
    require(streams > 0 && budget > 0, "streams and budget must be > 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("stream").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("stream",
        saltedBucket(col(idCol), PackSalt) % streams.toLong)
      .withColumn("start_offset",
        coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      // `div` (exact integral division), not `/`+cast: double division
      // loses integer precision past 2^53, and a running offset on an
      // unbounded stream can get there — at which point a boundary
      // offset like k*budget-1 would round into the wrong bin
      .withColumn("bin_first", expr(s"start_offset div ${budget}L"))
      .withColumn("bin_last",
        expr(s"(start_offset + greatest(`$tokenCol`, 1L) - 1) " +
          s"div ${budget}L"))
  }

  /** Deterministic global shuffle into training shards — the "shuffle
    * the corpus once, write N shard files" step before sequential
    * training reads, computed WITHOUT a global sort: a single-reducer
    * `orderBy(hash)` is the naive formulation and the classic driver-
    * of-death at 100 TB. Instead, two phases over a salted 60-bit
    * hash: (1) `shard = hash % shards` (a codegen'd projection — rows
    * land in pseudo-random, statistically equal shards); (2) within
    * each shard, `pos = row_number() ORDER BY (hash, key)` — one
    * window partition PER SHARD, so no reducer ever sorts more than
    * corpus/shards rows; size `shards` to >= cluster cores. The
    * global offset of each shard is a prefix sum over the shard-count
    * table (shards rows — broadcast back), making `global_pos` a true
    * permutation index 0..N-1 of the whole corpus.
    *
    * The permutation is a pure function of the keys: reruns, engines,
    * partitionings, and cluster sizes all agree on every row's
    * position (`rand()`-shuffles are none of those), and the
    * [[ShuffleSalt]] keeps it independent of every sample/split/pack
    * decision upstream. Ties on the 60-bit hash break by key, so the
    * order is total even at 100 TB collision counts.
    *
    * @return df's columns plus `shard` (0..shards-1), `pos` (1-based
    *   within shard), `global_pos` (0-based over the whole input);
    *   input columns named `shard`/`pos`/`global_pos` would collide —
    *   rename them first
    */
  def shuffleShards(df: org.apache.spark.sql.DataFrame, keyCol: String,
      shards: Int): org.apache.spark.sql.DataFrame = {
    require(shards > 0, "shards must be > 0")
    import org.apache.spark.sql.expressions.Window
    // full 60-bit salted hash — NOT the ppm bucket: ordering wants
    // maximal entropy so hash ties (then key tie-break) stay rare
    val h60 = conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(ShuffleSalt))), 1, 15), 16, 10).cast("long")
    val hashed = df.withColumn("__h", h60)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
    val w = Window.partitionBy("shard")
      .orderBy(col("__h"), col(keyCol))
    val offsets = hashed.groupBy("shard")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum("__n").over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("__offset"))
    hashed
      .withColumn("pos", row_number().over(w).cast("long"))
      .join(broadcast(offsets), Seq("shard"))
      .withColumn("global_pos", col("__offset") + col("pos") - 1L)
      .drop("__h", "__offset")
  }

  /** Token-budget corpus selection — "take the best documents until the
    * token budget is spent", the greedy quality-ranked cut that sizes a
    * training mix (public precedent: quality-classifier-thresholded
    * corpora à la GPT-3/CCNet, phrased as an exact budget instead of a
    * score threshold). A document is kept iff the running token cost of
    * the corpus ranked above it (score DESC, then idCol for a total
    * order) still fits `budget` INCLUDING the document itself.
    *
    * The naive formulation is `sum(cost) OVER (ORDER BY score DESC)` —
    * an unpartitioned global window, i.e. every row through ONE
    * reducer: the classic 100 TB driver-of-death. Instead, the same
    * two-phase shape as [[shuffleShards]]: (1) rows group into
    * score-monotone buckets (`floor(score / bucketWidth)` — a pure
    * codegen'd function of the row, so recomputation is always
    * consistent, unlike sampled range boundaries); per-bucket cost
    * sums (a tiny table, one row per occupied bucket) prefix-sum into
    * global offsets on a single bounded reducer and broadcast back;
    * (2) one window partition PER BUCKET computes the within-bucket
    * running sum, so no reducer ever sorts more than a bucket's rows.
    * `cum_cost = offset + running` is then the exact global inclusive
    * prefix sum in (score DESC, idCol) order, independent of
    * partitioning, bucket width, and cluster size. Size `bucketWidth`
    * so score buckets hold ~1/cores of the data; a degenerate
    * single-score corpus degrades to the one-reducer sort — salt the
    * score first if that is a real distribution.
    *
    * NULL scores sort last on both engines (Spark DESC and DuckDB's
    * default are both NULLS LAST) and share the NULL bucket.
    *
    * @return df's kept rows plus `cum_cost` (inclusive running cost in
    *         rank order; max value <= budget by construction)
    */
  def budgetSelect(df: org.apache.spark.sql.DataFrame, idCol: String,
      costCol: String, scoreCol: String, budget: Long,
      bucketWidth: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(budget > 0, "budget must be > 0")
    require(bucketWidth > 0, "bucketWidth must be > 0")
    import org.apache.spark.sql.expressions.Window
    // NaN/Infinity route around the floor-cast (ANSI would throw) to
    // the buckets matching Spark's sort order — NaN and +Inf are the
    // LARGEST doubles under `desc`, -Inf the smallest non-null — so
    // the bucketed prefix sum still equals the naive global window on
    // any double input. Finite scores with |score/width| beyond Long
    // range remain an ANSI error by design (they indicate a broken
    // score, not a corpus).
    val sc = col(scoreCol).cast("double")
    val bucketed = df.withColumn("__bkt",
      when(isnan(sc) || sc === lit(Double.PositiveInfinity),
          lit(Long.MaxValue))
        .when(sc === lit(Double.NegativeInfinity), lit(Long.MinValue))
        .otherwise(floor(sc / bucketWidth).cast("long")))
    val offsets = bucketed.groupBy("__bkt")
      .agg(sum(col(costCol).cast("long")).as("__n"))
      .withColumn("__offset",
        coalesce(sum("__n").over(Window.orderBy(col("__bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bkt"), col("__offset"))
    val w = Window.partitionBy("__bkt")
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("__run", sum(col(costCol).cast("long")).over(w))
      // null-safe key: the NULL-score bucket must meet its offset row,
      // not silently drop out of an equi-join
      .join(broadcast(offsets.withColumnRenamed("__bkt", "__obkt")),
        col("__bkt") <=> col("__obkt"))
      .withColumn("cum_cost", col("__offset") + col("__run"))
      .where(col("cum_cost") <= budget)
      .drop("__bkt", "__obkt", "__offset", "__run")
  }

  /** Temperature-flattened corpus mixing (the size^alpha resampling of
    * multilingual/multi-source LLM training recipes, alpha = 1/2):
    * per-source keep rates proportional to sqrt(size)/size, so
    * over-represented sources are damped and rare sources surface,
    * targeting ~`budgetRows` total. All rate arithmetic is INTEGER —
    * an exact isqrt weight (floor-of-sqrt with boundary correction),
    * an exact integer sum, one truncating integer division to ppm —
    * so any engine derives the identical rates from the identical
    * counts; membership is then [[stratifiedKeep]]'s salted-hash
    * predicate, with a NULL source treated as its own stratum. Only
    * the per-source count table reaches the driver.
    *
    * @return df's rows surviving the temperature-weighted keep
    */
  def temperatureMix(df: org.apache.spark.sql.DataFrame, keyCol: String,
      sourceCol: String, budgetRows: Long)
      : org.apache.spark.sql.DataFrame = {
    require(budgetRows > 0, "budgetRows must be > 0")
    def isqrt(n: Long): Long = {
      val f = math.floor(math.sqrt(n.toDouble)).toLong
      if (f * f > n) f - 1
      else if ((f + 1) * (f + 1) <= n) f + 1
      else f
    }
    val counts: Seq[(Option[String], Long)] = df.groupBy(sourceCol)
      .agg(count(lit(1)).as("n")).collect().toSeq
      .map(r => Option(r.get(0)).map(_.toString) -> r.getLong(1))
    val totalW = counts.map { case (_, n) => isqrt(n) }.sum
    def rate(n: Long): Long = math.min(Buckets,
      1000000L * budgetRows * isqrt(n) / (totalW * n))
    val named = counts.collect { case (Some(src), n) => src -> rate(n) }
      .toMap
    val keep = stratifiedKeep(col(keyCol), col(sourceCol), named,
      defaultPpm = 0L)
    // a NULL source is a real stratum (un-attributed crawl shards are
    // routine): it gets its own sqrt-damped rate like any other, not
    // stratifiedKeep's default-drop (and not the NPE the old
    // .toString count map hit)
    counts.collectFirst { case (None, n) => n } match {
      case Some(n) => df.where(
        when(col(sourceCol).isNull,
          saltedBucket(col(keyCol), SampleSalt) < lit(rate(n)))
          .otherwise(keep))
      case None => df.where(keep)
    }
  }

  /** Exact per-stratum quotas: each stratum's `quota` rows with the
    * SMALLEST [[SampleSalt]]-salted bucket (ties by key desc) — the
    * complement of [[stratifiedKeep]]: rate-based keep needs no
    * shuffle but delivers binomial counts; this guarantees exact
    * counts (a fixed eval set per language, a capped head per
    * domain) at the cost of one top-k. Selection is hash-ordered, so
    * growing the corpus only ever SWAPS members in deterministically —
    * reruns and engines agree row for row.
    *
    * Scale shape: the head reuses [[Skew.topKPerGroup]]
    * (salted two-phase, O(rows/salts) buffers per hot stratum), then
    * one equi-join restores the full-width rows — only (stratum, key,
    * rank) ever shuffles for the selection itself. The restore join
    * is NULL-SAFE on the stratum: a NULL stratum is a real group to
    * the window head (un-tagged language, missing domain), and a
    * plain equi-join would silently drop exactly that group's picks
    * after the head counted them against its quota.
    *
    * @return df's rows of the selected sample, plus `rank` (1..quota
    *   within stratum)
    */
  /** Systematic probability-proportional-to-size sampling per group —
    * deterministic and integer-exact, where the classic A-ES
    * exponential-keys scheme would hang row selection on last-ulp
    * float ordering. Lay the group's integer weights end to end on a
    * line of length W (the group's weight sum) under the `orderCols`
    * ordering, place k equally-spaced marks: row i receives
    * `floor(c_i*k/W) - floor(c_{i-1}*k/W)` copies (c_i the inclusive
    * prefix sum). Properties, all exact: every group emits EXACTLY k
    * copies in total, expected copies are proportional to weight, and
    * any row with w_i >= W/k is guaranteed >= 1 copy. All arithmetic
    * is decimal(38,0) (caller keeps W*k < 1e38) — replayable by any
    * HUGEINT/decimal SQL engine, bit-free of RNG and floats.
    *
    * Rows with non-positive weight are excluded. Scale shape: one
    * per-group ordered window (prefix sum) — the [[graft.operators
    * .Events.sessionize]] family; apply the time/range-bucketed
    * two-phase technique for hot groups the same way.
    *
    * @return sampled rows (copies >= 1) with a `copies` multiplicity
    */
  /** Single-pass weighted PRIORITY sampling without replacement
    * (Duffield–Lund–Thorup), deterministic and RNG-free — the
    * distinct-rows complement to [[systematicWeighted]]'s
    * exactly-k-copies systematic draw: here each row appears at most
    * once, heavier rows are more likely to be among the k kept, and
    * the same input always yields the same sample on any engine.
    *
    * Priorities: with u_i the row's md5-60 hash (value-independent,
    * ':ps'-salted, +1 so it is never zero) the DLT priority is
    * w_i / u_i; keeping the k LARGEST priorities is keeping the k
    * smallest keys u_i / w_i. The key is ONE double division — a
    * single exactly-rounded IEEE op, so Spark and a SQL oracle
    * compute bit-identical keys and agree on the sample even where
    * the double rounding perturbs the true rational order by an ulp
    * (a different-but-identical-everywhere sample, statistically
    * indistinguishable; contrast the A-ES u^(1/w) key, whose pow/log
    * differ across math libraries — the reason [[systematicWeighted]]
    * documents refusing that scheme).
    *
    * Scale shape: the `rank <= k` filter is the WindowGroupLimit
    * pattern ([[graft.operators.Quantiles]]'s plan pin) — map tasks
    * forward at most k rows per group before the exchange. Weights
    * must be positive; non-positive rows are excluded (never
    * sampled). Integral weight types are NOT required here (the
    * double key handles fractional mass), matching DLT.
    *
    * @return sampled rows plus `rank` (1..k by descending priority)
    */
  def prioritySample(df: org.apache.spark.sql.DataFrame,
      groupCol: String, weightCol: String, idCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    // full 60-bit hash via the ONE engine-wide idiom (Sketches.h60,
    // not the 1e6-bucket form): priority resolution; the long->double
    // cast rounds past 2^53 identically in any engine
    val u = (Sketches.h60(concat(col(idCol).cast("string"),
        lit(":ps"))) + 1L)
      .cast("double")
    val key = (u / col(weightCol).cast("double")).as("__key")
    val w = Window.partitionBy(groupCol)
      .orderBy(col("__key").asc, col(idCol).asc)
    df.where(col(weightCol) > 0)
      .withColumn("__key", key)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .drop("__key")
  }

  def systematicWeighted(df: org.apache.spark.sql.DataFrame,
      groupCol: String, weightCol: String, k: Int,
      orderCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(orderCols.nonEmpty, "orderCols must totally order a group")
    // The integer-weight contract is enforced, not just documented:
    // a fractional weight (e.g. 0.9) would pass the `> 0` filter and
    // then truncate to 0 in the decimal(38,0) cast, silently dropping
    // the row's copies AND its mass from the group total W. Refuse
    // non-integral weight column types up front.
    locally {
      import org.apache.spark.sql.types._
      val dt = df.schema(weightCol).dataType
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType => d.scale == 0
        case _ => false
      }
      require(integral, s"systematicWeighted requires an integral " +
        s"weight column; '$weightCol' is $dt — round or rescale " +
        s"weights to integers (e.g. millis of mass) before sampling")
    }
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCol)
      .orderBy(orderCols.map(col): _*)
    val wAll = Window.partitionBy(groupCol)
    def fdiv(x: Column, d: Column): Column =
      ((x - pmod(x, d)) / d).cast("long")
    val dec = col(weightCol).cast("decimal(38,0)")
    df.where(col(weightCol) > 0)
      .withColumn("__c", sum(dec).over(wOrd))
      .withColumn("__W", sum(dec).over(wAll))
      .withColumn("copies",
        fdiv(col("__c") * k, col("__W")) -
          fdiv((col("__c") - dec) * k, col("__W")))
      .where(col("copies") >= 1)
      .drop("__c", "__W")
  }

  def quotaSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
      stratumCol: String, quota: Int)
      : org.apache.spark.sql.DataFrame = {
    val slim = df.select(col(stratumCol), col(keyCol))
      .withColumn("nb", -saltedBucket(col(keyCol), SampleSalt))
    val picked = Skew.topKPerGroup(slim, Seq(stratumCol),
        Seq("nb", keyCol), quota)
      .select(col(stratumCol).as("__qs_stratum"),
        col(keyCol).as("__qs_key"), col("rank"))
    val rest = df.columns.toSeq
      .filterNot(c => c == stratumCol || c == keyCol)
    df.join(picked,
        col(stratumCol) <=> col("__qs_stratum") &&
          col(keyCol) === col("__qs_key"))
      .select((Seq(stratumCol, keyCol) ++ rest).map(col) :+
        col("rank"): _*)
  }

  /** Deterministic negative sampling for recommender/contrastive
    * training: for every user appearing in `interactions`, the `k`
    * pool items that user has NOT interacted with, selected by the
    * largest ':neg'-salted hash of (user, item) — reproducible
    * pseudo-random negatives on any engine, stable across runs,
    * partitionings, and cluster sizes (`rand()` negatives are none of
    * those).
    *
    * Scale shape: the candidate space is |users| x |pool| with the
    * pool BROADCAST — the pool is the caller's lever, and production
    * negative samplers bound it the same way (a popularity head or
    * stratified pool of thousands, not the full catalog). That contract
    * is ENFORCED, not just documented (the [[graft.operators.Curation]]
    * `rankBounds` refuse-guard pattern): the distinct pool is
    * COLLECTED at construction time — an eager action, noted — with a
    * `limit(maxPool + 1)` bound, so the guard and the broadcast share
    * ONE computation of the pool (ADVICE r11: count-then-broadcast
    * computed it twice) and an oversized pool stops at the limit
    * instead of materializing the full catalog before refusing with a
    * pointer to the bounded alternative. The interaction anti-join
    * shuffles (user, item) keys only; the per-user head reuses
    * [[Skew.topKPerGroup]].
    *
    * @return (userCol, rank 1..k, itemCol)
    */
  def negativeSample(interactions: org.apache.spark.sql.DataFrame,
      userCol: String, itemCol: String,
      pool: org.apache.spark.sql.DataFrame, k: Int,
      maxPool: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val poolIds = pool.select(col(itemCol)).distinct()
    val bound = math.min(maxPool, Int.MaxValue - 1L).toInt
    val poolRows = poolIds.limit(bound + 1).collect()
    require(poolRows.length <= bound,
      s"negative-sampling pool has more than " +
        s"maxPool=$maxPool distinct items; the users x pool candidate " +
        "space is only safe for a bounded pool (popularity head / " +
        "stratified candidate set). Shrink the pool, raise maxPool " +
        "deliberately, or use hardNegativesAnn for similarity-ranked " +
        "negatives against an unbounded catalog")
    val poolLocal = interactions.sparkSession.createDataFrame(
      java.util.Arrays.asList(poolRows: _*), poolIds.schema)
    val users = interactions.select(col(userCol)).distinct()
    val cand = users
      .crossJoin(org.apache.spark.sql.functions.broadcast(poolLocal))
      .withColumn("h", hashBucket(concat(
        col(userCol).cast("string"), lit(":"),
        col(itemCol).cast("string"), lit(":neg"))))
    val fresh = cand.join(
      interactions.select(col(userCol), col(itemCol)).distinct(),
      Seq(userCol, itemCol), "left_anti")
    Skew.topKPerGroup(fresh, Seq(userCol),
        Seq("h", itemCol), k)
      .select(col(userCol), col("rank"), col(itemCol))
  }

  /** Hard-negative mining — the contrastive-training upgrade of
    * [[negativeSample]]: instead of hash-random negatives, each
    * user's top-`k` MOST SIMILAR non-interacted pool items by
    * embedding cosine (the negatives that actually teach a ranker
    * something). Scores round to 6 places BEFORE ranking (ties by
    * item id), the [[graft.operators.Ann]] determinism recipe, so
    * membership and order are engine-exact.
    *
    * Scale shape: the pool and its vectors BROADCAST (production
    * miners bound the pool the same way — a popularity head or
    * stratified candidate set, not the full catalog); the user side
    * streams one row per (user x pool item) through a codegen'd
    * cosine projection, positives leave via a key-only anti-join,
    * and the per-user head reuses [[Skew.topKPerGroup]].
    * Nothing corpus-sized ever shuffles with vectors attached except
    * the user's own single vector row. As in [[negativeSample]], the
    * bounded-pool contract is enforced by ONE construction-time
    * collect (eager, noted; limit-bounded so an oversized catalog
    * stops early) that both guards the size and feeds the broadcast —
    * refusal points at [[hardNegativesAnn]], the unbounded-catalog
    * path.
    *
    * @param userVecs (userCol, vecCol) — one embedding per user
    * @param itemVecs (itemCol, vecCol) — one embedding per pool item
    * @return (userCol, rank 1..k, itemCol, cosine)
    */
  def hardNegatives(interactions: org.apache.spark.sql.DataFrame,
      userCol: String, itemCol: String,
      userVecs: org.apache.spark.sql.DataFrame,
      itemVecs: org.apache.spark.sql.DataFrame, k: Int,
      vecCol: String = "embedding", maxPool: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.{VectorFunctions => V}
    val pool = itemVecs.select(col(itemCol),
      V.toDouble(col(vecCol)).as("__iv"))
    val bound = math.min(maxPool, Int.MaxValue - 1L).toInt
    val poolRows = pool.limit(bound + 1).collect()
    require(poolRows.length <= bound,
      s"hard-negative pool has more than maxPool=$maxPool items; the " +
        "broadcast users x pool cosine scan is only safe for a " +
        "bounded pool. Shrink the pool, raise maxPool deliberately, " +
        "or use hardNegativesAnn (IVF candidate generation) for an " +
        "unbounded catalog")
    val poolLocal = interactions.sparkSession.createDataFrame(
      java.util.Arrays.asList(poolRows: _*), pool.schema)
    val users = interactions.select(col(userCol)).distinct()
      .join(userVecs.select(col(userCol),
        V.toDouble(col(vecCol)).as("__uv")), Seq(userCol))
    val scored = users
      .crossJoin(org.apache.spark.sql.functions.broadcast(poolLocal))
      .select(col(userCol), col(itemCol),
        round(V.cosine(col("__uv"), col("__iv")), 6).as("cosine"))
    val fresh = scored.join(
      interactions.select(col(userCol), col(itemCol)).distinct(),
      Seq(userCol, itemCol), "left_anti")
    Skew.topKPerGroup(fresh, Seq(userCol),
        Seq("cosine", itemCol), k)
      .select(col(userCol), col("rank"), col(itemCol), col("cosine"))
  }

  /** Hard-negative mining against an UNBOUNDED catalog — the scale
    * path [[hardNegatives]]' refuse-guard points at. Instead of
    * broadcasting the whole pool and scoring |users| x |pool|
    * cosines, candidate generation goes through
    * [[graft.operators.Ann.ivfTopK]]: the catalog partitions into
    * `nCells` Voronoi cells (one shuffle on the cell key), each user
    * probes its `nProbe` nearest cells, and exact cosine re-ranks only
    * those cells' members — candidates per user are nProbe/nCells of
    * the catalog, never all of it, and nothing is required to fit in
    * a broadcast.
    *
    * Each user OVERFETCHES `k + overfetch` nearest items, positives
    * leave via the key-only anti-join, and a per-user window re-ranks
    * the survivors 1..k with ivfTopK's own tie order (cosine desc,
    * item asc). Approximation contract, stated: a user with more than
    * `overfetch` positives inside their ANN head, or whose true hard
    * negatives hide in unprobed cells, can receive fewer than `k` rows
    * or miss a negative the exact scan would find — that is the
    * standard ANN recall trade, measured for this engine's IVF by
    * `q_ann_recall`. Determinism is unchanged: rounded-cosine scoring
    * and total tie orders make membership and rank engine-exact.
    *
    * @param userVecs (userCol, vecCol) — one embedding per user
    * @param itemVecs (itemCol, vecCol) — one embedding per catalog item
    * @param trainedCentroids optional k-means cells
    *   ([[graft.operators.Ann.trainIvfCentroids]]); default cells are
    *   the first `nCells` catalog vectors by item id
    * @return (userCol, rank 1..k, itemCol, cosine)
    */
  def hardNegativesAnn(interactions: org.apache.spark.sql.DataFrame,
      userCol: String, itemCol: String,
      userVecs: org.apache.spark.sql.DataFrame,
      itemVecs: org.apache.spark.sql.DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, overfetch: Int = 10,
      vecCol: String = "embedding",
      trainedCentroids: Option[Seq[Seq[Double]]] = None)
      : org.apache.spark.sql.DataFrame = {
    val users = interactions.select(col(userCol)).distinct()
      .join(userVecs.select(col(userCol), col(vecCol)), Seq(userCol))
    val cand = graft.operators.Ann.ivfTopK(
      users.select(col(userCol).as("query_id"), col(vecCol)),
      itemVecs.select(col(itemCol).as("vec_id"), col(vecCol)),
      k + overfetch, nCells, nProbe, vecCol = vecCol,
      trainedCentroids = trainedCentroids)
    val fresh = cand
      .select(col("query_id").as(userCol), col("vec_id").as(itemCol),
        col("cosine"))
      .join(interactions.select(col(userCol), col(itemCol)).distinct(),
        Seq(userCol, itemCol), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol)
      .orderBy(col("cosine").desc, col(itemCol).asc)
    fresh
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(userCol), col("rank"), col(itemCol), col("cosine"))
  }

  /** Leakage-safe dataset split: assignment hashes the dedup-GROUP
    * root, not the row id, so near-duplicate documents can never
    * straddle train/test (the classic eval-contamination bug a plain
    * per-row split commits whenever the corpus still contains near-dup
    * twins). `groups` is [[Dedup.dedupGroups]]' (id, comp) output —
    * rows absent from it (no near-dup edge) key by their own id. One
    * equi-join (AQE picks broadcast when the grouped subset is small),
    * then the same codegen'd per-row hash projection as
    * [[assignSplit]].
    */
  def groupAwareSplit(df: org.apache.spark.sql.DataFrame, idCol: String,
      groups: org.apache.spark.sql.DataFrame,
      weights: Seq[(String, Long)]): org.apache.spark.sql.DataFrame =
    df.join(groups.select(col("id").as(idCol), col("comp")),
        Seq(idCol), "left_outer")
      .withColumn("split",
        assignSplit(coalesce(col("comp"), col(idCol)), weights))
      .drop("comp")

  /** Domain-mixture allocation under a token budget — the data-MIXING
    * step of assembling a training corpus from heterogeneous sources
    * (web / books / code / ...): given each source's available token
    * mass, a target mixing weight, a total token `budget`, and a
    * per-source repetition cap of `maxEpochs` passes over its data,
    * allocate the budget so achieved shares track the targets as
    * closely as the caps allow. Sources too small to carry their
    * target share cap at `maxEpochs x avail` and their shortfall
    * redistributes over the uncapped sources IN PROPORTION TO THEIR
    * TARGETS — classic water-filling, solved here in CLOSED FORM
    * (no iteration): with fill rate lambda (allocated tokens per unit
    * target weight), alloc_i = min(cap_i, lambda * t_i); sorting
    * sources by r_i = cap_i / t_i ascending makes the capped set a
    * prefix, and lambda* falls out of running sums.
    *
    * Proof shape the implementation leans on: scanning in r-order
    * with lambda_k = (B - cum cap before k) / (T - cum target before
    * k), lambda is nonincreasing across an uncapped row and r is
    * nondecreasing, so once r_k >= lambda_k holds it holds for every
    * later row — the uncapped set is exactly the suffix from the
    * first such k, and that row's lambda_k IS lambda*. A row before
    * the boundary satisfies r_k < lambda_k and caps.
    *
    * Scale shape: one map-side-combinable groupBy collapses the corpus
    * to ONE ROW PER SOURCE; everything after — the sort window, the
    * running sums, the lambda* pick — runs on O(sources) rows
    * (hundreds, not billions), so the single-partition window is a
    * few KB on one reducer by construction, not an event-volume
    * window (cf. PlanRegressionSpec's per-key window rule). The
    * lambda* scalar rejoins via broadcast.
    *
    * @param docs      corpus; one row per document
    * @param sourceCol domain/source column
    * @param weightCol per-document token mass (token count, chars, ...)
    * @param targets   (sourceCol, `target_w`) mixing weights, any
    *                  positive scale (normalized internally);
    *                  duplicate source rows SUM, negative weights
    *                  error at runtime; sources absent here get
    *                  weight 0 (allocated nothing), sources absent in
    *                  `docs` get avail 0
    * @param budget    total token budget to allocate
    * @param maxEpochs repetition cap: alloc_i <= maxEpochs * avail_i.
    *                  If budget > sum of caps, every source caps and
    *                  the budget is reported unmet (budget_met=false).
    * @return one row per source: avail_tokens, target_share,
    *         cap_tokens, alloc_tokens, epochs, achieved_share,
    *         budget_met — doubles rounded to 6 places
    */
  def mixtureAllocation(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, weightCol: String,
      targets: org.apache.spark.sql.DataFrame,
      budget: Double, maxEpochs: Double)
      : org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    allocCore(docs, sourceCol, weightCol, targets,
      _ => lit(budget), maxEpochs)
  }

  /** [[mixtureAllocation]] with the budget stated as a MULTIPLE of
    * the corpus's total token mass ("mix me 2 epochs' worth") —
    * derived INSIDE the plan from the same per-source aggregate the
    * allocation already computes, so no caller-side pre-scan of the
    * corpus is needed (round-16 review: the absolute-budget form
    * forced query builders into an eager full-corpus `agg().head()`
    * just to state "2x total").
    */
  def mixtureAllocationEpochs(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, weightCol: String,
      targets: org.apache.spark.sql.DataFrame,
      budgetEpochs: Double, maxEpochs: Double)
      : org.apache.spark.sql.DataFrame = {
    require(budgetEpochs > 0,
      s"budgetEpochs must be > 0, got $budgetEpochs")
    allocCore(docs, sourceCol, weightCol, targets,
      totalAvail => totalAvail * budgetEpochs, maxEpochs)
  }

  /** The closed-form water-filling (see [[mixtureAllocation]]'s
    * scaladoc for the algorithm and proof shape). `budgetOf` builds
    * the budget column from the total-available-tokens column, so the
    * budget can be a constant or a corpus-derived multiple without an
    * extra pass.
    */
  private def allocCore(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, weightCol: String,
      targets: org.apache.spark.sql.DataFrame,
      budgetOf: Column => Column, maxEpochs: Double)
      : org.apache.spark.sql.DataFrame = {
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val per = docs.groupBy(col(sourceCol))
      .agg(sum(col(weightCol)).cast("double").as("avail"))
    // duplicate target rows SUM (one row per source afterwards — a
    // stray duplicate would otherwise double the source's cap through
    // the join); negative weights are a caller bug that would poison
    // T and every share, so they error at runtime (round-16 review)
    val tgt = targets.groupBy(col(sourceCol))
      .agg(sum(col("target_w").cast("double")).as("target_w"))
      .withColumn("target_w", when(col("target_w") < 0,
          raise_error(concat(lit("mixtureAllocation: negative " +
            "target_w for source "), col(sourceCol).cast("string"))))
        .otherwise(col("target_w")))
    // NULL-SAFE join: a null source is a legitimate "unknown" domain
    // bucket — a plain equi-join would split it into two half-rows
    // (one with the avail, one with the target), double-counting its
    // target weight and stranding its tokens (bit on the skewed
    // synthetic seeds, which carry null-source documents)
    val j = per.as("p").join(tgt.as("g"),
        col(s"p.$sourceCol") <=> col(s"g.$sourceCol"), "full_outer")
      .select(
        coalesce(col(s"p.$sourceCol"), col(s"g.$sourceCol"))
          .as(sourceCol),
        coalesce(col("avail"), lit(0.0)).as("avail"),
        coalesce(col("target_w"), lit(0.0)).as("tw"))
      .withColumn("cap", col("avail") * maxEpochs)
    // O(sources) rows from here on — the single-partition window is
    // deliberate and safe (see scaladoc)
    // ANSI: the division must be when-guarded (double / 0.0 THROWS in
    // Spark 4, it does not yield Infinity); null r = zero-target rows
    // sort last, where they cannot perturb the boundary scan
    val rExpr = when(col("tw") > 0, col("cap") / col("tw"))
    val wOrd = Window.orderBy(rExpr.asc_nulls_last,
      col(sourceCol).asc_nulls_first)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val tot = j.agg(sum("tw").as("T"),
        coalesce(sum("avail"), lit(0.0)).as("__av"))
      .select(col("T"), budgetOf(col("__av")).as("B"))
    val s = j.crossJoin(broadcast(tot))
      .withColumn("r", rExpr)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cumcap_b", coalesce(sum("cap").over(wCum), lit(0.0)))
      .withColumn("cumtgt_b", coalesce(sum("tw").over(wCum), lit(0.0)))
      .withColumn("lam", when(col("T") - col("cumtgt_b") > 0,
        (col("B") - col("cumcap_b")) / (col("T") - col("cumtgt_b"))))
      .withColumn("flg",
        col("tw") > 0 && col("r") >= col("lam"))
    // lambda* = the boundary row's lambda (first flagged in r-order);
    // null when every positive-target source caps (budget infeasible)
    val lamStar = s.where(col("flg"))
      .agg(min(struct(col("rn"), col("lam"))).as("m"))
      .select(col("m").getField("lam").as("lamstar"))
    val a = s.crossJoin(broadcast(lamStar))
      .withColumn("alloc", when(col("tw") > 0,
          least(col("cap"),
            coalesce(col("lamstar"), lit(Double.MaxValue)) * col("tw")))
        .otherwise(lit(0.0)))
    val totals = a.agg(sum("alloc").as("A")).select(col("A"))
    a.crossJoin(broadcast(totals))
      .select(col(sourceCol),
        round(col("avail"), 6).as("avail_tokens"),
        round(when(col("T") > 0, col("tw") / col("T"))
          .otherwise(lit(0.0)), 6).as("target_share"),
        round(col("cap"), 6).as("cap_tokens"),
        round(col("alloc"), 6).as("alloc_tokens"),
        round(when(col("avail") > 0, col("alloc") / col("avail"))
          .otherwise(lit(0.0)), 6).as("epochs"),
        round(when(col("A") > 0, col("alloc") / col("A"))
          .otherwise(lit(0.0)), 6).as("achieved_share"),
        // RELATIVE tolerance (round-16 review): at token scales past
        // ~1e10 the ulp of B exceeds any absolute epsilon, and the
        // sum order of A differs between engines and runs — an
        // absolute 1e-6 made budget_met flip nondeterministically
        (col("A") >= col("B") -
          greatest(lit(1e-6), col("B") * lit(1e-9))).as("budget_met"))
  }

  /** Materialize a [[mixtureAllocation]]: emit each document once per
    * full epoch its source earned, plus one more copy for a
    * deterministic hash-sampled fraction of documents matching the
    * fractional epoch — so each source's expected emitted token mass
    * equals its allocation, reproducibly (the [[MixSalt]]-salted
    * bucket, independent of any upstream sample/split on the same
    * key). Fan-out per row is bounded by ceil(maxEpochs) — the
    * repetition cap is also the scale cap, so the explode cannot
    * amplify a 100 TB corpus by more than the configured epochs. The
    * per-source epochs rate joins back by BROADCAST (O(sources)
    * rows); no shuffle of the corpus at all — expansion is a pure
    * projection + bounded explode.
    *
    * Semantics pin: rates are the ROUNDED (6 dp) `epochs` from
    * [[mixtureAllocation]]'s output, so any engine reproducing that
    * table reproduces this expansion bit-for-bit.
    *
    * @return one row per emitted copy: (sourceCol, idCol, epoch
    *         1..n_copies)
    */
  def mixtureSample(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, weightCol: String, idCol: String,
      targets: org.apache.spark.sql.DataFrame,
      budget: Double, maxEpochs: Double)
      : org.apache.spark.sql.DataFrame =
    expandMixture(docs, sourceCol, idCol,
      mixtureAllocation(docs, sourceCol, weightCol, targets,
        budget, maxEpochs))

  /** [[mixtureSample]] with the budget as an epochs-multiple of the
    * corpus total ([[mixtureAllocationEpochs]]) — no caller-side
    * corpus pre-scan.
    */
  def mixtureSampleEpochs(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, weightCol: String, idCol: String,
      targets: org.apache.spark.sql.DataFrame,
      budgetEpochs: Double, maxEpochs: Double)
      : org.apache.spark.sql.DataFrame =
    expandMixture(docs, sourceCol, idCol,
      mixtureAllocationEpochs(docs, sourceCol, weightCol, targets,
        budgetEpochs, maxEpochs))

  private def expandMixture(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, idCol: String,
      alloc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // dunder-renamed rate column: a docs frame carrying its own
    // `epochs` column must not collide (round-16 review)
    val rates = alloc
      .select(col(sourceCol).as("__src"), col("epochs").as("__epochs"))
    val joined = docs.join(broadcast(rates),
      col(sourceCol) <=> col("__src"), "inner")
    val kCol = floor(col("__epochs")).cast("long")
    // fractional epoch as exact ppm of the 6-dp rate
    val fppm = round(
      (col("__epochs") - floor(col("__epochs"))) * Buckets, 0)
      .cast("long")
    val copies = kCol +
      when(saltedBucket(col(idCol), MixSalt) < fppm, 1L).otherwise(0L)
    joined
      .withColumn("__n", copies)
      .where(col("__n") > 0)
      .select(col(sourceCol), col(idCol),
        explode(sequence(lit(1L), col("__n"))).as("epoch"))
  }
}
