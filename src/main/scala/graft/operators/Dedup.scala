package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Deduplication operators for training-data pipelines, designed around
  * one invariant: NO all-pairs comparison ever happens. Every
  * approximate method is candidate-generation-by-bucketing (shuffle on a
  * short key) followed by exact verification within buckets — the only
  * shape that survives 100 TB. Skew guard: buckets larger than
  * `maxBucket` are dropped (a bucket that big means a degenerate key,
  * e.g. empty text, not a real near-dup cluster).
  */
object Dedup {

  /** Exact dedup by content fingerprint (hash-groupBy). Returns
    * (idCol, fingerprint, keeper) where keeper is the minimum id sharing
    * the fingerprint — rows with `idCol != keeper` are the duplicates.
    * One shuffle on a 128-bit key; map-side partial agg applies.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
    val keepers = fp.groupBy("fp").agg(min(idCol).as("keeper"))
    fp.join(keepers, "fp")
  }

  /** Exact dedup with multiplicity weights — "dedup but keep the
    * counts" (duplicate-aware loss re-weighting: train on deduplicated
    * text while weighting each kept document by how many raw copies it
    * stood for, so dedup does not silently reshape the training
    * distribution). One row per distinct content: the minimum id as
    * keeper plus the copy count. Same 128-bit fingerprint key as
    * [[exact]], ONE map-side-combinable shuffle, and both aggregates
    * ride the same grouping — strictly cheaper than running [[exact]]
    * and re-counting.
    *
    * @return (idCol = keeper min id, fp, weight = number of copies)
    */
  def exactWeighted(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as(idCol), count(lit(1)).as("weight"))
      .select(col(idCol), col("fp"), col("weight"))

  /** Incremental exact dedup: the daily-ingest shape. Drops batch rows
    * whose content fingerprint ALREADY EXISTS in the corpus, then
    * self-dedups the batch (min id per fingerprint), returning the
    * rows that genuinely extend the corpus.
    *
    * Scale shape: the corpus contributes ONLY its distinct 128-bit
    * fingerprint set — never payloads — so the anti-join shuffles
    * 16-byte keys; in steady state the fingerprint set is a
    * precomputed table maintained alongside the corpus and the whole
    * pass costs one scan of the (small) batch plus the key-only
    * anti-join. Both aggregates are map-side combinable.
    *
    * @return surviving batch rows as (idCol, fp)
    */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val batchFp = batch.select(col(idCol),
      T.fingerprint(col(textCol)).as("fp"))
    val corpusFp = corpus.select(T.fingerprint(col(textCol)).as("fp"))
      .distinct()
    batchFp.join(corpusFp, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(idCol).as(idCol))
      .select(col(idCol), col("fp"))
  }

  /** [[dedupAgainst]] with a Bloom prefilter — the 100 TB shape of
    * incremental exact dedup. The corpus fingerprint set is folded
    * once into a Bloom filter (a distributed aggregation; only the
    * compact bit array reaches the driver), the batch probes it with a
    * codegen'd scan-side predicate, and ONLY probe-positive rows — the
    * true duplicates plus an `fpp` fraction of false positives — enter
    * the exact anti-join. Bloom-negative rows are PROVABLY absent from
    * the corpus (no false negatives), so they skip the join entirely:
    * for a mostly-fresh daily batch the anti-join shuffles ~fpp of the
    * batch instead of all of it, and correctness never depends on the
    * filter (positives are re-verified exactly).
    *
    * Result is exactly [[dedupAgainst]]'s, at any `fpp` (differential-
    * tested at fpp 0.5). Size `expectedItems` to the corpus distinct-
    * fingerprint count: bits ~ 1.44 * log2(1/fpp) * items, e.g. 10^9
    * fingerprints at 3% fpp ~ 900 MB — driver-held and task-broadcast,
    * so beyond ~10^10 keys partition the corpus and run one
    * bloom+anti-join pass per partition instead.
    *
    * @return surviving batch rows as (idCol, fp)
    */
  def dedupAgainstBloom(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, expectedItems: Long,
      fpp: Double = 0.03): DataFrame = {
    val batchFp = batch.select(col(idCol),
      T.fingerprint(col(textCol)).as("fp"))
    val corpusFp = corpus.select(T.fingerprint(col(textCol)).as("fp"))
      .distinct()
    val bloom = corpusFp.stat.bloomFilter("fp", expectedItems, fpp)
    val hit = H.bloomMightContain(col("fp"), bloom)
    // two scans of the (small) batch, not of the corpus: candidates
    // go through the exact anti-join, provable-fresh rows bypass it
    val candidates = batchFp.where(hit)
    val fresh = candidates.join(corpusFp, Seq("fp"), "left_anti")
      .unionByName(batchFp.where(!hit))
    fresh.groupBy("fp").agg(min(idCol).as(idCol))
      .select(col(idCol), col("fp"))
  }

  /** MinHash+LSH near-dup candidate pairs, exact-Jaccard verified.
    *
    * shingle -> minhash signature -> band keys -> explode bands ->
    * NARROW self-join per bucket (id_a < id_b) -> distinct pair ->
    * late-fetch shingle arrays for candidate ids only -> verify
    * Jaccard(shingles_a, shingles_b) >= threshold.
    *
    * Scale shape: everything that shuffles by band key is (band, id) —
    * two longs — never the shingle arrays (carrying them through the
    * band explode multiplies shuffle bytes by `bands` and dominated the
    * sf0.1 runtime 19x). Arrays re-enter only for the candidate-id set,
    * which the skew guard keeps small, via a broadcast semi-filter.
    * Signature params (numHashes=32, bands=8 -> r=4) put the S-curve
    * knee near j~0.5.
    *
    * @param cache storage level for the shingled and banded subtrees,
    *   which the plan otherwise recomputes 3-4x (the bucket census and
    *   both self-join sides re-derive them; see PLANS.md). Pass
    *   `Some(MEMORY_AND_DISK)` when shingling the corpus costs more than
    *   caching it; the cached blocks stay owned by this plan and age out
    *   LRU after the caller materializes the result.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      cache: Option[StorageLevel] = None): DataFrame = {
    val (shingled, banded) = minhashBandedStage(df, idCol, textCol,
      shingleWidth, numHashes, bands, cache)
    // Skew guard: degenerate buckets out.
    val counts = banded.groupBy("band").count()
      .where(col("count") <= maxBucket && col("count") > 1)
    val inBuckets = banded.join(counts.select("band"), "band")
    val pairIds = inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val candIds = pairIds
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candShingles = shingled.join(broadcast(candIds), "id")
    def side(n: String) = candShingles
      .select(col("id").as(n), col("shingles").as(s"sh_$n"))
    pairIds
      .join(side("id_a"), "id_a").join(side("id_b"), "id_b")
      .withColumn("jaccard", H.jaccard(col("sh_id_a"), col("sh_id_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shingle + minhash-band stage shared by [[minhashNearDups]] and
    * [[minhashSkewCensus]] — one source of truth for the band key.
    * Returns (shingled (id, shingles), banded (id, band)). No
    * array_distinct: minhash minima and jaccard (which dedups
    * internally) are both duplicate-insensitive.
    */
  private def minhashBandedStage(df: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int, numHashes: Int, bands: Int,
      cache: Option[StorageLevel]): (DataFrame, DataFrame) = {
    val rpb = numHashes / bands
    def cached(d: DataFrame): DataFrame = cache.fold(d)(d.persist)
    val shingled = cached(df.select(
      col(idCol).as("id"),
      H.wordShingles(T.tokens(col(textCol)), shingleWidth).as("shingles")))
    val banded = cached(shingled.select(
      col("id"),
      explode(H.bandKeys(H.minhashSignature(col("shingles"), numHashes),
        bands, rpb)).as("band")))
    (shingled, banded)
  }

  /** Skew census for [[minhashNearDups]] (VERDICT r10 item 3: no
    * silent caps): the band buckets larger than `maxBucket`, inside
    * which the skew guard suppressed candidate generation. An
    * oversized bucket does not exclude its rows outright — a pair can
    * still collide in one of the other `bands - 1` buckets — so `rows`
    * measures lost coverage in that band, not rows guaranteed
    * undeduped. Same parameters as the operator, one narrow aggregate
    * on the band key.
    *
    * @return (band, rows) — oversized band-bucket key and population
    */
  def minhashSkewCensus(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    minhashBandedStage(df, idCol, textCol, shingleWidth, numHashes,
        bands, cache = None)._2
      .groupBy("band").count().where(col("count") > maxBucket)
      .select(col("band"), col("count").as("rows"))

  /** Duplicate-PASSAGE detection via winnowed fingerprints (MOSS
    * selection): flags document pairs sharing verbatim passages even
    * when the documents as wholes are dissimilar — the boilerplate /
    * quotation / template case whole-document minhash misses, and the
    * relational stand-in for suffix-array substring dedup at corpus
    * scale. Any shared run of >= window + n - 1 tokens guarantees a
    * shared fingerprint; `minShared` sets the evidence floor.
    *
    * Scale shape: identical to minhash — per-document fingerprinting
    * is a codegen'd O(tokens) projection selecting ~2/(window+1) of
    * shingle hashes; everything that shuffles is (fingerprint, id) —
    * two longs — with the same degenerate-bucket skew guard, and the
    * pair count is a map-side-combinable aggregate.
    *
    * @return (id_a, id_b, shared) — pairs sharing >= minShared
    *   selected fingerprints, id_a < id_b
    */
  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, window: Int = 4, minShared: Int = 2,
      maxBucket: Int = 1000,
      cache: Option[StorageLevel] = None): DataFrame = {
    val fps0 = df.select(col(idCol).as("id"),
      explode(H.winnowedFingerprints(T.tokens(col(textCol)), n, window))
        .as("fp"))
    val fps = cache.fold(fps0)(fps0.persist)
    val counts = fps.groupBy("fp").count()
      .where(col("count") <= maxBucket && col("count") > 1)
    val inBuckets = fps.join(counts.select("fp"), "fp")
    inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Incremental NEAR-dup: flag batch rows whose minhash bands collide
    * with the CORPUS — the fuzzy twin of [[dedupAgainst]], and the pass
    * a daily-ingest pipeline actually needs (re-crawls differ by
    * boilerplate, never byte-identically). Candidate generation is a
    * cross-frame band join (batch bands x corpus bands, never a
    * self-join), verified by exact Jaccard on late-fetched shingles.
    *
    * Scale shape: both sides shuffle only (band, id) short keys; in
    * steady state the corpus's banded signatures are a precomputed
    * table maintained alongside it, so a batch costs its own sketch
    * plus one key join. Skew guard drops degenerate CORPUS buckets
    * (empty-template keys); candidate ids broadcast back for the
    * payload fetch exactly as in [[minhashNearDups]].
    *
    * @param cache storage level for the shingled/banded subtrees, which
    *   the plan otherwise recomputes 2-3x (corpus bands feed the census
    *   and the join; both shingle frames feed banding and the payload
    *   fetch) — the same knob, for the same reason, as
    *   [[minhashNearDups]]
    * @return (batch_id, corpus_id, jaccard) pairs at or above
    *   `threshold`; anti-join the batch against distinct batch_id to
    *   keep only genuinely new content
    */
  def minhashNearDupsAgainst(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleWidth: Int = 3,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 1000,
      cache: Option[StorageLevel] = None): DataFrame = {
    val rpb = numHashes / bands
    def cached(d: DataFrame): DataFrame = cache.fold(d)(d.persist)
    def shingle(df: DataFrame) = cached(df.select(
      col(idCol).as("id"),
      H.wordShingles(T.tokens(col(textCol)), shingleWidth).as("shingles")))
    def band(sh: DataFrame) = cached(sh.select(
      col("id"),
      explode(H.bandKeys(H.minhashSignature(col("shingles"), numHashes),
        bands, rpb)).as("band")))
    val bSh = shingle(batch)
    val cSh = shingle(corpus)
    val cBand = band(cSh)
    val ok = cBand.groupBy("band").count()
      .where(col("count") <= maxBucket).select("band")
    val pairIds = band(bSh)
      .join(cBand.join(ok, "band")
        .select(col("band"), col("id").as("corpus_id")), "band")
      .select(col("id").as("batch_id"), col("corpus_id"))
      .distinct()
    val bCand = bSh.join(broadcast(
      pairIds.select(col("batch_id").as("id")).distinct()), "id")
      .select(col("id").as("batch_id"), col("shingles").as("sh_b"))
    val cCand = cSh.join(broadcast(
      pairIds.select(col("corpus_id").as("id")).distinct()), "id")
      .select(col("id").as("corpus_id"), col("shingles").as("sh_c"))
    pairIds
      .join(bCand, "batch_id").join(cCand, "corpus_id")
      .withColumn("jaccard", H.jaccard(col("sh_b"), col("sh_c")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Persist a corpus's MinHash banded signatures as a parquet INDEX —
    * the steady-state upgrade both [[minhashNearDupsAgainst]] and this
    * file's scale notes assume ("in steady state the corpus's banded
    * signatures are a precomputed table"): sketch the corpus ONCE,
    * store only the narrow (band, id) rows, and every later ingest
    * batch probes the stored index instead of re-sketching 100 TB of
    * text. `append = true` is the maintenance op — after a batch is
    * accepted into the corpus, append its signatures so tomorrow's
    * batch dedups against it too (signatures are per-document, so
    * append IS the correct incremental index update; no rebuild).
    *
    * Storage cost: `bands` longs + an id per document — vanishing next
    * to the text. Shingles are deliberately NOT stored: verification
    * re-shingles only the candidate ids (the late-payload-fetch
    * pattern), which beats persisting a shingle column larger than the
    * corpus itself.
    */
  def minhashIndexWrite(corpus: DataFrame, idCol: String,
      textCol: String, indexDir: String, shingleWidth: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      append: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val existing = if (append) readIndexParams(spark, indexDir) else None
    existing.foreach { p =>
      require(p == ((shingleWidth, numHashes, bands)),
        s"minhashIndexWrite(append): index at $indexDir was built with " +
        s"(shingleWidth, numHashes, bands) = $p but this append uses " +
        s"(${shingleWidth}, ${numHashes}, ${bands}) — mixed-parameter " +
        "signatures would silently never collide")
    }
    minhashBandedStage(corpus, idCol, textCol, shingleWidth, numHashes,
        bands, cache = None)._2
      .write.mode(if (append) "append" else "overwrite")
      .parquet(indexDir)
    // An append to a PRE-sidecar index must not stamp one (ADVICE r12):
    // the appender's parameters would retroactively assert params the
    // original build may not have used — refusing later probes that use
    // the true originals and legitimizing this append if IT was the
    // mismatched one. Pre-sidecar indexes stay caller-owned.
    if (!append || existing.isDefined)
      writeIndexParams(spark, indexDir, shingleWidth, numHashes, bands)
  }

  /** Sidecar recording the sketch parameters an index was built with —
    * probing (or appending) with different parameters produces band
    * keys that silently never collide, so the contract is enforced by
    * `require`, not documentation (ADVICE r11). Underscore-prefixed so
    * parquet directory listing ignores it, like `_SUCCESS`.
    */
  private val IndexParamsFile = "_graft_minhash_params.json"

  private def indexFs(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeIndexParams(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, shingleWidth: Int, numHashes: Int,
      bands: Int): Unit = {
    val f = indexFs(spark, indexDir)
    val out = f.create(
      new org.apache.hadoop.fs.Path(indexDir, IndexParamsFile), true)
    try out.write(
      (s"""{"shingleWidth":$shingleWidth,"numHashes":$numHashes,""" +
       s""""bands":$bands}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** (shingleWidth, numHashes, bands) recorded for the index, or None
    * for a pre-sidecar index.
    */
  private def readIndexParams(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[(Int, Int, Int)] = {
    val f = indexFs(spark, indexDir)
    val p = new org.apache.hadoop.fs.Path(indexDir, IndexParamsFile)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def field(n: String): Int =
        s""""$n"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(
            s"minhash index sidecar $p is corrupt: missing $n in: $txt"))
      Some((field("shingleWidth"), field("numHashes"), field("bands")))
    }
  }

  /** Compact a persisted minhash index ([[minhashIndexWrite]]): drop
    * signatures of ids the corpus no longer contains (documents deleted
    * or re-keyed since their append) and collapse re-appended duplicate
    * (band, id) rows. Append-only maintenance grows the index and its
    * file count forever; compaction is the amortized counterweight,
    * exactly as [[graft.io.StateTable.compact]] is for the version
    * chain (VERDICT r11 item 4).
    *
    * One hash shuffle on id (left-semi against the corpus's distinct
    * ids) plus one on (band, id) for the dedup — both over narrow
    * (band, id) longs, never text. The swap is rename-aside (ADVICE
    * r12): the compacted rows are fully written to a sibling tmp dir,
    * the live index is renamed aside, tmp is renamed into place, and
    * only then is the old dir deleted — so no failure point destroys
    * the index (a failed second rename leaves the full old index in
    * `<dir>__old`; recover by renaming it back). This is two renames,
    * not one atomic op: a probe racing the swap can momentarily see a
    * missing directory, so readers are excluded during compaction —
    * single-sequential-writer AND no concurrent probes, like
    * StateTable. The params sidecar (absent from the freshly-written
    * tmp) is re-written after the swap.
    *
    * @return (rows_before, rows_after)
    */
  def minhashIndexCompact(corpus: DataFrame, idCol: String,
      indexDir: String): (Long, Long) = {
    val spark = corpus.sparkSession
    val params = readIndexParams(spark, indexDir)
    val before = spark.read.parquet(indexDir).count()
    val compacted = spark.read.parquet(indexDir)
      .join(corpus.select(col(idCol).as("id")).distinct(),
        Seq("id"), "left_semi")
      .dropDuplicates("band", "id")
    val tmp = indexDir.stripSuffix("/") + "__compacting"
    compacted.write.mode("overwrite").parquet(tmp)
    val f = indexFs(spark, indexDir)
    val dirP = new org.apache.hadoop.fs.Path(indexDir)
    val oldP = new org.apache.hadoop.fs.Path(
      indexDir.stripSuffix("/") + "__old")
    f.delete(oldP, true) // leftover from a compact that died mid-swap
    require(f.rename(dirP, oldP),
      s"minhashIndexCompact: rename $indexDir -> $oldP failed")
    require(f.rename(new org.apache.hadoop.fs.Path(tmp), dirP),
      s"minhashIndexCompact: rename $tmp -> $indexDir failed; the " +
      s"pre-compact index is intact at $oldP — rename it back to recover")
    params.foreach { case (sw, nh, b) =>
      writeIndexParams(spark, indexDir, sw, nh, b) }
    f.delete(oldP, true)
    (before, spark.read.parquet(indexDir).count())
  }

  /** Compact when the index's part-file count exceeds `maxFiles` — the
    * amortization policy callers wire after an append burst, mirroring
    * [[graft.io.StateTable.maybeCompact]]: every append adds files (and
    * possibly re-appended signatures), so probe-side scan cost grows
    * until a compact folds it back.
    */
  def minhashIndexMaybeCompact(corpus: DataFrame, idCol: String,
      indexDir: String, maxFiles: Int = 64): Option[(Long, Long)] = {
    val f = indexFs(corpus.sparkSession, indexDir)
    val n = f.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .count(_.getPath.getName.startsWith("part-"))
    if (n > maxFiles) Some(minhashIndexCompact(corpus, idCol, indexDir))
    else None
  }

  /** Incremental near-dup against a PERSISTED index
    * ([[minhashIndexWrite]]): same semantics and same verification as
    * [[minhashNearDupsAgainst]], but the corpus side's sketch pass is
    * replaced by a parquet scan of (band, id) rows. The corpus frame
    * is still required — for the exact-Jaccard payload fetch of the
    * (few) candidate ids only; its text is never sketched corpus-wide
    * here. The batch must be sketched with the index's own
    * (shingleWidth, numHashes, bands) or band keys will not collide —
    * ENFORCED against the sidecar [[minhashIndexWrite]] records (a
    * mismatch used to return silently near-empty results; ADVICE r11);
    * a pre-sidecar index falls back to the caller-owned contract.
    *
    * @return (batch_id, corpus_id, jaccard) pairs at or above
    *   `threshold`
    */
  def minhashNearDupsAgainstIndex(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, indexDir: String,
      shingleWidth: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      cache: Option[StorageLevel] = None): DataFrame = {
    readIndexParams(batch.sparkSession, indexDir).foreach { p =>
      require(p == ((shingleWidth, numHashes, bands)),
        s"minhashNearDupsAgainstIndex: index at $indexDir was built " +
        s"with (shingleWidth, numHashes, bands) = $p but this probe " +
        s"uses (${shingleWidth}, ${numHashes}, ${bands}) — band keys " +
        "from mixed parameters never collide, so the result would be " +
        "silently (near-)empty")
    }
    def cached(d: DataFrame): DataFrame = cache.fold(d)(d.persist)
    def shingle(df: DataFrame) = cached(df.select(
      col(idCol).as("id"),
      H.wordShingles(T.tokens(col(textCol)), shingleWidth).as("shingles")))
    val bSh = shingle(batch)
    val bBand = cached(bSh.select(
      col("id"),
      explode(H.bandKeys(H.minhashSignature(col("shingles"), numHashes),
        bands, numHashes / bands)).as("band")))
    val cBand = batch.sparkSession.read.parquet(indexDir)
    val ok = cBand.groupBy("band").count()
      .where(col("count") <= maxBucket).select("band")
    val pairIds = bBand
      .join(cBand.join(ok, "band")
        .select(col("band"), col("id").as("corpus_id")), "band")
      .select(col("id").as("batch_id"), col("corpus_id"))
      .distinct()
    val bCand = bSh.join(broadcast(
      pairIds.select(col("batch_id").as("id")).distinct()), "id")
      .select(col("id").as("batch_id"), col("shingles").as("sh_b"))
    // late payload fetch: only candidate corpus ids are re-shingled
    val cCand = shingle(corpus.join(broadcast(
        pairIds.select(col("corpus_id").as(idCol)).distinct()), idCol))
      .select(col("id").as("corpus_id"), col("shingles").as("sh_c"))
    pairIds
      .join(bCand, "batch_id").join(cCand, "corpus_id")
      .withColumn("jaccard", H.jaccard(col("sh_b"), col("sh_c")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** SimHash near-dup pairs within a Hamming radius. Candidate
    * generation by the pigeonhole banding of [[H.simhashBandKeys]]
    * (complete for radius <= pieces-1), verified by exact Hamming
    * distance. Shuffles only (chunkKey, id, simhash).
    *
    * @param cache storage level for the sketch and banded subtrees,
    *   which the plan otherwise recomputes 3x (the bucket census and
    *   both self-join sides re-derive the per-token hashing; same knob
    *   as [[minhashNearDups]]). Pass `Some(MEMORY_AND_DISK)` when
    *   sketching the corpus costs more than caching (band, id, sim)
    *   rows; blocks age out LRU after the caller materializes.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      cache: Option[StorageLevel] = None): DataFrame = {
    val banded = simhashBandedStage(df, idCol, textCol, maxHamming, cache)
    val counts = banded.groupBy("k").count()
      .where(col("count") <= maxBucket && col("count") > 1)
    val inBuckets = banded.join(counts, "k")
      .select(col("k"), col("id"), col("sim"))
    inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        H.hamming64(col("a.sim"), col("b.sim")).as("hamming"))
      // Verify BEFORE dedup: hamming is a codegen'd bit_count on columns
      // already in hand, so filtering first shrinks the dropDuplicates
      // shuffle from the full candidate set to the accepted pairs.
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Simhash piece-band stage shared by [[simhashNearDups]] and
    * [[simhashSkewCensus]]: (id, sim, k) with one row per pigeonhole
    * piece.
    */
  private def simhashBandedStage(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int,
      cache: Option[StorageLevel]): DataFrame = {
    val pieces = maxHamming + 1
    def cached(d: DataFrame): DataFrame = cache.fold(d)(d.persist)
    val sims = cached(df.select(col(idCol).as("id"),
      H.simhash60(T.tokens(col(textCol))).as("sim")))
    cached(sims.withColumn("k",
      explode(H.simhashBandKeys(col("sim"), pieces))))
  }

  /** Skew census for [[simhashNearDups]]: piece-buckets larger than
    * `maxBucket` whose candidate generation the skew guard suppressed.
    * As with [[minhashSkewCensus]], a pair in an oversized bucket can
    * still collide through another of its `maxHamming + 1` pieces, so
    * `rows` measures per-piece coverage lost, not rows guaranteed
    * undeduped.
    *
    * @return (k, rows) — oversized piece-bucket key and population
    */
  def simhashSkewCensus(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    simhashBandedStage(df, idCol, textCol, maxHamming, cache = None)
      .groupBy("k").count().where(col("count") > maxBucket)
      .select(col("k"), col("count").as("rows"))

  /** Benchmark decontamination: word-n-gram containment of each corpus
    * document against each benchmark item — the train/test-overlap scan
    * of an LLM training-data pipeline. `containment(d, b) =
    * |sh(d) ∩ sh(b)| / |sh(b)|`: 1.0 means every benchmark n-gram
    * appears in the document (verbatim leakage); the threshold flags
    * partial overlap.
    *
    * Scale shape: the benchmark side is small (eval sets are 1e3-1e5
    * items), so its distinct exploded shingles BROADCAST; the corpus
    * explodes its shingles once and broadcast-hash-joins them — the
    * corpus never shuffles by shingle and no all-pairs comparison
    * exists. Only matched (doc, bench, shingle) hits enter the one
    * shuffle, the count aggregate keyed (doc_id, bench_id), which
    * map-side combines.
    */
  def benchmarkContamination(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, benchIdCol: String,
      benchTextCol: String, n: Int = 3, threshold: Double = 0.5)
      : DataFrame = {
    val docSh = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(
        H.wordShingles(T.tokens(col(textCol)), n))).as("sh"))
    val benchSh = bench.select(col(benchIdCol).as("bench_id"),
      explode(array_distinct(
        H.wordShingles(T.tokens(col(benchTextCol)), n))).as("sh"))
    val benchSizes = benchSh.groupBy("bench_id")
      .agg(count(lit(1)).as("__n_bench"))
    // Both shingle sets are distinct per id, so each (doc, bench,
    // shingle) join hit is unique and count(*) = |intersection|.
    docSh.join(broadcast(benchSh), "sh")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("__hits"))
      .join(broadcast(benchSizes), "bench_id")
      .select(col("doc_id"), col("bench_id"),
        (col("__hits") / col("__n_bench")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Connected components over near-dup pairs — the clustering step a
    * dedup pipeline runs AFTER pair generation: rows sharing any chain
    * of near-dup edges form one group, and the keeper is the group's
    * minimum id. Iterative min-label propagation: each round joins
    * labels across edges and takes the min per node (both steps
    * map-side combinable), converging in O(graph diameter) rounds —
    * the standard Spark shape for CC; no driver-side union-find, so a
    * billion-edge pair set distributes.
    *
    * Each round `localCheckpoint`s (eager): caching alone is NOT enough
    * for an iterative operator — persist keeps the logical plan tree,
    * which references the previous round twice (union + join) and so
    * DOUBLES per iteration; by round ~15 the driver dies building
    * exponential plan strings before a single task runs (caught by the
    * randomized PropertiesSpec graph test). Checkpointing rewraps each
    * round as a leaf `LogicalRDD`, keeping the plan O(1) per round; the
    * trade (blocks pinned to executors, recompute impossible on
    * executor loss) is the standard one for iterative algorithms.
    * Resilient deployments pass `reliableCheckpoint = true` to swap in
    * `checkpoint()` against the durable directory set via
    * `SparkContext.setCheckpointDir` (the `spark.checkpoint.dir`
    * location) — each round then survives executor loss at the cost of
    * a distributed-filesystem write per iteration.
    *
    * Convergence costs no extra pass: labels are monotone
    * non-increasing, so a round is a fixpoint iff the exact decimal
    * checksum `sum(comp)` stopped decreasing.
    *
    * @return (id, comp) — comp is the minimum id reachable from id;
    *   rows with `id != comp` are the duplicates to drop.
    */
  def dedupGroups(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 50,
      reliableCheckpoint: Boolean = false): DataFrame =
    propagateLabels(pairs, idACol, idBCol, maxIter, reliableCheckpoint)
      // An iteration-cap exit means labels are still moving: returning
      // them would hand callers WRONG components with no signal — and
      // groupAwareSplit built on top could then straddle a near-dup
      // cluster across train/test, the exact leak it exists to prevent.
      .getOrElse(throw new IllegalStateException(
        s"dedupGroups did not converge within maxIter=$maxIter rounds; " +
          "the pair graph has a longer near-dup chain than that. Raise " +
          "maxIter (rounds needed = O(graph diameter)), or use " +
          "dedupGroupsAuto / dedupGroupsStar (O(log diameter))."))

  /** Min-label propagation with a round budget: `Some(labels)` on
    * convergence, `None` when the budget ran out with labels still
    * moving — the caller decides whether that is an error
    * ([[dedupGroups]]) or the trigger to re-cluster with the
    * O(log diameter) star alternation ([[dedupGroupsAuto]]).
    */
  private def propagateLabels(pairs: DataFrame, idACol: String,
      idBCol: String, maxIter: Int,
      reliableCheckpoint: Boolean): Option[DataFrame] = {
    Seq(idACol, idBCol).foreach { c =>
      require(pairs.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"dedupGroups: id column `$c` is " +
          s"${pairs.schema(c).dataType.simpleString}, need a numeric " +
          "type (the exact convergence checksum sums labels as " +
          "DECIMAL(38,0)); assign string-keyed docs a dense numeric " +
          "id first (zipWithIndex / row_number — NOT a hash, which " +
          "could merge unrelated docs on collision) and join back")
    }
    if (reliableCheckpoint)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
        "reliableCheckpoint = true needs a checkpoint directory: call " +
          "SparkContext.setCheckpointDir(<durable path>) first")
    def ckpt(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()
    val fwd = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)
    try {
      var labels = ckpt(edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
      var prev = checksum(labels)
      // Empty pair set: sum over zero rows is null, and there is
      // nothing to propagate — every doc is its own singleton group.
      if (prev == null) return Some(labels)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val neigh = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("comp"))
        val next = ckpt(labels.select("id", "comp").unionByName(neigh)
          .groupBy("id").agg(min("comp").as("comp")))
          // eager: truncates lineage, materializes
        val cur = checksum(next)
        converged = cur.compareTo(prev) == 0
        prev = cur
        labels = next
        i += 1
      }
      if (converged) Some(labels) else None
    } finally edges.unpersist()
  }

  /** Connected components with data-driven algorithm routing (the
    * [[graft.operators.ShapeSelect]] idea applied to clustering —
    * VERDICT r15 #7): run min-label propagation for up to
    * `propagationBudget` rounds, and only when labels are STILL
    * MOVING at the budget re-cluster with the O(log diameter)
    * [[dedupGroupsStar]] alternation. The budget overrun IS the
    * diameter probe: propagation needs one round per hop, so "not
    * converged after k rounds" is exactly "diameter > k", measured on
    * the real graph — no estimator to tune or mistrust.
    *
    * Near-dup pair graphs from LSH/Jaccard bucketing have tiny
    * diameters (a dup cluster is near-cliquish; 12 rounds cover any
    * realistic one), so the common case pays propagation's cheaper
    * per-round plan (one groupBy + one join vs large-star +
    * small-star per star round) and skips star's exit assertion. The
    * rare deep-chain graph (crawl version drift) pays at most
    * `propagationBudget` wasted rounds — bounded, vs [[dedupGroups]]'
    * refusal — then star's O(log diameter). Output identical on
    * every route (same fixed point; differential-pinned in
    * PropertiesSpec).
    */
  def dedupGroupsAuto(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", propagationBudget: Int = 12,
      maxIter: Int = 30, reliableCheckpoint: Boolean = false)
      : DataFrame = {
    require(propagationBudget > 0,
      s"propagationBudget must be > 0, got $propagationBudget")
    propagateLabels(pairs, idACol, idBCol, propagationBudget,
        reliableCheckpoint)
      .getOrElse(dedupGroupsStar(pairs, idACol, idBCol, maxIter,
        reliableCheckpoint))
  }

  /** Connected components in O(log diameter) rounds — the large-star /
    * small-star alternation (public algorithm: Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), for
    * pair graphs whose chains outrun [[dedupGroups]]' per-round
    * propagation. Min-label propagation needs one round PER HOP: a
    * crawl-drift chain (doc v1 ~ v2 ~ ... ~ v5000 across snapshots)
    * needs 5 000 full shuffles and throws at `maxIter`. Star rounds
    * halve chain lengths instead:
    *
    *   large-star: per node u, every LARGER neighbor re-points to u's
    *     component minimum m(u) = min(N(u) ∪ u);
    *   small-star: per node u (edges oriented large→small), every
    *     smaller neighbor and u itself re-point to m(u).
    *
    * Both preserve connectivity (each replaced edge (u,v)→(v,m) keeps
    * u,v,m connected through u's star), and the fixed point is a
    * forest of stars rooted at each component's minimum id — the SAME
    * labels [[dedupGroups]] converges to, checked cheaply at exit: a
    * star set has one out-edge per non-root and no root appearing as a
    * source, so the claimed fixed point is ASSERTED from the data, not
    * trusted from the checksum. Per-round cost matches one propagation
    * round (a groupBy min + a join, both on the edge key); rounds drop
    * from O(diameter) to O(log diameter).
    *
    * Same contract and output as [[dedupGroups]]: numeric ids,
    * `(id, comp)` with comp = component minimum, every id that appears
    * in `pairs` present (self-pairs become singletons). Default
    * `maxIter = 30` covers diameters past 2^30 — raise nothing.
    */
  def dedupGroupsStar(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 30,
      reliableCheckpoint: Boolean = false): DataFrame = {
    Seq(idACol, idBCol).foreach { c =>
      require(pairs.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"dedupGroupsStar: id column `$c` is " +
          s"${pairs.schema(c).dataType.simpleString}, need a numeric " +
          "type; assign string-keyed docs a dense numeric id first " +
          "(zipWithIndex / row_number — NOT a hash, which could merge " +
          "unrelated docs on collision) and join back")
    }
    if (reliableCheckpoint)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
        "reliableCheckpoint = true needs a checkpoint directory: call " +
          "SparkContext.setCheckpointDir(<durable path>) first")
    def ckpt(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()

    val nodes = pairs.select(col(idACol).as("id"))
      .unionByName(pairs.select(col(idBCol).as("id"))).distinct()
    locally {
      var e = ckpt(pairs
        .select(col(idACol).as("src"), col(idBCol).as("dst"))
        .where(col("src") =!= col("dst")).distinct())

      def largeStar(edges: DataFrame): DataFrame = {
        val bidir = edges.unionByName(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val mins = bidir.groupBy("src").agg(min("dst").as("__mn"))
          .select(col("src").as("__u"),
            least(col("__mn"), col("__u")).as("__m"))
        // no distinct here: small-star's end-of-round distinct
        // canonicalizes, and its min aggregates tolerate duplicate
        // edges — one less shuffle per round
        bidir.join(mins, bidir("src") === mins("__u"))
          .where(col("dst") > col("src"))
          .select(col("dst").as("src"), col("__m").as("dst"))
      }
      def smallStar(edges: DataFrame): DataFrame = {
        // orient large -> small (no self-loops by construction)
        val ordered = edges.select(
          greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        val mins = ordered.groupBy("u").agg(min("v").as("__m"))
        ordered.join(mins, "u")
          .where(col("v") =!= col("__m"))
          .select(col("v").as("src"), col("__m").as("dst"))
          .unionByName(
            mins.select(col("u").as("src"), col("__m").as("dst")))
          .distinct()
      }
      def checksum(df: DataFrame): (Long, java.math.BigDecimal,
          java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(col("src").cast("decimal(38,0)")),
          sum(col("dst").cast("decimal(38,0)"))).collect()(0)
        (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
      }

      var prev = checksum(e)
      var converged = prev._1 == 0L // no edges at all: all singletons
      var i = 0
      while (!converged && i < maxIter) {
        e = ckpt(smallStar(largeStar(e)))
        val cur = checksum(e)
        converged = cur == prev
        prev = cur
        i += 1
      }
      // Assert the star shape the labels depend on FROM THE DATA —
      // a checksum collision then surfaces as this error, never as
      // silently wrong components.
      if (converged && prev._1 > 0L) {
        val malformed = e.groupBy("src")
          .agg(count(lit(1)).as("__deg"))
          .where(col("__deg") > 1).limit(1).count() +
          e.select(col("dst").as("src")).distinct()
            .join(e.select("src").distinct(), "src", "left_semi")
            .limit(1).count()
        if (malformed > 0) converged = false
      }
      if (!converged) throw new IllegalStateException(
        s"dedupGroupsStar did not reach a star fixed point within " +
          s"maxIter=$maxIter rounds — with O(log diameter) rounds this " +
          "indicates a checksum collision or a graph far beyond any " +
          "tested scale; raise maxIter")
      // checkpoint the labels like dedupGroups does: the caller's
      // action then reads a materialized leaf instead of re-running
      // the pairs lineage (often an expensive candidate-pair plan)
      // for the nodes-distinct branch
      ckpt(nodes
        .join(e.select(col("src").as("id"), col("dst").as("comp")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
    }
  }

  /** Keeper selection over near-dup clusters: collapse each connected
    * component of `pairs` to its single BEST document — highest
    * `scoreCol`, ties to the smallest id — rather than
    * [[dedupGroups]]' arbitrary min-id keeper. This is the selection a
    * curation pipeline actually runs: among near-duplicate crawls of
    * the same page, keep the longest / highest-quality capture.
    * Documents with no near-dup edge are their own singleton group and
    * always survive.
    *
    * Scale shape: after the label join, the keeper is a single
    * map-side-combinable struct-min aggregate — min over
    * `(score-is-null, -score, id)` picks the winner WITHOUT sorting
    * any group or windowing the corpus, so a pathological
    * million-member cluster costs its reducer one running minimum,
    * not a sort. One shuffle on the group key. Negating the SCORE
    * (numeric by contract, enforced) rather than the id keeps the tie
    * order total for ANY id type — string ids included, which the old
    * `-id` encoding refused with an unhelpful cast error (VERDICT
    * r11); the null-flag field keeps null-scored rows losing to any
    * scored row, falling back to min id only when a whole group is
    * unscored.
    *
    * @return one row per group: (group, id, score, n_members), where
    *   `group` is the component's min id ([[dedupGroups]]' label)
    */
  def keepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, maxIter: Int = 50,
      logRounds: Boolean = false, autoRoute: Boolean = false,
      propagationBudget: Int = 12): DataFrame = {
    require(docs.schema(scoreCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBest: score column `$scoreCol` is " +
        s"${docs.schema(scoreCol).dataType.simpleString}, need a " +
        "numeric type (the tie order negates the score)")
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBest: id column `$idCol` is " +
        s"${docs.schema(idCol).dataType.simpleString}, need a numeric " +
        "type ([[dedupGroups]] checksums labels as DECIMAL(38,0)); " +
        "assign a dense numeric id (zipWithIndex / row_number) and " +
        "join back")
    // routing: autoRoute = propagation with a round budget, star only
    // on budget overrun (the deep-chain trigger measured from the
    // data); logRounds = star always; default = plain propagation.
    // All three converge to the same labels.
    val groups = (if (autoRoute)
                    dedupGroupsAuto(pairs,
                      propagationBudget = propagationBudget,
                      maxIter = maxIter)
                  else if (logRounds)
                    dedupGroupsStar(pairs, maxIter = maxIter)
                  else dedupGroups(pairs, maxIter = maxIter))
      .withColumnRenamed("id", idCol)
    docs.join(groups, Seq(idCol), "left_outer")
      .withColumn("group", coalesce(col("comp"), col(idCol)))
      .groupBy("group")
      .agg(
        min(struct(
          when(col(scoreCol).isNull, 1).otherwise(0).as("nullLast"),
          (-col(scoreCol)).as("negScore"),
          col(idCol).as("bid"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("group"), col("best.bid").as(idCol),
        (-col("best.negScore")).as(scoreCol), col("n_members"))
  }

  /** N-gram Jaccard similarity for an EXPLICIT candidate pair set
    * (pairs discovered by any bucketing scheme, or small curated sets).
    * Exposed separately so the exact metric is reusable and oracle-
    * checkable without the LSH layer.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    pairJaccard(docs, pairs, idCol,
      d => H.wordShingles(T.tokens(col(textCol)), n))

  /** Character-n-gram variant of [[ngramJaccard]] over NORMALIZED text —
    * the shingling that still works where whitespace tokenization
    * degenerates (CJK-ish corpora, code, concatenated text).
    */
  def charJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    pairJaccard(docs, pairs, idCol,
      d => H.charShingles(T.normalize(col(textCol)), n))

  /** Cross-document segment dedup (C4-style boilerplate removal,
    * reference `src/glue/common_etl.py`'s dedup family generalized to
    * sub-document granularity; public precedent: the C4 dataset's
    * "discard any three-sentence span occurring more than once"). Each
    * document is cut into consecutive `segWords`-token segments; a
    * segment that occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (navigation chrome, license banners, templated
    * snippets) and is removed from every document that carries it. The
    * remaining segments are reassembled in order.
    *
    * Scale shape (100 TB): three keyed shuffles, no windows, no
    * all-pairs — (1) distinct (segment, doc) + count per segment, both
    * map-side combinable; (2) the segment→common-set join keys on the
    * segment string (AQE broadcasts the common side when the threshold
    * keeps it small, the usual case — boilerplate is by definition a
    * tiny fraction of distinct segments); (3) per-document reassembly
    * groups on the doc id. A mega-frequent segment is one count row,
    * never a hot reducer: the per-doc side stays O(doc segments).
    *
    * @param cache storage level for the exploded segment frame, which
    *   BOTH the census and the tagging join read (uncached, the
    *   normalize+tokenize+explode scan runs twice). Same ownership
    *   contract as [[minhashNearDups]]: the cached blocks belong to
    *   this plan and age out LRU after the caller materializes the
    *   result; long-lived sessions running it repeatedly should clear
    *   the cache between invocations (Bench/Verify do).
    * @return one row PER INPUT DOCUMENT: (idCol, clean_text, n_dropped)
    *         — documents whose every segment was boilerplate survive
    *         with clean_text = "" (the caller decides whether emptied
    *         docs are then length-filtered out), and token-less
    *         documents pass through with n_dropped = 0.
    */
  def dropCommonSegments(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 4, minDocs: Int = 4,
      cache: Option[StorageLevel] = None): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    require(minDocs >= 2,
      s"minDocs < 2 would drop every segment, got $minDocs")
    def cached(d: DataFrame): DataFrame = cache.fold(d)(d.persist)
    val toks = T.tokens(col(textCol))
    // sequence(0, nseg-1) with nseg == 0 would step BACKWARD ([0, -1]);
    // guard token-less docs to an empty segment list instead.
    val segsOf = when(size(toks) === 0,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          floor((size(toks) + (segWords - 1)) / segWords).cast("int") - 1),
        i => array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
    // the segment explode feeds BOTH the census and the tagging join;
    // without the optional cache the normalize+tokenize+explode scan
    // runs twice (the bench measured it as 2x the query's cost)
    val seg = cached(
      df.select(col(idCol), posexplode(segsOf).as(Seq("idx", "s"))))
    val common = seg.select("s", idCol).distinct()
      .groupBy("s").agg(count(lit(1)).as("__ndocs"))
      .where(col("__ndocs") >= minDocs)
      .select(col("s"), lit(true).as("__common"))
    val re = seg.join(common, Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__common").isNull,
            struct(col("idx"), col("s"))))),
          x => x("s")), " ").as("clean_text"),
        sum(when(col("__common").isNotNull, 1L).otherwise(0L))
          .as("n_dropped"))
    df.select(col(idCol))
      .join(re, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** EXACT Jaccard-threshold self-join (AllPairs/SSJoin prefix
    * filtering — Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06): all
    * pairs with shingle-set Jaccard >= `threshold`, with recall 1.0 —
    * the exact complement to [[minhashNearDups]] when a miss is not
    * acceptable (dedup before eval-set construction, contamination
    * audits). MinHash trades recall for candidate volume; this
    * operator keeps exactness and still never goes all-pairs:
    * a pair with J >= t must share >= ceil(t*|x|) shingles, so (by
    * pigeonhole) it must share one of the first |x| - ceil(t*|x|) + 1
    * shingles under ONE global total order — candidates join only on
    * those PREFIX shingles. Ordering the prefix by ascending global
    * frequency (the [[graft.operators.FuzzyJoin]] signature trick)
    * makes prefixes the RAREST shingles, so hot shingles (stopword
    * runs, template chrome) never become join keys; a size filter
    * (t*|x| <= |y| <= |x|/t) prunes survivors before verification,
    * which reuses the late-payload-fetch shape — shingle arrays
    * re-enter only for candidate ids, and in TWO stages: a hashed
    * 8-byte-per-shingle prefilter over all candidates, then the exact
    * string-shingle score over the near-threshold survivors only (see
    * the staging comment in the body for the collision-margin
    * analysis and the x100 measurement that motivated it).
    *
    * Completeness is gated, not assumed: the registered query's oracle
    * generates candidates by the weaker share-ANY-shingle join, so a
    * prefix-filter bug that loses a pair hash-mismatches the gate.
    *
    * Adversarial note: N byte-identical documents produce N^2/2 true
    * pairs — that is the answer, not a skew artifact. Run [[exact]]
    * dedup first so identical content enters as one representative.
    *
    * Storage contract (ADVICE r16): the multi-consumer intermediates
    * (candidates, hashed shingle sets, margin survivors) are ALWAYS
    * pinned — at `cache`, or MEMORY_AND_DISK when None — because
    * unpinned they re-run the prefix self-join, the join's single
    * biggest shuffle, once per consumer (~3x at 100 TB). The result
    * is materialized by one terminal action inside this call and the
    * intermediates are unpersisted before returning, so repeated
    * calls leave no storage residue beyond the RETURNED frame, which
    * stays pinned (it is the materialized answer) — `unpersist()` it
    * when done.
    *
    * Lazy composition (VERDICT r18 #6): pass `pinsOut` to skip the
    * internal terminal action — the intermediates are pinned into the
    * CALLER'S buffer (ownership transfer), the returned frame is
    * unpinned and unmaterialized, and the caller runs its own single
    * terminal action over the larger composed pipeline before
    * unpersisting the buffer. DedupAnnSpec proves both paths leave
    * the CacheManager empty and agree row-for-row.
    *
    * @return (id_a, id_b, jaccard) with jaccard rounded at 6 and
    *         >= threshold, id_a < id_b; materialized and persisted
    *         (lazy and unpinned when `pinsOut` is supplied)
    */
  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 3,
      cache: Option[StorageLevel] = None,
      pinsOut: Option[scala.collection.mutable.Buffer[DataFrame]] = None)
      : DataFrame = {
    val level = cache.getOrElse(StorageLevel.MEMORY_AND_DISK)
    // every pin is collected so the terminal action below can free
    // them all; jaccardCandidatesPinned's internal pins (the exploded
    // gram frame, the rarest-first prefix) route through the same buffer.
    // With pinsOut the caller's buffer IS that collection.
    val pins = pinsOut.getOrElse(
      scala.collection.mutable.ArrayBuffer.empty[DataFrame])
    def pin(d: DataFrame): DataFrame = {
      val p = d.persist(level); pins += p; p
    }
    // the candidate frame feeds THREE subtrees (the id-set semi-join,
    // the stage-1 pair stream, and — through survivors — stage 2);
    // unpinned, each consumer re-runs the prefix self-join + distinct,
    // the join's single biggest shuffle. 16 B/row, so pinning is cheap
    // even at x100's ~31M pairs.
    val cands = pin(jaccardCandidatesPinned(docs, idCol, textCol,
      threshold, shingleWidth, pin))
    val shingler = (d: DataFrame) =>
      H.wordShingles(T.tokens(col(textCol)), shingleWidth)

    // Two-stage verification (x100 probe, r16: the one-stage exact
    // verify shipped a full STRING shingle array per candidate side —
    // at x100 that is a 62 GB array-carrying stream the second
    // payload join must re-shuffle, and it measured superlinear,
    // 113x wall at 100x data, while the candidate COUNT stayed
    // exactly linear at 62/doc. The payload, not the pair volume, was
    // the cliff.)
    //
    // Stage 1 scores every candidate on xxhash64-COMPRESSED shingle
    // sets (8 B/shingle, ~4x smaller than the string arrays) and keeps
    // pairs with approx J >= t - 0.05. Hashing is deterministic, so a
    // truly-shared shingle always lands in the hashed intersection;
    // only a 64-bit COLLISION can move the approx score, and one
    // collision event (two distinct grams of one pair colliding)
    // shifts J by at most ~2/|union| — inside the 0.05 margin whenever
    // the pair's shingle union holds >= 40 elements (docs of >= ~42
    // tokens at w=3). For such pairs a recall miss needs >= 2
    // independent collisions in ONE pair (P < (u^2/2^64)^2 ~ 1e-31);
    // for smaller pairs it needs just one, but with u < 40 that is
    // P < u^2/2^64 < 1e-16 per pair. Corpus-wide at 100 TB (~1e13
    // candidate pairs) both terms stay << 1e-3 misses in expectation —
    // and the registered query's share-any-shingle oracle would catch
    // one if it ever happened.
    //
    // Stage 2 re-scores ONLY the margin survivors (a ~threshold-tail
    // sliver of candidates) on the TRUE string shingles, so every
    // emitted (pair, jaccard) row is exactly scored — false positives
    // are impossible unconditionally; the margin is a recall
    // guarantee, not a precision one. The final threshold applies to
    // the UNROUNDED exact score (candidate generation is complete for
    // true J >= t; rounding first would admit pairs the filter never
    // promised to find) — the output column rounds for presentation
    // only.
    val ids = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val sh = docs.join(ids, Seq(idCol), "left_semi")
    // SHUFFLE_HASH: the hashed-payload side is one row per distinct
    // candidate document; sort-merge would instead SORT the
    // O(candidates) pair stream twice (see pairJaccard's note)
    // pinned: the frame feeds BOTH payload joins, and without a pin
    // each join re-runs the semi-join + shingle + hash lineage over
    // the corpus
    val hashed = pin(sh.select(col(idCol).as("__id"),
        array_distinct(transform(array_distinct(shingler(sh)),
          g => xxhash64(g))).as("__h")))
      .hint("shuffle_hash")
    val survivors0 = cands
      .join(hashed.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__h", "h_a"), "id_a")
      .join(hashed.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__h", "h_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("h_a"), col("h_b"))).as("__i"),
        (size(col("h_a")) + size(col("h_b"))).as("__s"))
      .where(col("__i").cast("double") / (col("__s") - col("__i")) >=
        threshold - 0.05)
      .select("id_a", "id_b")
    // survivors feed pairJaccard's id-set AND both payload joins —
    // pin, or each consumer replays the stage-1 hashed joins
    val survivors = pin(survivors0)
    val res = pairJaccard(docs, survivors, idCol, shingler)
      .where(col("jaccard") >= threshold)
      .withColumn("jaccard", round(col("jaccard"), 6))
    pinsOut match {
      case Some(_) => // lazy: pins already in the caller's buffer
        res
      case None =>
        val out = res.persist(level)
        // ONE terminal action materializes every consumer path while the
        // intermediates are still pinned; then free them (cascade=false —
        // Dataset.unpersist never drops caches built on top, so out's
        // materialized buffers survive). A later eviction of out's
        // buffers recomputes from the full lineage — slower, still exact.
        out.count()
        pins.foreach(_.unpersist(blocking = false))
        out
    }
  }

  /** [[jaccardJoin]]'s candidate stage with the pin policy injected:
    * distinct (id_a, id_b), id_a < id_b. [[jaccardJoin]] routes the
    * internal pins (gram explode, rarest-first prefix) through its own
    * collector so they can be unpersisted after the terminal action
    * instead of leaking (ADVICE r16).
    */
  private def jaccardCandidatesPinned(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleWidth: Int,
      pin: DataFrame => DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    def cached(d: DataFrame): DataFrame = pin(d)
    val sh = docs.select(col(idCol).as("id"),
        array_distinct(H.wordShingles(T.tokens(col(textCol)),
          shingleWidth)).as("g"))
      .where(size(col("g")) > 0)
    val ex = cached(sh.select(col("id"), size(col("g")).as("n"),
      explode(col("g")).as("gram")))
    val freq = ex.groupBy("gram").agg(count(lit(1)).as("f"))
    // rarest-first prefix: first n - ceil(t*n) + 1 shingles under the
    // (frequency, gram) total order
    // Minimum-overlap bound ceil(t*n), computed EPSILON-SAFE: the raw
    // double product overshoots for binary-inexact thresholds (25 *
    // 0.56 = 14.000000000000002, ceil -> 15) and a too-large bound
    // DROPS TRUE PAIRS — the one error an exact join may never make.
    // Subtracting 1e-6 before ceil can only shrink the bound (longer
    // prefixes, weaker size filter = extra candidates the exact verify
    // discards), so completeness survives any threshold; the slack
    // absorbs product error up to n ~ 4e9 shingles per doc.
    def minOverlap(n: org.apache.spark.sql.Column) =
      ceil(n * threshold - 1e-6)
    // cached: the self-join below otherwise recomputes the
    // freq-join + rarest-first window once PER SIDE. `p` (the gram's
    // 1-indexed rank in the doc's FULL (f, gram)-ordered shingle list)
    // rides along for the positional filter below.
    val prefix = cached(ex.join(freq, "gram")
      .withColumn("p", row_number().over(
        Window.partitionBy("id").orderBy(col("f"), col("gram"))))
      .where(col("p") <= col("n") - minOverlap(col("n")) + 1)
      .select(col("gram"), col("f"), col("id"), col("n"), col("p")))
    // Positional filter (PPJoin, Xiao et al. WWW'08): J >= t forces
    // overlap >= alpha = ceil(t/(1+t) * (n_a+n_b)) (epsilon-safe ceil,
    // same argument as minOverlap — shrinking alpha only keeps extra
    // candidates). At the pair's globally FIRST shared prefix gram
    // (min (f, gram) across its matches — any earlier common token
    // would sit inside both prefixes and BE an earlier match), no
    // common token precedes, so overlap <= 1 + min(n_a-p_a, n_b-p_b).
    // Pairs whose bound at that first match cannot reach alpha are
    // dropped BEFORE the hashed verify stage with zero recall loss —
    // the share-any-shingle oracle on the registered query gates
    // exactly that. The groupBy replaces the old `.distinct()` (same
    // keys, same shuffle); min(struct) carries the first match's
    // positions, and n_a/n_b are constants per pair riding the struct.
    val alphaNum = threshold / (1.0 + threshold)
    prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      // size filter: t*|x| <= |y| <= |x|/t or J < t regardless of overlap
      .where(col("b.n") >= minOverlap(col("a.n")) &&
        col("a.n") >= minOverlap(col("b.n")))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // n_a/n_b are per-doc constants (min == the value); only the
      // argmin's positions ride the ordered struct, and the gram
      // string in it collapses map-side (partial agg before shuffle)
      .agg(min(struct(col("a.f"), col("a.gram"),
        col("a.p").as("pa"), col("b.p").as("pb"))).as("m"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
      .where(lit(1L) +
        least(col("na") - col("m.pa"), col("nb") - col("m.pb")) >=
        ceil((col("na") + col("nb")) * alphaNum - 1e-6))
      .select("id_a", "id_b")
  }

  private def pairJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      shingler: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    // Late payload fetch (r13): shingle ONLY the documents that appear
    // in a candidate pair. Without the semi-join the shingling
    // projection runs over the ENTIRE corpus — twice, once per join
    // side — because the pair-id filter reaches the join but never the
    // projection above it; the r12 bench's full-materialization action
    // exposed that as 16 s to score 150 pairs at sf0.1. Shingling
    // after the semi-join makes the cost O(candidates), the same
    // shape minhashNearDupsAgainstIndex uses for verification.
    val ids = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val sh = docs.join(ids, Seq(idCol), "left_semi")
    // SHUFFLE_HASH on the payload side: a sort-merge join would SORT
    // the pair side — O(candidates) rows each carrying a full shingle
    // array — twice (once per payload join), and at x100 scale that
    // sort is pure spill (the x100 probe measured the verify stage
    // superlinear at 113x before this hint). The payload side is one
    // row per DISTINCT candidate document (<= 2 x pairs, typically far
    // fewer), so hashing it per partition and STREAMING the pair side
    // un-sorted removes the only superlinear term; output order is
    // irrelevant (callers sort or aggregate downstream).
    val shingled = sh.select(col(idCol).as("__id"),
      array_distinct(shingler(sh)).as("__sh")).hint("shuffle_hash")
    pairs
      .join(shingled.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(shingled.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        H.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }
}
