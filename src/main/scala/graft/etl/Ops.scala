package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operators as composable
  * `DataFrame => DataFrame` functions (SURVEY.md §2.3-§2.10).
  *
  * Design notes for 100 TB (SURVEY.md §4.3):
  *  - joins against dimension-sized sides are `broadcast()` hinted;
  *  - recommendation assembly defaults to a single partial-aggregatable
  *    `groupBy` + `sort_array(collect_list(struct))` instead of the
  *    reference's window + `max` (one shuffle/sort less); the reference
  *    shape is kept behind [[assembleRecommendationsWindowed]] for
  *    differential testing;
  *  - the delta check offers a keyed `xxhash64` variant that avoids
  *    shuffling whole `array<struct>` payloads.
  */
object Ops {

  /** P1/P2/P3: split a batch-inference frame on `error` nullability
    * (reference `related_items_etl.py:111-136`). Callers read the success
    * side with `error` dropped plus the error side intact. The input must
    * carry an `error` column even when no file has one — read it with the
    * declared schema ([[graft.io.Readers.jsonl]]), which returns absent
    * fields as nulls.
    */
  def splitErrors(df: DataFrame): (DataFrame, DataFrame) =
    (df.where(col("error").isNull).drop("error"),
     df.where(col("error").isNotNull))

  /** J1 + P4: reverse-map item-keyed recommendations to users — inner join
    * on the nested key `input.itemId = ITEM_ID`, then drop the redundant
    * join key (reference `related_items_etl.py:159-172`). The mapping side
    * fans out one row per (item, user) pair.
    *
    * At scale the recs side (one row per query item) is small next to the
    * mapping (users x items); Catalyst/AQE picks the join strategy, and we
    * leave both sides unhinted so a genuinely large mapping sort-merges.
    */
  def mapUsers(recs: DataFrame, mapping: DataFrame): DataFrame =
    recs.join(mapping, col("input.itemId") === col("ITEM_ID"), "inner")
      .drop("ITEM_ID")

  /** G1 + P5/P6: project the query key and unnest the ordered rec array,
    * keeping parents whose array is null/empty (reference
    * `related_items_etl.py:205-206`; user-personalization variant keys by
    * `input.userId`, `user_personalization_etl.py:167`).
    *
    * @param queryKeyPath  nested source path, e.g. "input.itemId"
    * @param queryKeyAlias output name, e.g. "queryItemId"
    * @param carryCols     extra columns carried through (e.g. userId)
    */
  def explodeRecs(df: DataFrame, queryKeyPath: String,
      queryKeyAlias: String, carryCols: Seq[(String, String)]): DataFrame = {
    val carried = carryCols.map { case (src, dst) => col(src).as(dst) }
    df.select(
      (col(queryKeyPath).as(queryKeyAlias) +: carried) :+
        posexplode_outer(col("output.recommendedItems"))
          .as(Seq("pos", "recItemId")): _*)
  }

  /** J2 + P7: decorate each recommended item with metadata — left-outer
    * join on `recItemId = meta.id`, then build the `recItem` struct from
    * either all metadata fields (star expansion) or a configured subset,
    * always carrying `itemId` (reference `related_items_etl.py:195-211`).
    * Null-guarded: an exploded row with no rec (outer explode) gets a null
    * struct, and an unmatched item keeps its id with null metadata —
    * matching the reference's `when(recItemId.isNull, None)` guard.
    *
    * Metadata is a dimension (items), broadcast-hinted.
    */
  def decorate(exploded: DataFrame, metadata: Option[DataFrame],
      metadataFields: Seq[String]): DataFrame =
    metadata match {
      case None =>
        // No-metadata branch: recItem is just {itemId} (reference
        // `related_items_etl.py:218-228`, with the wrong-window-key bug of
        // `user_personalization_etl.py:180` fixed by parameterization).
        exploded.withColumn("recItem",
          when(col("recItemId").isNull, lit(null))
            .otherwise(struct(col("recItemId").as("itemId"))))
          .drop("recItemId")
      case Some(meta) =>
        val fields =
          if (metadataFields.nonEmpty) metadataFields
          else meta.columns.filter(_ != "id").toSeq
        val structCols = col("recItemId").as("itemId") +:
          fields.map(f => col(s"meta.$f").as(f))
        exploded
          .join(broadcast(meta.alias("meta")),
            col("recItemId") === col("meta.id"), "left_outer")
          .withColumn("recItem",
            when(col("recItemId").isNull, lit(null))
              .otherwise(struct(structCols: _*)))
          .drop("recItemId")
          .drop(meta.columns.toIndexedSeq: _*)
    }

  /** W1 + A1, optimized shape (SURVEY.md §4.3#2): one hash aggregate with
    * map-side partial aggregation — `sort_array` on `(pos, recItem)`
    * structs restores order, then project the structs out. Semantically
    * equal to the windowed variant because `pos` is unique per group.
    */
  def assembleRecommendations(decorated: DataFrame, groupKeys: Seq[String])
      : DataFrame =
    decorated
      .groupBy(groupKeys.map(col): _*)
      // The when-guard drops null recItems (outer-explode parents with
      // no recs) BEFORE collection — collect_list skips nulls, matching
      // the reference's windowed collect_list('recItem'), which yields []
      // (not [null]) for such parents.
      .agg(sort_array(collect_list(when(col("recItem").isNotNull,
          struct(col("pos"), col("recItem")))))
        .getField("recItem").as("recommendations"))

  /** W1 + A1, reference shape: running `collect_list` over a window
    * ordered by `pos` (frame RANGE UNBOUNDED PRECEDING..CURRENT ROW gives
    * prefix lists), then `groupBy.max` picks the longest prefix = the full
    * ordered list (reference `related_items_etl.py:202-214`). Kept for
    * differential testing; costs an extra sort vs the aggregate shape.
    */
  def assembleRecommendationsWindowed(decorated: DataFrame,
      partitionKey: String, groupKeys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionKey).orderBy("pos")
    decorated
      .withColumn("recommendations", collect_list(col("recItem")).over(w))
      .groupBy(groupKeys.map(col): _*)
      .agg(max(col("recommendations")).as("recommendations"))
  }

  /** P8: canonical column order before set ops (reference
    * `related_items_etl.py:262-264`).
    */
  def canonicalizeColumns(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)

  /** A4: delta check — EXCEPT DISTINCT of the current frame against the
    * last-sync state over whole rows, after column canonicalization
    * (reference `related_items_etl.py:262-266`). Note EXCEPT also
    * de-duplicates the current side; that is observable reference
    * behaviour and preserved (SURVEY.md §7.4#3).
    */
  def deltaCheck(current: DataFrame, state: DataFrame): DataFrame =
    canonicalizeColumns(current).except(canonicalizeColumns(state))

  /** A4 at 100 TB (SURVEY.md §4.3#3): keyed variant — compare a 64-bit
    * payload hash per key instead of shuffling whole `array<struct>` rows
    * through EXCEPT's aggregate. Emits current rows whose key is absent
    * from state or whose payload hash changed. Equivalent to
    * [[deltaCheck]] when `keys` identify rows uniquely in both frames
    * (proven differentially in DeltaCheckSpec), except it keeps current-
    * side duplicates; pair with `dropDuplicates(keys)` for exact parity.
    */
  def deltaCheckKeyed(current: DataFrame, state: DataFrame,
      keys: Seq[String]): DataFrame = {
    val payload = (df: DataFrame) =>
      xxhash64(to_json(struct(
        df.columns.sorted.filterNot(keys.contains).map(col).toIndexedSeq: _*)))
    val stateHashed = state
      .select(keys.map(col) :+ payload(state).as("__stateHash"): _*)
    current
      .withColumn("__curHash", payload(current))
      .join(stateHashed, keys, "left_outer")
      .where(col("__stateHash").isNull ||
        col("__curHash") =!= col("__stateHash"))
      .drop("__curHash", "__stateHash")
  }

  /** U1 as constant-folded columns, not a row closure (reference uses a
    * per-record Python `Map.apply` at `related_items_etl.py:277-297`,
    * which blocks Catalyst; all values are run constants, so plain
    * `lit`s constant-fold and stay inside whole-stage codegen).
    */
  def stampJobInfo(df: DataFrame, jobName: String, runDateTime: String,
      syncDirectives: Option[(String, Map[String, String])]): DataFrame = {
    val stamped = df.withColumn("jobInfo",
      struct(lit(jobName).as("name"), lit(runDateTime).as("runDateTime")))
    syncDirectives match {
      case None => stamped
      case Some((prefix, otherAttributes)) =>
        val fields = lit(prefix).as("attributePrefix") +:
          otherAttributes.toSeq.sortBy(_._1).map { case (k, v) =>
            lit(v).as(k)
          }
        stamped.withColumn("syncDirectives", struct(fields: _*))
    }
  }

  /** Prefix when sync directives name none (`main.py:18,71`). */
  val DefaultAttributePrefix = "recommendation_"

  /** U2: dequeue pivot — transpose `recommendations: array<struct<...>>`
    * into flat per-user attributes `{prefix}{field}: array<fieldType>`
    * plus `external_id` (reference `braze_dequeue_function/main.py:57-83`,
    * pure Python per message; here a relational projection: Spark's
    * `array<struct>.field` extraction is a codegen'd `ExtractValue`, no
    * UDF). `external_id` never collides: the reference strips it from
    * otherAttributes (`main.py:74-76`); we drop the colliding key too.
    */
  def pivotAttributes(df: DataFrame, userIdCol: String, recFields: Seq[String],
      prefix: String, otherAttributes: Map[String, String]): DataFrame = {
    val attrs = recFields.map(f =>
      col(s"recommendations.$f").as(s"$prefix$f"))
    val others = (otherAttributes - "external_id").toSeq.sortBy(_._1)
      .map { case (k, v) => lit(v).as(k) }
    df.select((col(userIdCol).as("external_id") +: attrs) ++ others: _*)
  }

  /** U2 with PER-RECORD sync directives (reference
    * `braze_dequeue_function/main.py:67-81`): each record's OWN
    * `syncDirectives.attributePrefix` names its pivoted keys (default
    * [[DefaultAttributePrefix]]), and its own other attributes
    * ride along — so one queue fed by connectors with different
    * prefixes pivots every record correctly, where [[pivotAttributes]]
    * would stamp one connector's prefix onto the other's records.
    *
    * Because attribute NAMES vary by record, a fixed wide schema cannot
    * hold the result; the output is the exploded long form
    * `(external_id, attr, value)` with array values JSON-encoded —
    * still one relational pass (map + explode, no UDF, no shuffle).
    * Both wire shapes are accepted: the reference's nested
    * `syncDirectives.otherAttributes` struct (`related_items_etl
    * .py:287`) and this library's flattened scalar fields
    * ([[stampJobInfo]]); nested wins on a key collision, and
    * `external_id` is never emitted as an attribute (`main.py:74-76`).
    * Records with no syncDirectives at all fall back to the defaults.
    */
  def pivotAttributesPerRecord(df: DataFrame, userIdCol: String,
      recFields: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val sdType: Option[StructType] = df.schema.fields
      .find(_.name == "syncDirectives")
      .map(_.dataType).collect { case s: StructType => s }

    val prefix: Column = sdType
      .filter(_.fieldNames.contains("attributePrefix"))
      .map(_ => coalesce(col("syncDirectives.attributePrefix"),
        lit(DefaultAttributePrefix)))
      .getOrElse(lit(DefaultAttributePrefix))

    val reserved = Set("attributePrefix", "otherAttributes", "external_id")
    def scalarPairs(parent: String, st: StructType): Seq[(String, Column)] =
      st.fields.toSeq.collect {
        case f if !reserved(f.name) && !f.dataType.isInstanceOf[StructType] =>
          f.name -> col(s"$parent.${f.name}").cast("string")
      }
    val others: Seq[(String, Column)] = sdType.toSeq.flatMap { st =>
      val nested = st.fields.find(_.name == "otherAttributes")
        .map(_.dataType).collect { case n: StructType =>
          scalarPairs("syncDirectives.otherAttributes", n)
        }.getOrElse(Nil)
      val flat = scalarPairs("syncDirectives", st)
      (nested ++ flat).distinctBy(_._1)
    }

    // Long form from an array of (attr, value) structs, NOT from
    // `map(...)`: the prefixed rec keys are per-record DYNAMIC, so a
    // record whose rec key collides with an other-attribute name (e.g.
    // an empty prefix and a directive attr named like a rec field)
    // would make `map()` throw the whole job down under the default
    // spark.sql.mapKeyDedupPolicy=EXCEPTION. Rec entries come first and
    // first occurrence wins, so a collision deterministically resolves
    // to the rec value. DELIBERATE DEVIATION from the reference, which
    // spreads otherAttributes first and then
    // `setdefault(prefix+key, []).append(value)`s rec fields into them
    // (`braze_dequeue_function/main.py:76-81`) — there a colliding
    // other-attribute survives as the base and rec values are appended
    // to it when it happens to be a list, else the record crashes with
    // AttributeError. Rec-wins is the defined, non-crashing choice.
    val entryCols: Seq[Column] =
      recFields.map { f =>
        struct(concat(prefix, lit(f)).as("attr"),
          to_json(col(s"recommendations.$f")).as("value"))
      } ++ others.sortBy(_._1).map { case (k, c) =>
        struct(lit(k).as("attr"), c.as("value"))
      }
    val entries = array(entryCols: _*)
    val firstOccurrence = filter(entries, (e, i) =>
      !exists(slice(entries, lit(1), i),
        p => p.getField("attr") === e.getField("attr")))
    df.select(col(userIdCol).cast("string").as("external_id"),
        explode(firstOccurrence).as("e"))
      .select(col("external_id"), col("e.attr").as("attr"),
        col("e.value").as("value"))
      // null values = attributes the record does not carry (e.g. no
      // syncDirectives): dropped, matching the reference's dict merge
      .where(col("value").isNotNull)
  }

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
