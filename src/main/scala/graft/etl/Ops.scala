package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.StateTable

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

  /** The column Spark's PERMISSIVE JSON reader sets, alone, on a line it
    * cannot parse. A batch-inference read adds it to the declared schema
    * so that [[markMalformed]] can see such lines.
    */
  val CorruptRecord = "_corrupt_record"

  /** Give a line that did not parse an `error`, so [[splitErrors]] sends
    * it, raw text included, to the error side instead of syncing an
    * all-null row. `df` was read with [[CorruptRecord]] in its schema. The
    * text is renamed `rawLine`: Spark's JSON reader would read a
    * `_corrupt_record` field in `errors/` back as null.
    */
  def markMalformed(df: DataFrame): DataFrame =
    df.withColumnRenamed(CorruptRecord, "rawLine")
      .withColumn("error", coalesce(col("error"),
        when(col("rawLine").isNotNull, lit("malformed JSON line"))))

  /** J1 + P4 in the reference's order: reverse-map item-keyed batch lines
    * to users BEFORE explode — inner join on the nested key
    * `input.itemId = ITEM_ID`, then drop the redundant join key (reference
    * `related_items_etl.py:159-172`). The mapping side fans out one row
    * per (item, user) pair, so everything downstream runs once per mapped
    * user. [[graft.jobs.Jobs.assemble]] fans out after assembly instead
    * ([[fanOutToUsers]]); only reference-order callers remain: the J1
    * operator query `q_join_mapusers`, the map-users-first helper the
    * `JobsSpec` differentials compare against, and the benchmark's
    * staged pass.
    *
    * At scale the recs side (one row per query item) is small next to the
    * mapping (users x items); Catalyst/AQE picks the join strategy, and we
    * leave both sides unhinted so a genuinely large mapping sort-merges.
    */
  def mapUsers(recs: DataFrame, mapping: DataFrame): DataFrame =
    recs.join(mapping, col("input.itemId") === col("ITEM_ID"), "inner")
      .drop("ITEM_ID")

  /** The user-item mapping reduced to one row per distinct pair:
    * `(ITEM_ID, USER_ID, m)` where `m` counts the pair's lines. A null
    * `USER_ID` groups as one key, as it does in the reference's
    * `groupBy(queryItemId, userId)`. Input to [[fanOutToUsers]].
    */
  def mappingPairCounts(mapping: DataFrame): DataFrame =
    mapping.groupBy("ITEM_ID", "USER_ID")
      .agg(count(lit(1)).cast("int").as("m")) // array_repeat takes an int

  /** J1 + P4 after assembly: join each query item's assembled list to the
    * users mapped to it (eager aggregation before the fan-out join, Yan &
    * Larson, VLDB 1995); called only by [[graft.jobs.Jobs.assemble]]. The
    * reference joins the mapping first (`related_items_etl.py:159-172`)
    * and then explodes, decorates and assembles per (item, user)
    * (`:202-214`); every user of an item gets the same list, so doing
    * that work once per item is equivalent:
    *
    *  - several batch lines for one item land in one per-item group, as
    *    they land in each of its (item, user) groups;
    *  - a pair listed `m` times contributed every element `m` times to
    *    the old group; each element is repeated `m` times here. The old
    *    list is sorted on `(pos, recItem)`, which keeps equal elements
    *    adjacent, so repeating the sorted list's elements in place gives
    *    the same order;
    *  - a null `USER_ID` is one group key in both forms (see
    *    [[mappingPairCounts]]), null keys never match the inner join, and
    *    a null or empty rec array gives `[]` either way.
    *
    * Output columns are those of the old plan, in its order:
    * `queryItemId, userId, recommendations`. Both sides stay unhinted so
    * AQE picks the strategy and splits a hot item's partition.
    *
    * @param perItem `(queryItemId, recommendations)` from
    *   [[assembleRecommendations]] grouped by `queryItemId`
    * @param pairs   output of [[mappingPairCounts]]
    */
  def fanOutToUsers(perItem: DataFrame, pairs: DataFrame): DataFrame = {
    val (recs, m) = (col("recommendations"), col("m"))
    perItem.join(pairs, col("queryItemId") === col("ITEM_ID"), "inner")
      .select(col("queryItemId"), col("USER_ID").as("userId"),
        when(m > 1, flatten(transform(recs, r => array_repeat(r, m))))
          .otherwise(recs).as("recommendations"))
  }

  /** G1 + P5/P6: project the query key and unnest the ordered rec array,
    * keeping parents whose array is null/empty (reference
    * `related_items_etl.py:205-206`; user-personalization variant keys by
    * `input.userId`, `user_personalization_etl.py:167`).
    *
    * @param queryKeyPath  nested source path, e.g. "input.itemId"
    * @param queryKeyAlias output name, e.g. "queryItemId"
    * @param carryCols     extra columns carried through; only the
    *   reference-order callers of [[mapUsers]] carry one (`USER_ID` as
    *   `userId`), [[graft.jobs.Jobs.assemble]]'s callers pass `Nil`
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
        val recItemId = col("exploded.recItemId")
        val structCols = recItemId.as("itemId") +:
          fields.map(f => col(s"meta.$f").as(f))
        // An explicit select of the exploded side's columns: dropping the
        // metadata columns by name would also drop an exploded column that
        // a metadata field happens to share a name with (`pos`, the key).
        val kept = exploded.columns.toSeq.filter(_ != "recItemId")
          .map(c => col(s"exploded.`$c`"))
        exploded.alias("exploded")
          .join(broadcast(meta.alias("meta")),
            recItemId === col("meta.id"), "left_outer")
          .select(kept :+ when(recItemId.isNull, lit(null))
            .otherwise(struct(structCols: _*)).as("recItem"): _*)
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
    * behaviour and preserved (SURVEY.md §7.4#3). The reference
    * formulation, kept for `q_delta_except` and as the oracle of the
    * `JobsSpec` differential: [[graft.jobs.Jobs.run]] computes the delta
    * with [[keyedChanges]] in both state formats instead.
    */
  def deltaCheck(current: DataFrame, state: DataFrame): DataFrame =
    canonicalizeColumns(current).except(canonicalizeColumns(state))

  /** A4 at 100 TB (SURVEY.md §4.3#3): keyed variant — compare a 64-bit
    * payload hash per key instead of shuffling whole `array<struct>` rows
    * through EXCEPT's aggregate. The non-tombstone side of
    * [[keyedChanges]] ([[changedRows]]): current rows whose key is absent
    * from state or whose payload hash changed, keys matched null-safe.
    * Equivalent to [[deltaCheck]] when `keys` identify rows uniquely in
    * both frames (OpsSpec differential), except it keeps current-side
    * duplicates; pair with `dropDuplicates(keys)` for exact parity.
    */
  def deltaCheckKeyed(current: DataFrame, state: DataFrame,
      keys: Seq[String]): DataFrame =
    changedRows(keyedChanges(current, state, keys))

  /** A4 with the keyed state's tombstones, from ONE join (the shape of
    * Delta Lake's `MERGE`, Armbrust et al., VLDB 2020): a full outer join
    * of the current rows against `state` on `keys`, matched null-safe
    * (`<=>`) so a null key meets its state row as it does under
    * [[deltaCheck]]'s EXCEPT and the reference's `groupBy`. Each side is
    * reduced to its key and `xxhash64(to_json(struct(sorted non-key
    * columns)))` before the join. Emits
    *
    *  - current rows that are new or whose payload hash changed, with
    *    `_deleted = false` (current-side duplicates are all kept);
    *  - tombstones: keys in `state` but not in `current`, with
    *    `_deleted = true` and null non-key columns.
    *
    * Columns: `keys`, then current's other columns in order, then
    * [[graft.io.StateTable.DeletedCol]]. The output is what
    * [[graft.io.StateTable.append]] takes for a keyed sync.
    */
  def keyedChanges(current: DataFrame, state: DataFrame,
      keys: Seq[String]): DataFrame = {
    val payload = (df: DataFrame) =>
      xxhash64(to_json(struct(
        df.columns.sorted.filterNot(keys.contains).map(col).toIndexedSeq: _*)))
    val stateKey = (k: String) => s"__state_$k"
    val (curHash, stateHash) = (col("__curHash"), col("__stateHash"))
    val stateHashed = state.select(keys.map(k => col(k).as(stateKey(k))) :+
      payload(state).as("__stateHash"): _*)
    val sameKey = keys.map(k => col(k) <=> col(stateKey(k))).reduce(_ && _)
    // The hashes are never null, so a null hash marks the absent side.
    current.withColumn("__curHash", payload(current))
      .join(stateHashed, sameKey, "full_outer")
      .where(stateHash.isNull || curHash.isNull || curHash =!= stateHash)
      .select(keys.map(k => coalesce(col(k), col(stateKey(k))).as(k)) ++
        current.columns.filterNot(keys.contains).map(col) :+
        curHash.isNull.as(StateTable.DeletedCol): _*)
  }

  /** The new and changed current rows of [[keyedChanges]]: tombstones
    * and the `_deleted` column dropped.
    */
  def changedRows(changes: DataFrame): DataFrame =
    changes.where(!col(StateTable.DeletedCol)).drop(StateTable.DeletedCol)

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
}
