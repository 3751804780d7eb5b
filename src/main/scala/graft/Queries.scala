package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.JobConfig
import graft.connector.Sinks
import graft.etl.Ops
import graft.io.{Bucketing, Readers, StateTable, Writers, ZOrder}
import graft.jobs.Jobs
import graft.operators.Skew
import graft.streaming.{Attribution, DriftMonitor, FileRelay, StreamingDedup}

/** Oracle-checked queries over /root/testdata, one per SURVEY.md §2
  * operator (ETL/connector families; LLM-pipeline families live in
  * [[QueriesLlm]]).
  *
  * Conventions shared with the DuckDB oracle SQL in [[SparkEntry.oracleSql]]:
  *  - IDs cast to string (the reference's IDs are strings, README.md:170);
  *  - counts/sizes cast to long (DuckDB count() is BIGINT);
  *  - doubles rounded to 6 places;
  *  - every query deterministically ORDER BY'd on non-null keys;
  *  - ordered array payloads compared as ','-joined strings with explicit
  *    'NULL' placeholders (array_join drops nulls silently otherwise).
  */
object Queries {

  /** Injected run clock (SURVEY.md §7.4#5) — fixed so hash_match is
    * stable across runs.
    */
  val RunTs = "2024-01-01T00:00:00.000"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Rebalance an under-parallel scan (round 22, guide §2.5 "one huge
    * unsplittable file … repartition immediately after the read"): a
    * single-row-group parquet file scans as ONE task, and everything
    * codegen-fused into that stage (broadcast-join probes, struct/array
    * building, partial aggregation) runs serially — q_ri_pipeline's
    * profile showed a 2.8 s single-task stage doing the order-batch
    * join ahead of 32 idle cores. Round-robin repartition only when
    * the scan has fewer partitions than the session's parallelism, so
    * a production table with natural split parallelism pays no extra
    * exchange. Placement-only: every consumer is an aggregate, a keyed
    * join, or a totally-ordered window, so results are unchanged.
    */
  private def balancedScan(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[java.io.File]
  sys.addShutdownHook(tmpDirs.synchronized(
    tmpDirs.foreach(FileUtils.deleteQuietly)))

  /** A fresh `graft-<tag>-*` dir under the system temp dir, deleted with
    * everything in it when the JVM exits — not sooner, because the frame
    * a query returns reads it lazily.
    */
  private[graft] def tmp(tag: String): String = tmpDirs.synchronized {
    val dir = Files.createTempDirectory(s"graft-$tag-").toFile
    tmpDirs += dir
    dir.toString
  }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily lowered —
    * for the STREAMING executions only. A stateful micro-batch writes
    * one state-store delta file per shuffle partition per batch, so at
    * the session's 32 partitions a 3-batch AvailableNow run pays ~100
    * state-file round-trips to shuffle a few thousand rows; the fixed
    * I/O, not the operator, dominated the bench (VERDICT r10 item 4).
    * The stream pins the setting at start, so restoring it after
    * `awaitTermination` leaves every batch query (including the
    * post-stream scoring reads) at the session default. At production
    * scale the right value is sized to the state volume — this knob is
    * per-query, exactly as it would be there.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- shared builders -------------------------------------------------

  /** Batch-inference-shaped frame built from orders+lineitem: per order,
    * `input.itemId` = orderkey, `output.recommendedItems` = partkeys of
    * its qty<48 lineitems ordered by linenumber, `error` set on 'F'
    * status rows. Orders whose lineitems are all filtered keep a null
    * rec array (exercises posexplode_outer's outer semantics).
    */
  /** @param rebalance parallelize the orders scan before the batch
    *   join (see [[balancedScan]]). Opt-in per consumer: worth ~1 s
    *   where the full struct/array assembly is kept (riPipeline, the
    *   sinks), pure exchange overhead where column pruning leaves the
    *   serial stage trivial (counts, the split projections).
    */
  def riBatch(s: SparkSession, dir: String,
      rebalance: Boolean = false): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o0 = t(s, dir, "orders")
    val o = if (rebalance) balancedScan(o0) else o0
    val recs = li.where(col("l_quantity") < 48)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"),
        col("l_partkey")))).as("pr"))
      .select(col("l_orderkey"),
        transform(col("pr"), x => x.getField("l_partkey").cast("string"))
          .as("recommendedItems"))
    o.join(recs, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(
        struct(col("o_orderkey").cast("string").as("itemId")).as("input"),
        struct(col("recommendedItems")).as("output"),
        when(col("o_orderstatus") === "F", lit("SIMULATED_ERROR"))
          .as("error"))
  }

  /** User-item mapping: each order "item" maps to the suppliers that
    * stocked it — a genuine 1-to-many reverse mapping like the
    * reference's user_item_mapping CSV.
    */
  def riMapping(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      // distinct on the raw longs (16-byte shuffle rows), cast after —
      // not the other way around, which shuffles the formatted strings
      .select(col("l_suppkey"), col("l_orderkey")).distinct()
      .select(col("l_suppkey").cast("string").as("USER_ID"),
        col("l_orderkey").cast("string").as("ITEM_ID"))

  /** Item metadata keyed by string part id. */
  def partMetadata(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey").cast("string").as("id"),
      col("p_brand"), col("p_name"), col("p_retailprice"))

  /** Flatten an assembled recommendations frame to oracle-comparable
    * columns.
    */
  private[graft] def flattenRecs(df: DataFrame, keys: Seq[String])
      : DataFrame =
    df.select(keys.map(col) ++ Seq(
      size(col("recommendations")).cast("long").as("n_recs"),
      when(size(col("recommendations")) === 0, lit(null))
        .otherwise(array_join(
          transform(col("recommendations"), r => r.getField("itemId")),
          ",", "NULL")).as("rec_items"),
      when(size(col("recommendations")) === 0, lit(null))
        .otherwise(array_join(
          transform(col("recommendations"), r => r.getField("p_brand")),
          ",", "NULL")).as("rec_brands")): _*)

  // ---- pipeline queries ------------------------------------------------

  /** Flagship: the full related-items dataflow (S1,P1-P7,J1,J2,G1,W1/A1
    * rewrite,U1) — reference `related_items_etl.py:99-315`. Runs the
    * production composition ([[graft.jobs.Jobs.assemble]]): one list per
    * query item, fanned out to its mapped users after assembly.
    */
  def riPipeline(s: SparkSession, dir: String): DataFrame = {
    val (ok, _) = Ops.splitErrors(riBatch(s, dir, rebalance = true))
    val exploded = Ops.explodeRecs(ok, "input.itemId", "queryItemId", Nil)
    val assembled = Jobs.assemble(exploded, "queryItemId",
      Some(partMetadata(s, dir)), Seq("p_brand"),
      Some(Ops.mappingPairCounts(riMapping(s, dir))))
    val stamped = Ops.stampJobInfo(assembled, "related_items_job", RunTs,
      Some(("recommendation_", Map("country" -> "US"))))
    flattenRecs(stamped, Seq("queryItemId", "userId"))
      .withColumn("jobName", lit("related_items_job"))
      .withColumn("runDateTime", lit(RunTs))
      .orderBy("queryItemId", "userId")
  }

  /** User-personalization variant (`user_personalization_etl.py:157-263`
    * with quirks §2.13#1-2 fixed): keyed by queryUserId, no mapping join,
    * through the production composition ([[graft.jobs.Jobs.assemble]]).
    * "Users" are customers; their recs = parts across their orders.
    */
  def upPipeline(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val batch = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(sort_array(collect_list(struct(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey")))).as("pr"))
      .select(
        struct(col("o_custkey").cast("string").as("userId")).as("input"),
        struct(transform(col("pr"),
          x => x.getField("l_partkey").cast("string"))
          .as("recommendedItems")).as("output"),
        lit(null).cast("string").as("error"))
    val (ok, _) = Ops.splitErrors(batch)
    val exploded = Ops.explodeRecs(ok, "input.userId", "queryUserId", Nil)
    val assembled = Jobs.assemble(exploded, "queryUserId",
      Some(partMetadata(s, dir)), Seq("p_brand"), None)
    flattenRecs(assembled, Seq("queryUserId")).orderBy("queryUserId")
  }

  // ---- source / sink queries -------------------------------------------

  /** S1 + §1.3: JSONL written WITHOUT an `error` field, read back with
    * the explicit schema — backfill makes `WHERE error IS NULL` legal.
    */
  def jsonlBackfill(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("backfill")
    t(s, dir, "orders")
      .select(struct(col("o_orderkey").cast("string").as("itemId"))
        .as("input"))
      .write.mode("overwrite").json(d)
    val schema = StructType(Seq(
      StructField("input", StructType(Seq(StructField("itemId",
        StringType)))),
      StructField("error", StringType)))
    Readers.jsonl(s, d, schema)
      .where(col("error").isNull)
      .select(col("input.itemId").as("queryItemId"), col("error"))
      .orderBy("queryItemId")
  }

  /** Schema evolution on a parquet directory: a second writer appends
    * files carrying an extra column, and a mergeSchema read must unify
    * them — pre-evolution rows surface the new column as null. The
    * lake reality for any long-lived dataset.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("evo")
    val o = t(s, dir, "orders")
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(d)
    o.where(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .write.mode("append").parquet(d)
    s.read.option("mergeSchema", "true").parquet(d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** S2: header/quoted CSV round-trip through [[Readers.csv]]. */
  def csvScan(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("csv")
    riMapping(s, dir).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(d)
    Readers.csv(s, d, graft.schema.Schemas.userItemMapping)
      .orderBy("USER_ID", "ITEM_ID")
  }

  /** Malformed-line tolerance: PERMISSIVE JSONL read with a captured
    * corrupt-record column — bad lines become null-field rows with the
    * raw text preserved, never a failed job (the DynamicFrame behaviour
    * the reference relies on, made explicit).
    */
  def corruptTolerant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = tmp("corrupt")
    t(s, dir, "region")
      .select(to_json(struct(col("r_regionkey").as("key"),
        col("r_name").as("name"))).as("value"))
      .unionByName(Seq("{not json", "xxx", "{\"key\":")
        .toDF("value"))
      .coalesce(1).write.mode("overwrite").text(d)
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("name", StringType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(d)
      .agg(
        count(when(col("key").isNotNull, 1)).as("n_valid"),
        count(when(col("key").isNull, 1)).as("n_corrupt"))
  }

  /** S6: gzip-compressed JSONL read transparently by the codec-aware
    * source (reference streams .gz objects by hand, `enqueue.py:40-43`).
    */
  def jsonlGzip(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("gz")
    t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("nationkey"),
        col("n_name").as("name"))
      .write.mode("overwrite").option("compression", "gzip").json(d)
    val schema = StructType(Seq(StructField("nationkey", LongType),
      StructField("name", StringType)))
    Readers.jsonl(s, d, schema).orderBy("nationkey")
  }

  /** S3: existence-gated metadata read — a present dir reads, an absent
    * one yields None (not an exception), and the query proves both.
    */
  def metadataGated(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("meta")
    partMetadata(s, dir).select("id", "p_brand").write
      .mode("overwrite").json(d)
    val present = Readers.jsonlInferIfExists(s, d)
    val absent = Readers.jsonlInferIfExists(s, s"$d/__nope__")
    require(absent.isEmpty, "existence gate failed")
    present.get.select(col("id"), col("p_brand")).orderBy("id")
  }

  /** K1 + S4: run-time-partitioned JSONL sink, then read back through the
    * state-style reader — proves the year=/month=/day=/time= layout and
    * the write/read round-trip.
    */
  def sinkRuntimePartition(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sink")
    val out = t(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("regionkey"),
        col("r_name").as("name"))
    val clock = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val written = Writers.connectorOutput(out, d, "braze", clock)
    require(written.endsWith("braze/year=2024/month=01/day=01/time=000000"),
      s"bad partition layout: $written")
    val schema = StructType(Seq(StructField("regionkey", LongType),
      StructField("name", StringType)))
    Readers.jsonl(s, s"$d/braze", schema).orderBy("regionkey")
  }


  /** K2: gated errors sink — the error split written through
    * [[Writers.errors]] into the `errors/<jobType>/year=.../time=...`
    * layout and read back (reference `related_items_etl.py:114-133`).
    * Also proves the gate inline: a disabled write and an empty frame
    * both return None and leave nothing on disk.
    */
  def errorsSink(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("errsink")
    val (_, errs) = Ops.splitErrors(riBatch(s, dir, rebalance = true))
    val clock = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    require(Writers.errors(errs, d, "related_items", clock,
      enabled = false).isEmpty, "disabled gate wrote anyway")
    require(Writers.errors(errs.limit(0), d, "related_items", clock,
      enabled = true).isEmpty, "empty frame wrote anyway")
    val written = Writers.errors(errs, d, "related_items", clock,
      enabled = true)
    require(written.exists(_.endsWith(
      "related_items/year=2024/month=01/day=01/time=000000")),
      s"bad errors layout: $written")
    Readers.jsonl(s, written.get, errs.schema)
      .select(col("input.itemId").as("queryItemId"), col("error"))
      .orderBy("queryItemId")
  }

  /** S5: config JSON -> JobConfig (scoping rule §2.13#3: connector-level
    * performDeltaCheck overrides top level).
    */
  def configParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = JobConfig.parse("""{
      "batchInferencePath": "data/batch_inference/related_items",
      "performDeltaCheck": true,
      "saveBatchInferenceErrors": false,
      "connectors": {
        "braze": {
          "itemMetadataFields": ["p_brand", "p_name"],
          "attributePrefix": "rec_",
          "otherAttributes": {"country": "US"},
          "performDeltaCheck": false
        },
        "other": {}
      }
    }""")
    Seq((
      cfg.batchInferencePath,
      cfg.performDeltaCheck.toString,
      cfg.saveBatchInferenceErrors.toString,
      cfg.deltaCheckFor("braze").toString,   // connector override -> false
      cfg.deltaCheckFor("other").toString,   // falls back to top -> true
      cfg.connectors("braze").attributePrefix,
      cfg.connectors("braze").itemMetadataFields.mkString(","),
      cfg.connectors("braze").otherAttributes("country")
    )).toDF("batchInferencePath", "topDelta", "saveErrors", "brazeDelta",
      "otherDelta", "prefix", "metaFields", "country")
  }

  // ---- filter / projection / join queries ------------------------------

  /** P1+P3: success side of the error split. */
  def errorSplitOk(s: SparkSession, dir: String): DataFrame = {
    val (ok, _) = Ops.splitErrors(riBatch(s, dir))
    ok.select(col("input.itemId").as("queryItemId"),
        size(col("output.recommendedItems")).cast("long").as("n_recs"))
      .orderBy("queryItemId")
  }

  /** P2: error side, error column intact. */
  def errorSplitErr(s: SparkSession, dir: String): DataFrame = {
    val (_, errs) = Ops.splitErrors(riBatch(s, dir))
    errs.select(col("input.itemId").as("queryItemId"), col("error"))
      .orderBy("queryItemId")
  }

  /** J1+P4: reverse mapping join on the nested key, ITEM_ID dropped. */
  def joinMapUsers(s: SparkSession, dir: String): DataFrame = {
    val (ok, _) = Ops.splitErrors(riBatch(s, dir))
    val merged = Ops.mapUsers(ok, riMapping(s, dir))
    require(!merged.columns.contains("ITEM_ID"), "ITEM_ID not dropped")
    merged.select(col("input.itemId").as("queryItemId"),
        col("USER_ID").as("userId"))
      .orderBy("queryItemId", "userId")
  }

  /** J2+P7: left-outer decoration against a FILTERED metadata dim so
    * misses are observable: missing items keep itemId, null brand.
    */
  def joinDecorateLeft(s: SparkSession, dir: String): DataFrame = {
    val exploded = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("queryItemId"),
        col("l_linenumber").cast("long").as("pos"),
        col("l_partkey").cast("string").as("recItemId"))
    val meta = partMetadata(s, dir).where(col("p_retailprice") > 1500)
    Ops.decorate(exploded, Some(meta), Seq("p_brand"))
      .select(col("queryItemId"), col("pos"),
        col("recItem.itemId").as("itemId"),
        col("recItem.p_brand").as("brand"))
      .orderBy("queryItemId", "pos", "itemId")
  }

  /** G1+P5+P6: posexplode_outer round-trip — null arrays keep their
    * parent with null pos/item.
    */
  def posexplodeOuter(s: SparkSession, dir: String): DataFrame = {
    val (ok, _) = Ops.splitErrors(riBatch(s, dir))
    Ops.explodeRecs(ok, "input.itemId", "queryItemId", Nil)
      .select(col("queryItemId"), col("pos").cast("long").as("pos"),
        col("recItemId"))
      .orderBy(col("queryItemId"), col("pos").asc_nulls_first)
  }

  /** W1: running collect_list over an ordered window (prefix lists).
    * The window orders by (l_linenumber, l_partkey) because l_linenumber
    * alone is NOT unique within an order in this data — remaining ties
    * are whole-key peers whose payload (l_partkey) is equal, so the
    * RANGE-frame peer inclusion stays deterministic.
    */
  def windowPrefix(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    t(s, dir, "lineitem")
      .withColumn("prefix", collect_list(col("l_partkey")).over(w))
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        col("l_partkey").cast("string").as("partkey"),
        size(col("prefix")).cast("long").as("prefix_len"),
        element_at(col("prefix"), -1).cast("string").as("prefix_last"))
      .orderBy("l_orderkey", "l_linenumber", "partkey")
  }

  /** pos must order rows uniquely up to payload equality: l_linenumber
    * alone ties (non-unique in this data) and the tie would then break on
    * the STRING itemId inside the struct — diverging from any numeric
    * oracle. Composite numeric pos = linenumber*1e6 + partkey fixes both.
    */
  private def decoratedLite(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey").cast("string").as("queryItemId"),
      (col("l_linenumber").cast("long") * 1000000L + col("l_partkey"))
        .as("pos"),
      struct(col("l_partkey").cast("string").as("itemId")).as("recItem"))

  private def flattenLite(df: DataFrame): DataFrame =
    df.select(col("queryItemId"),
        size(col("recommendations")).cast("long").as("n_recs"),
        array_join(transform(col("recommendations"),
          r => r.getField("itemId")), ",", "NULL").as("rec_items"))
      .orderBy("queryItemId")

  /** A1, optimized shape: single groupBy + sort_array(collect_list). */
  def assembleGroupBy(s: SparkSession, dir: String): DataFrame =
    flattenLite(Ops.assembleRecommendations(decoratedLite(s, dir),
      Seq("queryItemId")))

  /** A1, reference shape: window prefix lists + groupBy.max — same
    * oracle as [[assembleGroupBy]] (the differential pair).
    */
  def assembleWindow(s: SparkSession, dir: String): DataFrame =
    flattenLite(Ops.assembleRecommendationsWindowed(decoratedLite(s, dir),
      "queryItemId", Seq("queryItemId")))

  // ---- delta / set-op queries ------------------------------------------

  /** Merkle-style reconciliation (operators/Reconcile.merkleDiff):
    * orders vs a tampered copy (prices bumped for o_orderkey % 97 = 0,
    * rows deleted for % 101 = 0) — bucket digests localize the damage,
    * the row-level set difference runs only inside dirty buckets. The
    * oracle states the SEMANTICS (two-way EXCEPT key sets), not the
    * bucketing, so a digest false-clean or a lost dirty bucket turns
    * the row red.
    */
  def merkleDiffQ(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders")
    val b = a.where(col("o_orderkey") % 101 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    graft.operators.Reconcile.merkleDiff(a, b, Seq("o_orderkey"),
        nBuckets = 256)
      .orderBy("side", "o_orderkey")
  }

  /** A4+P8: whole-row EXCEPT DISTINCT against last-sync state. Output is
    * totally ordered (all four columns) — (l_orderkey, l_linenumber) is
    * not a unique key in this data.
    */
  def deltaExcept(s: SparkSession, dir: String): DataFrame = {
    val cur = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_partkey"), col("l_quantity"))
    val state = t(s, dir, "lineitem")
      .where(col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
    Ops.deltaCheck(cur, state)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
  }

  /** A4 at scale: keyed xxhash64 variant over the orders table, whose
    * o_orderkey IS unique (the keyed design's precondition — lineitem has
    * none). State = pre-1999 orders, so the delta is exactly the 1999+
    * rows: key-absent-from-state, payload hash never differing
    * (SURVEY.md §4.3#3 — one narrow shuffle instead of a wide-row EXCEPT
    * aggregate).
    */
  def deltaKeyed(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val cols = Seq(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val cur = o.select(cols: _*)
    val state = o.where(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      .select(cols: _*)
    Ops.deltaCheckKeyed(cur, state, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** P8 standalone: canonical column order. */
  def canonicalize(s: SparkSession, dir: String): DataFrame = {
    val out = Ops.canonicalizeColumns(t(s, dir, "part"))
    require(out.columns.sameElements(out.columns.sorted), "not sorted")
    out.orderBy("p_partkey")
  }

  /** A2: the reference's 7 count() actions collapsed to one pass. */
  def counts(s: SparkSession, dir: String): DataFrame = {
    val batch = riBatch(s, dir).cache()
    try {
      val agg = batch.agg(
        count(lit(1)).as("total"),
        count(when(col("error").isNull, 1)).as("ok_cnt"),
        count(col("error")).as("err_cnt"))
      agg.crossJoin(riMapping(s, dir).agg(count(lit(1))
        .as("mapping_cnt")))
    } finally batch.unpersist()
  }

  // ---- stamp / scalar / pivot queries ----------------------------------

  /** U1: constant-folded jobInfo/syncDirectives stamping. */
  def stampJobInfo(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "region")
      .select(col("r_regionkey").cast("string").as("userId"))
    Ops.stampJobInfo(base, "graft_job", RunTs,
        Some(("recommendation_", Map("country" -> "US", "tier" -> "gold"))))
      .select(col("userId"), col("jobInfo.name").as("jobName"),
        col("jobInfo.runDateTime").as("runDateTime"),
        col("syncDirectives.attributePrefix").as("attributePrefix"),
        col("syncDirectives.country").as("country"),
        col("syncDirectives.tier").as("tier"))
      .orderBy("userId")
  }

  /** F4: partition-path date formatting as a column op. */
  def dateFormat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy/MM/dd").as("datepath"),
        date_format(col("o_orderdate"), "yyyy").as("year"))
      .orderBy("o_orderkey")

  /** F5: attribute-key prefixing. */
  def prefixAttrs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey").cast("string").as("itemId"),
        concat(lit("recommendation_"), col("p_brand"))
          .as("prefixed_brand"))
      .orderBy(col("itemId"))

  /** U2: the dequeue pivot — array<struct> -> prefixed struct-of-arrays
    * (reference `braze_dequeue_function/main.py:57-83`), arrays rendered
    * as ordered CSV for the oracle.
    */
  def pivotAttributes(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").cast("string").as("userId"))
      .agg(sort_array(collect_list(struct(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey")))).as("pr"))
      .select(col("userId"), transform(col("pr"),
        x => struct(x.getField("l_partkey").cast("string").as("itemId"),
          (x.getField("l_orderkey") * 10 + x.getField("l_linenumber"))
            .cast("string").as("slot"))).as("recommendations"))
    Ops.pivotAttributes(perUser, "userId", Seq("itemId", "slot"),
        "recommendation_", Map("country" -> "US", "external_id" -> "IGNORED"))
      .select(col("external_id"),
        array_join(col("recommendation_itemId"), ",").as("rec_items"),
        array_join(col("recommendation_slot"), ",").as("rec_slots"),
        col("country"))
      .orderBy("external_id")
  }

  /** U2 per-record variant (Ops.pivotAttributesPerRecord): ONE pivot
    * over records stamped by two different connectors — even users carry
    * the reference's nested wire shape (`attributePrefix` "rec_a_",
    * nested otherAttributes.country), odd users carry no prefix (falls
    * back to "recommendation_") and a flattened `tier` field. Output is
    * the exploded (external_id, attr, value) long form.
    */
  def pivotPerRecord(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").cast("string").as("userId"))
      .agg(sort_array(collect_list(struct(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey")))).as("pr"))
      .select(col("userId"), transform(col("pr"),
        x => struct(x.getField("l_partkey").cast("string").as("itemId"),
          (x.getField("l_orderkey") * 10 + x.getField("l_linenumber"))
            .cast("string").as("slot"))).as("recommendations"))
    val mixed = perUser.withColumn("syncDirectives",
      when(col("userId").cast("long") % 2 === 0,
        struct(lit("rec_a_").as("attributePrefix"),
          struct(lit("US").as("country")).as("otherAttributes"),
          lit(null).cast("string").as("tier")))
        .otherwise(struct(
          lit(null).cast("string").as("attributePrefix"),
          lit(null).cast("struct<country:string>").as("otherAttributes"),
          lit("gold").as("tier"))))
    Ops.pivotAttributesPerRecord(mixed, "userId", Seq("itemId", "slot"))
      .orderBy("external_id", "attr")
  }

  // ---- event-stream queries --------------------------------------------

  /** Tumbling-window aggregation over the events table (batch shape of
    * the streaming windowed agg; watermark variant in StreamingSpec).
    * events.ts has been generated both as TIMESTAMP(NANOS) parquet
    * (surfacing as a ns long under `spark.sql.legacy.parquet.nanosAsLong`)
    * and as timestamp[us] (surfacing as TIMESTAMP_NTZ) — every events
    * query normalizes through [[graft.operators.Events.tsMicros]], which
    * adapts to whichever encoding the scan produced.
    */
  def eventsWindow(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .withColumn("tstamp",
        timestamp_micros(graft.operators.Events.tsMicros(raw)))
    graft.operators.Events.windowedAgg(ev, tsCol = "tstamp")
      .orderBy("window_start", "event_type")
  }

  /** Sliding-window variant of [[eventsWindow]]: 1-hour windows sliding
    * every 30 minutes, so each event lands in exactly 2 windows.
    */
  def eventsSliding(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .withColumn("tstamp",
        timestamp_micros(graft.operators.Events.tsMicros(raw)))
    graft.operators.Events.windowedAgg(ev, tsCol = "tstamp",
        slide = Some("30 minutes"))
      .orderBy("window_start", "event_type")
  }

  /** Spark's native session_window operator (gap 30 min): session start
    * = first event, end = last event + gap. Boundaries computed at
    * microsecond precision, formatted to seconds for comparison.
    */
  def sessionWindowQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .withColumn("tstamp",
        timestamp_micros(graft.operators.Events.tsMicros(raw)))
    ev.groupBy(col("user_id"),
        session_window(col("tstamp"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Gap-based sessionization + per-session rollup; event_id breaks
    * ordering ties, and ordering uses microsecond precision to match
    * what DuckDB sees after its ns->us parquet truncation.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    val sessions = graft.operators.Events.sessionize(ev, "user_id", "ts_s",
      gapMinutes = 30, orderCols = Seq("ts_us", "event_id"))
    graft.operators.Events.sessionStats(sessions, "user_id", "ts_s")
      .orderBy("user_id", "session_seq")
  }

  /** Next-event training sequences (Events.sessionPrefixes): per
    * event, up to 10 prior session event ids as input and the event as
    * label — the sequence-model example generator, with the same
    * ns->us ordering discipline as [[sessionize]]. The oracle replays
    * sessionization plus a bounded-frame list window. The prefix is
    * surfaced comma-joined — the driver's value hash has no proven
    * array-column path, and the string form is order-exact anyway.
    */
  def sessionPrefixesQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    graft.operators.Events.sessionPrefixes(ev, "user_id", "ts_s",
        "event_id", gapMinutes = 30,
        orderCols = Seq("ts_us", "event_id"), maxPrefix = 10)
      .select(col("user_id"), col("session_seq"),
        array_join(col("prefix"), ",").as("prefix"), col("label"))
      .orderBy("user_id", "session_seq", "label")
  }

  /** [[sessionize]] through the hot-key-safe two-phase shape
    * (Events.sessionizeBucketed, daily time buckets — coarse enough
    * that a sparse uniform timeline doesn't shred into a
    * one-row-per-bucket summary, fine enough to spread a hot entity
    * over range/86400 reducers): output-identical to the plain
    * per-user window — the oracle
    * is q_sessionize's — but no reducer ever sorts one user's whole
    * timeline, so a hot user costs its bucket count, not its event
    * count (2.3x-and-growing at the x100 skew probe on the plain
    * shape).
    */
  def sessionizeBucketedQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    val sessions = graft.operators.Events.sessionizeBucketed(ev,
      "user_id", "ts_s", gapMinutes = 30,
      orderCols = Seq("ts_us", "event_id"), bucketSeconds = 86400L)
    graft.operators.Events.sessionStats(sessions, "user_id", "ts_s")
      .orderBy("user_id", "session_seq")
  }

  /** [[sessionPrefixesQ]] with the embedded sessionize routed through
    * the bucketed two-phase shape — same oracle as q_session_prefixes.
    */
  def sessionPrefixesBucketedQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    graft.operators.Events.sessionPrefixes(ev, "user_id", "ts_s",
        "event_id", gapMinutes = 30,
        orderCols = Seq("ts_us", "event_id"), maxPrefix = 10,
        bucketSeconds = Some(86400L))
      .select(col("user_id"), col("session_seq"),
        array_join(col("prefix"), ",").as("prefix"), col("label"))
      .orderBy("user_id", "session_seq", "label")
  }

  /** Time-windowed event dedup (Events.dedupWithin): drop events of the
    * same (user, type) within 60s of their immediate predecessor —
    * at-least-once log cleanup. Same ns->us ordering discipline as
    * [[sessionize]]; gap arithmetic on floor-seconds.
    */
  def eventDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("event_id"), col("user_id"), col("event_type"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    graft.operators.Events.dedupWithin(ev, Seq("user_id", "event_type"),
        "ts_s", windowSeconds = 60, orderCols = Seq("ts_us", "event_id"))
      .select("event_id", "user_id", "event_type", "ts_s")
      .orderBy("event_id")
  }

  /** As-of join (operators/AsofJoin): each purchase decorated with the
    * user's latest at-or-before view, via the union+window shape — the
    * plan contains NO join operator at all (PlanRegressionSpec). Oracle:
    * DuckDB's native ASOF LEFT JOIN.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_id"), col("ts_us").as("view_ts_us"))
    graft.operators.AsofJoin.asofBackward(purchases, views,
        Seq("user_id"), "ts_us")
      .orderBy("user_id", "ts_us")
  }

  /** [[asofJoin]] through the hot-key-safe bucketed carry
    * (AsofJoin.asofBackwardBucketed, daily buckets over epoch-micros):
    * output-identical — same DuckDB ASOF oracle as q_asof_join.
    */
  def asofJoinBucketedQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_id"), col("ts_us").as("view_ts_us"))
    graft.operators.AsofJoin.asofBackwardBucketed(purchases, views,
        Seq("user_id"), "ts_us", bucketSpan = 86400L * 1000000L)
      .orderBy("user_id", "ts_us")
  }

  /** [[sessionize]] routed through the AUTO shape
    * (Events.sessionizeAuto): a per-user volume probe picks the plain
    * single-window or the bucketed two-phase shape from the data —
    * the VERDICT r15 #1 ask, since neither static default is right at
    * 100 TB. Same oracle as q_sessionize: the route never changes the
    * output, only the plan. On the gate's near-uniform events table
    * the probe picks plain; ShapeSpec pins that the skewed fixture
    * flips it.
    */
  def sessionizeAutoQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    val sessions = graft.operators.Events.sessionizeAuto(ev,
      "user_id", "ts_s", gapMinutes = 30,
      orderCols = Seq("ts_us", "event_id"), bucketSeconds = 86400L)
    graft.operators.Events.sessionStats(sessions, "user_id", "ts_s")
      .orderBy("user_id", "session_seq")
  }

  /** [[sessionPrefixesQ]] through the auto route (one probe covers
    * the embedded sessionize and the prefix window) — same oracle as
    * q_session_prefixes.
    */
  def sessionPrefixesAutoQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(
        col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    graft.operators.Events.sessionPrefixesAuto(ev, "user_id", "ts_s",
        "event_id", gapMinutes = 30,
        orderCols = Seq("ts_us", "event_id"), maxPrefix = 10,
        bucketSeconds = 86400L)
      .select(col("user_id"), col("session_seq"),
        array_join(col("prefix"), ",").as("prefix"), col("label"))
      .orderBy("user_id", "session_seq", "label")
  }

  /** [[asofJoin]] through the auto route (probe over the union of
    * both sides' key volumes, span derived from the probed time range
    * when bucketed) — same DuckDB ASOF oracle as q_asof_join.
    */
  def asofJoinAutoQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("view_id"), col("ts_us").as("view_ts_us"))
    graft.operators.AsofJoin.asofBackwardAuto(purchases, views,
        Seq("user_id"), "ts_us")
      .orderBy("user_id", "ts_us")
  }

  /** The shape probe's verdicts, oracle-gated (ShapeSelect.decide):
    * the same events scan probed on its near-uniform user_id key
    * (expected route: plain) and on its 5-value event_type key
    * (top share ~0.2 — route: bucketed). The DuckDB oracle replays
    * the decision rule — share >= 0.05 OR top rows >= 4e6 — so the
    * gate checks the routing PREDICATE itself, at any SF, not just
    * the routed outputs.
    */
  def shapeDecisionQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = t(s, dir, "events")
    def probe(label: String, key: String) = {
      val d = graft.operators.ShapeSelect.decide(
        raw.select(col(key),
          graft.operators.Events.tsMicros(raw).as("ts_us")),
        Seq(key), "ts_us")
      // HALF_UP to 6 places matches DuckDB's round() on the oracle
      // side (same convention as the keySkew share)
      val share = new java.math.BigDecimal(d.topShare)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      (label, d.nRows, d.nKeys, d.topRows, share, d.bucketed)
    }
    Seq(probe("by_type", "event_type"), probe("by_user", "user_id"))
      .toDF("label", "n_rows", "n_keys", "top_rows", "top_share",
        "bucketed")
      .orderBy("label")
  }

  /** Join-cardinality advisor (JoinAdvisor.advise, p=5,
    * broadcastRows=2000): exact per-side row counts, raw-HLL distinct
    * estimates of the join keys, EXACT estimated payload bytes (the
    * deterministic width model: 8/row + defaultSize per fixed field +
    * octet_length+8 per string field), the containment output
    * estimate, and the routed strategy — all bit-replayable (the
    * [[graft.operators.Sketches]] md5-60 register idiom; strategy is
    * a CASE over exact counts AND exact bytes). At sf0.01 the
    * 1500-row customer side routes broadcast_right; at sf0.1 it
    * crosses the row threshold and the 4x size ratio routes
    * shuffle_hash_right — the oracle derives the same from the data.
    */
  def joinAdvisorQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = graft.operators.JoinAdvisor.advise(
      t(s, dir, "orders"), t(s, dir, "customer"),
      "o_custkey", "c_custkey", p = 5, broadcastRows = 2000L)
    Seq((a.nLeft, a.nRight, a.dLeft, a.dRight, a.bLeft, a.bRight,
        a.estRows, a.strategy, a.explosive))
      .toDF("n_left", "n_right", "d_left", "d_right", "b_left",
        "b_right", "est_rows", "strategy", "explosive")
  }

  /** Streaming join advisor (JoinAdvisor.profileRegisters, VERDICT r19
    * stretch): the fact side's profile accumulates as a complete-mode
    * STREAMING aggregation — register state is <= 2^p rows forever,
    * max/count/sum folds — over multi-micro-batch JSONL arrival, then
    * the accumulated state routes the join against the batch-profiled
    * dim exactly as the all-batch advisor would: registers are
    * merge-order-free, so the streamed profile equals the batch
    * profile bit-for-bit and the oracle IS the batch replay
    * (q_join_advisor's SQL verbatim).
    */
  def streamingAdvisorQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.JoinAdvisor
    val d = tmp("sadv")
    t(s, dir, "orders").write.mode("overwrite").json(s"$d/in")
    // explicit schema mirroring the parquet table: the width model is
    // schema-derived, so the JSON round-trip must not retype columns
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val table =
      "sadv_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = JoinAdvisor.profileRegisters(src, "o_custkey", p = 5)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val lp = JoinAdvisor.profileFromRegisters(
      s.table(table).collect(), p = 5)
    val rp = JoinAdvisor.profile(t(s, dir, "customer"), "c_custkey",
      p = 5)
    val a = JoinAdvisor.adviseProfiles(lp, rp, broadcastRows = 2000L)
    Seq((a.nLeft, a.nRight, a.dLeft, a.dRight, a.bLeft, a.bRight,
        a.estRows, a.strategy, a.explosive))
      .toDF("n_left", "n_right", "d_left", "d_right", "b_left",
        "b_right", "est_rows", "strategy", "explosive")
  }

  /** Advisor-routed equi-join (JoinAdvisor.autoJoin): the decided
    * strategy enters the plan as a hint; every strategy is
    * output-identical, so the oracle is the plain join + rollup
    * (the [[bloomJoinQ]] convention — decimal accumulation for
    * bit-stable totals).
    */
  def autoJoinQ(s: SparkSession, dir: String): DataFrame = {
    val (joined, _) = graft.operators.JoinAdvisor.autoJoin(
      t(s, dir, "orders"), t(s, dir, "customer"),
      "o_custkey", "c_custkey", broadcastRows = 2000L)
    joined.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(30,15)"))
          .cast("double"), 2).as("sum_total"))
      .orderBy("c_nationkey")
  }

  /** Engine-exact Pearson correlation (Profile.correlation): the five
    * moments as DECIMAL(12,6)-exact sums (partition-proof, unlike
    * built-in corr's merge-order-dependent double moments), one
    * fixed-order double formula per pair — replayed bit-for-bit by
    * the oracle's FILTERed decimal sums.
    */
  def correlationQ(s: SparkSession, dir: String): DataFrame =
    // scale 2 (round 22): quantity is integral, price/discount carry
    // exactly 2 decimals, so the decimal sums — and hence r — are
    // bit-identical to the scale-6 form while the accumulation stays
    // on the long-backed Decimal fast path (see the operator's doc;
    // was 2.8 s of BigDecimal adds in one scan-fused serial stage)
    // balancedScan: the whole decimal-moment aggregation fuses into
    // the scan stage, which a single-row-group file caps at 1-3 tasks
    // (2.5 s serial cpu); the moments are associative decimal sums —
    // partitioning cannot change them — so rebalancing is free
    graft.operators.Profile.correlation(
        balancedScan(t(s, dir, "lineitem")
          .select("l_quantity", "l_extendedprice", "l_discount")),
        Seq(("l_quantity", "l_extendedprice"),
          ("l_quantity", "l_discount")), scale = 2)
      .orderBy("col_a", "col_b")

  /** Data-quality rule engine (Checks.run): completeness, exact
    * uniqueness, range/set membership — all in ONE aggregation pass —
    * plus a left-anti referential-integrity probe against the
    * customer dim. Metrics are exact counts turned into one
    * HALF_UP-rounded ratio, so the oracle replays every verdict
    * bit-for-bit (in_range/in_set thresholds chosen so metrics are
    * non-trivial fractions, not 1.0).
    */
  def qualityChecksQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Checks
    Checks.run(t(s, dir, "orders"), Seq(
        Checks.NotNull("o_custkey"),
        Checks.Unique("o_orderkey"),
        Checks.InRange("o_totalprice", 0.0, 250000.0, minRatio = 0.4),
        Checks.InSet("o_orderstatus", Seq("O", "F"), minRatio = 0.5),
        Checks.Like("o_orderpriority", "_-%", minRatio = 1.0),
        Checks.Predicate("o_totalprice",
          "o_totalprice >= o_custkey * 100", minRatio = 0.5),
        Checks.RefIntegrity("o_custkey", t(s, dir, "customer"),
          "c_custkey")))
      .orderBy("rule")
  }

  /** Skew-safe salted equi-join (Skew.saltedJoin): lineitem facts
    * scattered over 8 salted sub-partitions, orders dim replicated per
    * salt. Row-identical to the plain join, so the oracle is the plain
    * join.
    */
  def saltedJoinQ(s: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
          col("l_linenumber")),
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority")),
        factKey = "l_orderkey", dimKey = "o_orderkey", salts = 8)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("o_orderpriority"))
      .orderBy("l_orderkey", "l_partkey", "l_linenumber")

  /** The SQL surface: the same engine driven through `spark.sql` over
    * registered views — a TPC-H-Q1-flavored pricing summary. Decimal
    * accumulation keeps the sums order-independent (the engine's
    * convention for oracle-exact floating aggregates), surfaced as
    * doubles.
    */
  def sqlApi(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem_v
      WHERE l_quantity < 50
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  }

  /** Partition-pruned scan: orders rewritten partitioned by year, then
    * aggregated under a partition-key filter — the scan must list only
    * the matching year directory (PartitionFilters in the plan, asserted
    * in PlanRegressionSpec). At 100 TB this is the difference between
    * reading one partition and reading everything.
    */
  def partitionPruned(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("pruned")
    t(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(d)
    s.read.parquet(d).where(col("o_year") === 1996)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"))
      .orderBy("o_orderpriority")
  }

  /** Multi-dimensional aggregate: ROLLUP over (status, priority) with
    * grouping_id disambiguating subtotal levels. Integer-only payloads
    * keep every total order-independent and oracle-exact.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("o_custkey")).as("sum_cust"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Wide pivot: order counts per priority spread across status columns
    * (fixed column set, so the plan is one aggregate — no second pass to
    * discover pivot values).
    */
  def pivotWide(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P")).count()
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_finished"),
        coalesce(col("P"), lit(0L)).as("n_pending"))
      .orderBy("o_orderpriority")

  /** Left-semi + left-anti joins: customers split by whether they have
    * orders, in one union-tagged result.
    */
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"))
    val o = t(s, dir, "orders").select(col("o_custkey"))
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_orders", lit(true))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_orders", lit(false))
    semi.unionByName(anti).orderBy("c_custkey")
  }

  // ---- sink / streaming queries ----------------------------------------

  /** K3 + §2.11: file-relay streaming source (bookmark-equivalent) into
    * the batched queue sink; output = drained queue contents.
    */
  def queueRelay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = tmp("relay")
    val qname = s"relay-${java.util.UUID.randomUUID()}"
    Writers.connectorOutput(t(s, dir, "supplier")
      .select(col("s_suppkey").cast("string").as("userId"),
        col("s_name").as("name")), d, "out",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    val schema = StructType(Seq(StructField("userId", StringType),
      StructField("name", StringType)))
    FileRelay.relayToQueue(s, s"$d/out", schema, s"$d/ckpt",
      Sinks.InMemoryQueueTransport(qname), "userId")
    val drained = Sinks.InMemoryQueues.drain(qname).map(_.body)
    s.read.json(drained.toDS())
      .select(col("userId"), col("name")).orderBy("userId")
  }

  /** K4: REST sink with 75-batching and retry — transport stub counts
    * posts; output is (n_posts, n_rows, n_dead).
    */
  def restSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val posts = s.sparkContext.longAccumulator("posts")
    val rows = s.sparkContext.longAccumulator("rows")
    val transport = new Sinks.RestTransport {
      def post(objs: Seq[String]): Boolean = {
        posts.add(1); rows.add(objs.size); true
      }
    }
    val df = t(s, dir, "customer")
      .select(col("c_custkey").cast("string").as("external_id"),
        col("c_mktsegment"))
      .repartition(1) // deterministic batch count for the oracle
    Sinks.restSink(df, transport)
    Seq((posts.value, rows.value, 0L)).toDF("n_posts", "n_rows", "n_dead")
  }

  /** Dequeue-side validation (Sinks.validateDequeue): either user-id
    * spelling resolves via coalesce, and rows with no id or an empty
    * `recommendations` list reject (reference
    * `braze_dequeue_function/main.py:57-65`). Synthesizes both spellings
    * and both failure modes from `customer`; output is the accepted rows.
    */
  def dequeueValidate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "customer").select(
      when(col("c_custkey") % 2 === 0, col("c_custkey").cast("string"))
        .as("queryUserId"),
      when(col("c_custkey") % 3 =!= 0, concat(lit("u"), col("c_custkey")))
        .as("userId"),
      expr("slice(array(c_mktsegment, c_name), 1, " +
        "CAST(c_custkey % 5 AS INT))").as("recommendations"))
    val (valid, _) = Sinks.validateDequeue(docs)
    valid
      .select(col("external_id"), size(col("recommendations")).as("n_recs"))
      .orderBy("external_id")
  }

  /** §2.12 attribution, driver-checkable: the streaming view->conversion
    * interval join ([[Attribution.viewConversionJoin]]) run over static
    * frames — batch execution of the same plan (EventTimeWatermark is
    * eliminated on non-streaming inputs; the join condition is
    * identical), so DuckDB can oracle it as a plain range join.
    * Conversions = purchases within 1 day of a view by the same user.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .withColumn("tstamp",
        timestamp_micros(graft.operators.Events.tsMicros(raw)))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("tstamp").as("view_ts"),
        col("event_id").as("view_id"))
    val convs = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("conv_user"), col("tstamp").as("conv_ts"),
        col("event_id").as("conv_id"))
    Attribution.viewConversionJoin(views, "user_id", "view_ts",
        convs, "conv_user", "conv_ts", windowSpec = "1 DAY",
        delay = "2 hours")
      .select(col("user_id"), col("view_id"), col("conv_id"))
      .orderBy("user_id", "view_id", "conv_id")
  }

  /** §2.12 streaming dedup, driver-checkable: an AvailableNow streaming
    * run of [[StreamingDedup.dedupByContent]] over a JSONL fixture
    * (documents plus case/whitespace-mangled duplicates of doc_id < 100,
    * the q_dedup_exact corpus), equivalent to batch `dropDuplicates` on
    * the content fingerprint. Output is the surviving fingerprint set —
    * identical whichever duplicate of a group arrives first, so the
    * oracle is `SELECT DISTINCT md5(normalized text)`.
    */
  def streamingDedupEquiv(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sdedupq")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val dups = docs.where(col("doc_id") < 100)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(upper(col("text").substr(lit(1), lit(10))),
          col("text").substr(lit(11), lit(Int.MaxValue)),
          lit("  ")).as("text"))
    docs.unionByName(dups)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val src = s.readStream.schema(schema).json(s"$d/in")
    val table =
      "sdedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingDedup.dedupByContent(src, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName(table)
      .outputMode("append")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(table).select(col("fp")).orderBy("fp")
  }

  /** §2.11 streaming NEAR-dup ([[graft.streaming.StreamingDedup
    * .nearDupByMinhash]]), driver-checkable: an AvailableNow run over
    * documents at T0 and their 90%-truncation twins one hour later,
    * flagged by first-wins MinHash banding with the q_dedup_minhash
    * sketch params (32 hashes x 16 bands — the regime whose batch
    * oracle proves banding catches every planted pair). The per-band
    * verdicts reduce to per-doc flags in batch (all of a doc's
    * verdicts share its micro-batch); output is the flagged planted
    * twins, and the oracle states the complete twin list — a lost
    * band collision, an expired lease, or a double-emitted verdict
    * all break the gate.
    */
  def streamingMinhashQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sminhash")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val twins = QueriesLlm.docsWithTwins(s, dir, 90)
      .where(col("doc_id") >= 100000)
    docs.withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .write.mode("overwrite").json(s"$d/in/f1")
    twins.withColumn("ts", lit("2024-01-01 01:00:00").cast("timestamp"))
      .write.mode("overwrite").json(s"$d/in/f2")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val table =
      "sminhash_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
        .withWatermark("ts", "4 hours")
      val q = StreamingDedup.nearDupByMinhash(src, "doc_id", "text",
          "ts", ttlMs = 4L * 3600 * 1000, shingleWidth = 3,
          numHashes = 32, bands = 16)
        .toDF()
        .writeStream.format("memory").queryName(table)
        .outputMode("append")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table).groupBy(col("docId").as("doc_id"))
      .agg(max(col("dup")).as("dup"))
      .where(col("dup") && col("doc_id") >= 100000)
      .select("doc_id").orderBy("doc_id")
  }

  /** Streaming distinct-count sketch, driver-checkable: the MERGEABLE
    * HLL register table ([[graft.operators.Sketches.hllRegisters]]) is
    * streaming-ready by construction — its register groupBy is a
    * bounded-state streaming aggregation (state = one max-rank row per
    * (group, register), 2^p rows per group FOREVER, regardless of
    * stream volume), run here in complete mode over multi-micro-batch
    * JSONL arrival. The final registers feed the batch
    * hllMergeEstimate; because register union is order-insensitive
    * (element-wise max), the streamed estimate is BIT-identical to the
    * batch sketch, and the oracle states the direct batch form.
    */
  def streamingHllQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("shll")
    t(s, dir, "events").select(col("user_id"), col("event_type"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val table =
      "shll_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Sketches
        .hllRegisters(src, Seq("event_type"), "user_id", p = 5)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.Sketches.hllMergeEstimate(s.table(table),
        Seq("event_type"), p = 5)
      .orderBy("event_type")
  }

  /** Streaming heavy-hitter frequencies, driver-checkable: the
    * count-min cells ([[graft.operators.Sketches.cmsCells]]) are
    * streaming-ready the same way the HLL registers are — the cell
    * groupBy is a bounded-state streaming aggregation (state = one
    * count per TOUCHED cell, at most d x w rows FOREVER, regardless
    * of stream volume), run in complete mode over multi-micro-batch
    * JSONL arrival. The final cells feed the batch [[Sketches
    * .cmsLookup]] point query; because cell merge is a SUM
    * (commutative + associative), the streamed cells — however the
    * micro-batches sliced the input — equal the direct batch sketch
    * exactly, and the oracle states the direct batch form.
    */
  def streamingCmsQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("scms")
    val ev = t(s, dir, "events")
    ev.select(col("user_id")).write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("user_id", LongType)))
    val table =
      "scms_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Sketches.cmsCells(src, "user_id",
          d = 4, w = 256)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val probes = ev.where(col("user_id") < 20).select(col("user_id"))
    graft.operators.Sketches.cmsLookup(s.table(table), probes,
        "user_id", d = 4, w = 256)
      .orderBy("user_id")
  }

  /** Streaming quantile sketch, driver-checkable: the per-bucket
    * priority-min sample ([[graft.operators.Quantiles
    * .bucketMinSample]]) is streaming-ready because its reduction is
    * a MIN — associative, commutative, idempotent — so the
    * complete-mode streamed state (<= buckets rows per group,
    * forever) equals the direct batch build exactly, and the final
    * [[graft.operators.Quantiles.quantiles]] read matches the batch
    * oracle bit-for-bit. Completes the streaming sketch trio:
    * distinct (HLL), frequency (CMS), quantiles (this).
    */
  def streamingQuantileQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("squant")
    val ev = t(s, dir, "events")
    ev.select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val table =
      "squant_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Quantiles.bucketMinSample(src,
          Seq("event_type"), "value", "event_id", buckets = 64)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.Quantiles.quantiles(s.table(table),
        Seq("event_type"), "value", Seq(250, 500, 750))
      .orderBy("event_type", "pm")
  }

  /** Streaming drift monitor (streaming.DriftMonitor), driver-
    * checkable: an AvailableNow run bins events.value per 2-day
    * event-time window on the baseline's integer grid (watermark 0s;
    * a far-future sentinel closes every real window in the no-data
    * batch, exactly the [[sessionizeStream]] trick), then the closed
    * windows score add-1 PSI against the full-table baseline. The
    * per-window bin counts are arrival-order independent, so the
    * oracle states the whole thing as epoch-aligned batch SQL.
    */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sdrift")
    val rawEv = t(s, dir, "events")
    val evB = rawEv
      .select(timestamp_micros(graft.operators.Events.tsMicros(rawEv))
          .as("ts"),
        floor(col("value")).cast("long").as("v"))
    evB.write.mode("overwrite").json(s"$d/in/f1")
    // sentinel far past every window + watermark: the final no-data
    // batch's advanced watermark closes all real windows
    s.range(1).select(
        lit("2024-06-01 00:00:00").cast("timestamp").as("ts"),
        lit(0L).as("v"))
      .write.mode("overwrite").json(s"$d/in/f2")
    val mm = evB.agg(min("v"), max("v"), max(unix_micros(col("ts"))))
      .head()
    val mn = mm.getLong(0)
    val w = (mm.getLong(1) - mn) / 8 + 1
    val maxUs = mm.getLong(2)
    val baseline = evB
      .groupBy(expr(s"(v - ${mn}L) div ${w}L").as("bin"))
      .agg(count(lit(1)).as("n_base"))
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("v", LongType)))
    val src = s.readStream.schema(schema)
      .option("recursiveFileLookup", "true").json(s"$d/in")
    val table =
      "sdrift_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val q = DriftMonitor.windowedBins(src, "ts", "v", "2 days",
          "0 seconds", mn, w)
        .writeStream.format("memory").queryName(table)
        .outputMode("append")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    DriftMonitor.score(
        s.table(table).where(col("win_start_us") <= maxUs),
        baseline, bins = 8)
      .orderBy("win_start_us", "bin")
  }


  /** §2.12 stateful streaming sessionization, driver-checkable: an
    * AvailableNow run of the `flatMapGroupsWithState` Sessionizer over
    * the events table (file 1 = all real events, file 2 = one sentinel
    * far past every `lastTs + gap`, so the advanced watermark's no-data
    * cleanup batch event-time-times-out EVERY real session). Gap
    * arithmetic is on floor-seconds, making session stats invariant to
    * within-second ordering — the streaming result must equal the batch
    * window formulation, so it shares q_sessionize's oracle shape.
    */
  /** Point-in-time join (AsofJoin.pointInTime over Events.scd2):
    * every purchase decorated with the browsing state the user was in
    * at purchase time — the SCD2 history is built from the
    * NON-purchase events, so the lookup is a real cross-attribute
    * question; a purchase before any browsing event carries a null
    * state (left-outer contract).
    */
  def pitJoinQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      col("event_type"),
      graft.operators.Events.tsMicros(raw).as("ts_us"))
    val hist = graft.operators.Events.scd2(
        ev.where(col("event_type") =!= "purchase"),
        "user_id", "ts_us", "event_id", "event_type")
      .withColumnRenamed("event_type", "state_type")
      .drop("is_current")
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    graft.operators.AsofJoin.pointInTime(facts, hist, Seq("user_id"),
        "ts_us")
      .select(col("user_id"), col("event_id"), col("state_type"))
      .orderBy("user_id", "event_id")
  }

  /** Changelog compaction (Events.applyChangelog): the event log read
    * as a CDC stream — error events are tombstones, everything else an
    * upsert — compacted to the current snapshot in one partial-
    * aggregable max_by pass (no window sort of any key's history). A
    * user whose LAST event is an error drops out of the snapshot.
    */
  def cdcApplyQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"),
        col("event_type"), col("value"))
      // NULL event_type deliberately maps to 'U' (when's null predicate
      // falls to otherwise): an unknown op is an upsert, not a delete —
      // the oracle states the same with `<> 'error' OR IS NULL`
      .withColumn("op",
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    graft.operators.Events.applyChangelog(log, Seq("user_id"),
        Seq("ts_us", "event_id"), "op", "D")
      .orderBy("user_id")
  }

  /** Full-changelog SCD2 history (Events.scd2History): the cdcApplyQ
    * changelog kept as a complete type-2 dimension — every upsert
    * becomes a history row valid until the key's next change
    * ((ts_us, event_id) lead), deletes close intervals and emit
    * nothing. Complements q_scd2 (one tracked column, same-value runs
    * collapsed) with the full-payload CDC form. One per-key window
    * shuffle; the oracle replays the lead verbatim.
    */
  def scd2HistoryQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"),
        col("event_type"), col("value"))
      .withColumn("op",
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    graft.operators.Events.scd2History(log, Seq("user_id"),
        Seq("ts_us", "event_id"), "op", "D")
      .orderBy("user_id", "valid_from_ts_us", "valid_from_event_id")
  }

  /** Cohort retention (Events.cohortRetention): users by first-active
    * week x weeks-since-cohort active-user counts — pure integer
    * epoch-microsecond bucket arithmetic, three map-side-combinable
    * aggregations, one user-key join, no window.
    */
  def cohortRetentionQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.cohortRetention(t(s, dir, "events"),
        "user_id")
      .orderBy("cohort", "period_offset")

  /** Offline ranking evaluation ([[graft.operators.RankEval]]):
    * time-split the order history at 1996-01-01, recommend each
    * customer their top-10 training-window parts (purchase count,
    * then exact decimal quantity, then partkey — fully deterministic
    * ranks), and score precision/recall/NDCG/MRR/hit-rate at k=5,10
    * against the test-window purchases. The scorer's data-sized work
    * is one (user,item) equi-join; everything downstream is one row
    * per (user,cutoff).
    */
  /** Shared ranking-eval fixture: the order history as (user, item)
    * interactions with the purchase date and exact decimal quantity.
    */
  private def orderFact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("item_id"), col("o_orderdate"),
        col("l_quantity"))

  /** Top-10 training-window recommendations per customer (purchase
    * count, then exact decimal quantity, then partkey — fully
    * deterministic ranks) from the pre-1996 half of [[orderFact]].
    */
  private def trainTopRecs(fact: DataFrame): DataFrame =
    fact.where(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
      .groupBy("user_id", "item_id")
      .agg(count(lit(1)).as("n_buy"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("qty"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("n_buy").desc, col("qty").desc,
            col("item_id"))))
      .where(col("rank") <= 10)
      .select("user_id", "item_id", "rank")

  def rankMetricsQ(s: SparkSession, dir: String): DataFrame = {
    val fact = orderFact(s, dir)
    val truth = fact
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")))
      .select("user_id", "item_id")
    graft.operators.RankEval.metricsAtK(trainTopRecs(fact), truth,
      Seq(5, 10))
  }

  /** Beyond-accuracy metrics ([[graft.operators.RankEval
    * .catalogMetrics]]): catalog coverage, smoothed self-information
    * novelty, and exposure bias of the same top-10 recommendations,
    * measured against the FULL interaction log.
    */
  def recCoverageQ(s: SparkSession, dir: String): DataFrame = {
    val fact = orderFact(s, dir)
    graft.operators.RankEval.catalogMetrics(trainTopRecs(fact),
      fact.select("user_id", "item_id"), 10)
  }

  /** Item-item CF neighbors ([[graft.operators.ItemSim]]): cosine over
    * the binary customer-part matrix with the per-user pair fan-out
    * capped at 100 items, pairs below 2 shared users pruned, top-10
    * neighbors per part.
    */
  def itemCfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.ItemSim.cosineNeighbors(
      orderFact(s, dir).select("user_id", "item_id"))

  /** Incremental item-CF ([[graft.operators.ItemSim
    * .cosineNeighborsIncremental]]): the one-shot (existing, delta)
    * entry point, which computes the rebuild-equivalent form directly
    * (ONE fan-out over existing ∪ delta — see its scaladoc for why a
    * one-shot evaluation must not build state it immediately
    * discards). The TRUE maintenance path (state − touched-old +
    * touched-full) lives in [[graft.operators.ItemSim
    * .cosineNeighborsFromState]]; ItemSimSpec proves it
    * output-identical. Round 21 fixture note: the delta is the 1998
    * orders of the `user_id % 101 == 0` slice — a plain date split
    * cannot model the daily-delta regime on this fixture (TPC-H
    * customers order uniformly across the window, so even one month
    * touches ~2/3 of users), while this slice touches ~1% of users.
    * existing and delta PARTITION the log, so the output equals the
    * full rebuild and [[itemCfQ]]'s oracle serves verbatim.
    */
  def itemCfIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val fact = orderFact(s, dir)
    val isDelta = col("o_orderdate") >= to_timestamp(lit("1998-01-01")) &&
      pmod(col("user_id"), lit(101)) === 0
    graft.operators.ItemSim.cosineNeighborsIncremental(
      fact.where(!isDelta).select("user_id", "item_id"),
      fact.where(isDelta).select("user_id", "item_id"))
  }

  /** Personalized PageRank ([[graft.operators.Graph
    * .personalizedPageRank]]): restart mass on parts with key < 10
    * over the symmetrized part-supplier graph, two unrolled
    * iterations — seed-neighborhood relevance, decimal-exact mass.
    */
  def pprQ(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = e0.select(col("src")).where(col("src") < 10)
    graft.operators.Graph.personalizedPageRank(edges, "src", "dst",
        seeds, "src", iters = 2)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy("node")
  }

  /** Multi-source BFS ([[graft.operators.Graph.bfsDistances]]) over
    * the bipartite part-supplier graph (suppliers offset by 1e7 into a
    * disjoint id range), seeded at parts with key < 10, horizon 4 hops.
    */
  def graphBfsQ(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "lineitem")
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))
      .distinct()
    val seeds = edges.select(col("src")).where(col("src") < 10)
    graft.operators.Graph.bfsDistances(edges, "src", "dst", seeds,
        "src", maxHops = 4)
      .orderBy("node")
  }

  /** Smoothed target encoding ([[graft.operators.Encoding]]): market
    * segment encoded by mean order value with pseudo-count 10 —
    * one keyed aggregation plus a broadcast scalar prior.
    */
  def targetEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val co = t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
    graft.operators.Encoding.targetEncode(co, "c_mktsegment",
      "o_totalprice", 10.0)
  }

  /** Leave-one-out encoding ([[graft.operators.Encoding
    * .leaveOneOut]]): each order's segment mean computed without the
    * order itself — the leakage-free row-level variant.
    */
  def targetEncodeLooQ(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        col("o_totalprice"))
    graft.operators.Encoding.leaveOneOut(rows, "c_mktsegment",
        "o_totalprice")
      .select("o_orderkey", "c_mktsegment", "o_totalprice", "loo")
      .orderBy("o_orderkey")
  }

  /** Half-life-decayed part popularity ([[graft.operators
    * .Popularity.decayedScores]]): 365-day half-life, as-of clock =
    * the order log's max date (one scalar aggregate, injected — never
    * wall-clock).
    */
  def decayedPopQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val ref = o.agg(max(graft.operators.Events.tsMicros(o,
      "o_orderdate"))).head().getLong(0)
    val joined = t(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
    val inter = joined.select(col("l_partkey").as("item"),
      graft.operators.Events.tsMicros(joined, "o_orderdate").as("ts_us"))
    graft.operators.Popularity.decayedScores(inter, "item", "ts_us",
      ref, 365.0)
  }

  /** Long-tail concentration ([[graft.operators.Popularity
    * .concentrationProfile]]): Gini + head shares of part interaction
    * counts — exact integer arithmetic to a single final division.
    */
  def popProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Popularity.concentrationProfile(
      t(s, dir, "lineitem").select(col("l_partkey").as("item")), "item")

  /** Markov transition matrix ([[graft.operators.Events
    * .transitionMatrix]]): per-user event-type step counts and
    * row-normalized probabilities, ordered by (ts, event_id).
    */
  def transitionsQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"),
      col("event_type"))
    graft.operators.Events.transitionMatrix(log, "user_id",
      Seq("ts_us", "event_id"), "event_type")
  }

  /** Hot-key-safe transition matrix ([[graft.operators.Events
    * .transitionMatrixBucketed]], 1-hour buckets): output-identical
    * to [[transitionsQ]] — the oracle is the SAME SQL — but no
    * reducer ever sorts one user's whole timeline.
    */
  def transitionsBucketedQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"),
      col("event_type"))
    graft.operators.Events.transitionMatrixBucketed(log, "user_id",
      "ts_us", Seq("event_id"), "event_type")
  }

  /** Kaplan-Meier survival ([[graft.operators.Events.kaplanMeier]]):
    * per-user activity span in whole days as the duration, "last
    * event is an error" as the observed-event flag (everyone else
    * right-censored).
    */
  def kaplanMeierQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"),
        col("event_type"))
      .where(col("user_id").isNotNull)
    val per = log.groupBy("user_id")
      .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"),
        max(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("last_type"))
      .select(expr("(last_us - first_us) div 86400000000")
          .as("duration_days"),
        (col("last_type") === "error").as("observed"))
    graft.operators.Events.kaplanMeier(per, "duration_days", "observed")
  }

  /** Streaming decayed popularity: [[graft.operators.Popularity
    * .decayedScores]] is streaming-ready by construction — each decay
    * term is computed row-local against the injected as-of clock and
    * the per-item state is one (count, decimal sum) pair,
    * merge-order-free — run here in complete mode over multi-batch
    * JSONL arrival. The oracle is the batch replay verbatim.
    */
  def streamingDecayedPopQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sdecay")
    val raw = t(s, dir, "events")
    val ref = raw.agg(max(graft.operators.Events.tsMicros(raw)))
      .head().getLong(0)
    raw.where(col("user_id").isNotNull)
      .select((col("user_id") % 100).as("item"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("item", LongType),
      StructField("ts_us", LongType)))
    val table =
      "sdecay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Popularity.decayedScores(src, "item",
          "ts_us", ref, 30.0)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table).orderBy("item")
  }

  /** Skip-gram pair extraction ([[graft.operators.Events
    * .skipGramPairs]]): symmetric (center, context) part counts
    * within 2 positions of each customer's time-ordered purchase
    * sequence — one window pass with lead columns, no positional
    * self-join.
    */
  def skipgramQ(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("item"), col("o_orderdate"),
        col("l_orderkey"), col("l_linenumber"))
    graft.operators.Events.skipGramPairs(fact, "user_id",
      Seq("o_orderdate", "l_orderkey", "l_linenumber", "item"),
      "item", window = 2)
  }

  /** Trailing-window spike detection ([[graft.operators.Events
    * .spikes]]): daily event counts per type against their own
    * previous 7 days, k = 2 — exact decimal frame sums, IEEE z.
    */
  def spikeDetectQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val counts = raw
      .select(col("event_type"),
        graft.operators.Events.tsMicros(raw).as("__us"))
      .withColumn("day", expr("__us div 86400000000"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("x"))
    graft.operators.Events.spikes(counts, "event_type", "day", "x",
        base = 7, k = 2.0)
      .select(col("event_type"), col("day"), col("x"), col("base_n"),
        col("base_mean"), col("z"), col("spike"))
      .orderBy("event_type", "day")
  }

  /** Experiment-arm fixture: users hashed into three arms by id. */
  private def abLog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(concat(lit("arm_"), (col("user_id") % 3).cast("string"))
        .as("arm"), col("value"))

  /** Per-arm experiment moments ([[graft.operators.Experiment
    * .armSummary]]): one keyed aggregation of exact decimal moments,
    * IEEE-derived mean/variance.
    */
  def abArmsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Experiment.armSummary(abLog(s, dir), "arm", "value")

  /** Welch A/B readout ([[graft.operators.Experiment.compare]]):
    * every treatment arm vs arm_0 — lifts, unequal-variance SE, and
    * t statistic, all from the same exact moments.
    */
  def abCompareQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Experiment.compare(abLog(s, dir), "arm", "value",
      "arm_0")

  /** Streaming experiment readout: [[graft.operators.Experiment
    * .armSummary]] is streaming-ready by construction — per-arm state
    * is one (count, decimal Σy, decimal Σy²) triple, order-free —
    * run in complete mode over multi-batch JSONL arrival; the oracle
    * is q_ab_arms' batch replay verbatim. This is the live-experiment
    * monitor: arm moments stay current as interaction files land.
    */
  def streamingAbQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sab")
    abLog(s, dir).where(col("arm").isNotNull && col("value").isNotNull)
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("arm", StringType),
      StructField("value", DoubleType)))
    val table =
      "sab_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Experiment.armSummary(src, "arm", "value")
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table).orderBy("arm")
  }

  /** Off-policy evaluation ([[graft.operators.OffPolicy]]): context =
    * user_id % 20, action = event_type, reward = value; empirical
    * propensities from the log, target policy = the log's own greedy
    * argmax-reward action per context, weight cap 5. Single-row IPS /
    * capped-IPS / SNIPS estimates, every sum an order-free decimal of
    * 12-decimal-rounded IEEE terms.
    */
  def ipsEvalQ(s: SparkSession, dir: String): DataFrame = {
    val log = t(s, dir, "events")
      .select((col("user_id") % 20).as("context"),
        col("event_type").as("action"), col("value").as("reward"))
    val policy = graft.operators.OffPolicy.greedyPolicy(log)
    graft.operators.OffPolicy.ipsEstimates(log, policy, cap = 5.0)
  }

  /** Streaming off-policy monitor: with LOGGED propensities,
    * [[graft.operators.OffPolicy.ipsEstimates]] is one stream-static
    * broadcast join (the policy is a dimension) plus one complete-mode
    * global aggregation of 12-decimal-rounded terms — order-free
    * state, so the estimates equal the batch run however the
    * micro-batches slice the log. The fixture precomputes the SAME
    * empirical propensities [[ipsEvalQ]] derives inline and streams
    * the propensity-carrying rows, so q_ips_eval's oracle serves
    * verbatim.
    */
  def streamingIpsQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("sips")
    val log = t(s, dir, "events")
      .select((col("user_id") % 20).as("context"),
        col("event_type").as("action"), col("value").as("reward"))
      .where(col("context").isNotNull && col("action").isNotNull &&
        col("reward").isNotNull)
    val xa = log.groupBy("context", "action")
      .agg(count(lit(1)).as("n_xa"))
    val xc = xa.groupBy("context").agg(sum("n_xa").as("n_x"))
    log.join(xa, Seq("context", "action")).join(xc, Seq("context"))
      .withColumn("prop",
        col("n_xa").cast("double") / col("n_x").cast("double"))
      .select("context", "action", "reward", "prop")
      .write.mode("overwrite").json(s"$d/in")
    val policy = graft.operators.OffPolicy.greedyPolicy(log)
    val schema = StructType(Seq(StructField("context", LongType),
      StructField("action", StringType),
      StructField("reward", DoubleType),
      StructField("prop", DoubleType)))
    val table =
      "sips_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.OffPolicy.ipsEstimates(src, policy,
          propensityCol = Some("prop"), cap = 5.0)
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table)
  }

  /** Compaction planning ([[graft.io.Compaction]]): documents as a
    * file manifest (source = table partition, n_chars = bytes), packed
    * into 20 kB bins by the one-window offset-div-target rule. The
    * window parallelizes across sources — compaction never crosses a
    * partition boundary.
    */
  def compactionPlanQ(s: SparkSession, dir: String): DataFrame = {
    val manifest = t(s, dir, "documents")
      .select(col("source"),
        concat(lit("doc-"), col("doc_id")).as("file"),
        col("n_chars").as("bytes"))
    graft.io.Compaction.plan(manifest, "file", "bytes", 20000L,
        Seq("source"))
      .select(col("source"), col("file"), col("bytes").cast("long")
        .as("bytes"), col("bin_offset"), col("bin"))
      .orderBy("source", "bin_offset", "file")
  }

  /** Streaming golden record, driver-checkable: [[graft.operators
    * .Events.survivorship]] is streaming-ready by construction — each
    * column's max_by((notnull, seq)) is an ordinary aggregation whose
    * per-key state is ONE (flag, seq, value) buffer per column,
    * order-insensitive (max over a total struct order), run here in
    * complete mode over multi-micro-batch JSONL arrival. However the
    * batches slice the stream, the final per-user golden records
    * equal the batch operator's exactly, so the oracle is
    * [[survivorshipQ]]'s batch replay verbatim.
    */
  def streamingSurvivorshipQ(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("ssurv")
    val raw = t(s, dir, "events")
    raw.select(col("user_id"), col("event_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"),
        col("event_type"),
        when(col("event_type") === "error",
          lit(null).cast("double")).otherwise(col("value")).as("value"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val table =
      "ssurv_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$d/in")
      val q = graft.operators.Events.survivorship(src, Seq("user_id"),
          Seq("ts_us", "event_id"), Seq("event_type", "value"))
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table).orderBy("user_id")
  }

  /** Field-level survivorship merge (Events.survivorship): per user,
    * each column independently takes its latest NON-NULL value —
    * `value` is planted null on error events, so a user whose final
    * event is an error keeps the error's event_type (never null) but
    * the value from the latest NON-error event, which whole-row
    * latest (q_cdc_apply's shape) cannot express. One max_by struct
    * aggregate per column, no window.
    */
  def survivorshipQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val log = raw.select(col("user_id"), col("event_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"),
      col("event_type"),
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")).as("value"))
    graft.operators.Events.survivorship(log, Seq("user_id"),
        Seq("ts_us", "event_id"), Seq("event_type", "value"))
      .orderBy("user_id")
  }

  /** Time-series resample + forward fill (Events.resample): each
    * user's event values aligned to a daily grid, every grid point
    * carrying the latest at-or-before event's (event_id, value) —
    * ties at one instant resolved by greatest event_id. The oracle is
    * the DuckDB ASOF JOIN over a generate_series grid against the
    * same greatest-tie compaction.
    */
  def resampleQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"),
      graft.operators.Events.tsMicros(raw).as("ts_us"),
      col("event_id"), col("value"))
    graft.operators.Events.resample(ev, Seq("user_id"), "ts_us",
        Seq("value"), stepUs = 86400000000L,
        tieCol = Some("event_id"))
      .orderBy("user_id", "ts_us")
  }

  /** Interval-overlap join (Intervals.overlapJoin): which browsing
    * states (SCD2 intervals over the non-error events) were current
    * during each session (gap-30min intervals over all events) — the
    * range-join shape, answered by day-bucket replication + equi-join
    * + the emit-once rule, never a per-key cross product. Open state
    * intervals clamp to the user's last event; SCD2's half-open
    * valid_to converts to the closed form by -1 microsecond.
    */
  def intervalJoinQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
        col("event_type"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .withColumn("ts_s", expr("ts_us div 1000000"))
    val sess = graft.operators.Events.sessionize(ev, "user_id", "ts_s",
        gapMinutes = 30, orderCols = Seq("ts_us", "event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val hist = graft.operators.Events.scd2(
      ev.where(col("event_type") =!= "error"),
      "user_id", "ts_us", "event_id", "event_type")
    val horizon = ev.groupBy("user_id").agg(max(col("ts_us")).as("h_end"))
    val states = hist.join(horizon, "user_id")
      .select(col("user_id"), col("event_type").as("state_type"),
        col("valid_from").as("v_start"),
        coalesce(col("valid_to") - 1, col("h_end")).as("v_end"))
    graft.operators.Intervals.overlapJoin(sess, states, Seq("user_id"),
        "s_start", "s_end", "v_start", "v_end",
        bucketSpan = 86400000000L)
      .select(col("user_id"), col("session_seq"), col("state_type"),
        col("v_start"))
      .orderBy("user_id", "session_seq", "v_start", "state_type")
  }

  /** Conversion funnel (Events.funnel): earliest strictly-ordered
    * view -> click -> purchase times per user; a user stalls with
    * nulls where the chain breaks, users with no view are absent. No
    * per-user timeline sort anywhere — conditional mins + shrinking
    * per-stage joins.
    */
  def funnelQ(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_type"),
      graft.operators.Events.tsMicros(raw).as("ts_us"))
    graft.operators.Events.funnel(ev, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
  }

  /** Snapshot-delta changelog (Reconcile.snapshotDelta): the typed
    * I/U/D diff between the customer table and a deterministically
    * mutated successor (keys % 97 deleted, segments of keys % 13
    * prefixed, keys % 101 re-inserted shifted by 1e6). Unchanged keys
    * emit nothing; U rows carry the after-image, D rows the
    * before-image.
    */
  def snapshotDeltaQ(s: SparkSession, dir: String): DataFrame = {
    val before = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
    val after = before
      .where(col("c_custkey") % 97 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 13 === 0,
          concat(lit("X"), col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
      .unionByName(before.where(col("c_custkey") % 101 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_name"), col("c_acctbal"), col("c_mktsegment")))
    graft.operators.Reconcile.snapshotDelta(before, after,
        Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  /** Left-outer interval attribution
    * (streaming/Attribution.viewConversionJoin, joinType=left_outer):
    * every view kept, unconverted views carry a null conv_id — the
    * batch statement of the streaming outer join whose null rows are
    * emitted by watermark-driven state eviction (the streaming
    * differential, sentinel included, lives in StreamingSpec).
    */
  def attributionOuter(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .withColumn("tstamp",
        timestamp_micros(graft.operators.Events.tsMicros(raw)))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("tstamp").as("view_ts"),
        col("event_id").as("view_id"))
    val convs = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("conv_user"), col("tstamp").as("conv_ts"),
        col("event_id").as("conv_id"))
    Attribution.viewConversionJoin(views, "user_id", "view_ts",
        convs, "conv_user", "conv_ts", windowSpec = "1 DAY",
        delay = "2 hours", joinType = "left_outer")
      .select(col("user_id"), col("view_id"), col("conv_id"))
      .orderBy("user_id", "view_id", "conv_id")
  }

  /** SCD type-2 change history (Events.scd2): per-user validity
    * intervals of event_type from the event log — consecutive
    * same-type events collapse, each change opens an interval closed
    * by the next change, the last stays open (is_current). Event time
    * as epoch micros (the q_event_dedup idiom), ordering totalized by
    * event_id; the oracle replays lag/IS DISTINCT FROM/lead exactly.
    */
  def scd2Q(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      col("event_type"),
      graft.operators.Events.tsMicros(raw).as("ts_us"))
    graft.operators.Events.scd2(ev, "user_id", "ts_us", "event_id",
        "event_type")
      .orderBy("user_id", "valid_from")
  }

  /** Stream-static enrichment (streaming/Enrich.decorateStream): the
    * purchase stream decorated with the customer dimension via a
    * per-micro-batch broadcast join — stateless (no watermark, no
    * state store), so an AvailableNow run is row-for-row the batch
    * left join the oracle states.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("senrich")
    val raw = t(s, dir, "events")
    raw.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        graft.operators.Events.tsMicros(raw).as("ts_us"))
      .write.mode("overwrite").json(s"$d/in")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts_us", LongType)))
    val src = s.readStream.schema(schema).json(s"$d/in")
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val table =
      "senrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Enrich.decorateStream(src, "user_id",
        dim, "c_custkey", Seq("c_mktsegment"))
      .writeStream.format("memory").queryName(table)
      .outputMode("append")
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(table)
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
      .orderBy("event_id")
  }

  def sessionizeStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{SessionEvent, Sessionizer}
    import s.implicits._
    val d = tmp("sessq")
    val rawEv = t(s, dir, "events")
    val ev = rawEv
      .select(col("user_id"),
        timestamp_micros(graft.operators.Events.tsMicros(rawEv)).as("ts"),
        col("event_id"))
    ev.write.mode("overwrite").json(s"$d/in/f1")
    val maxUs = rawEv
      .agg(max(graft.operators.Events.tsMicros(rawEv))).head().getLong(0)
    ev.limit(1).select(lit(-1L).as("user_id"),
        timestamp_micros(lit(maxUs + 2L * 86400 * 1000000)).as("ts"),
        lit(-1L).as("event_id"))
      .write.mode("overwrite").json(s"$d/in/f2")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_id", LongType)))
    // No maxFilesPerTrigger: one batch ingests everything (the
    // sessionizer sorts within each group), the sentinel advances the
    // watermark, and the trailing no-data cleanup batch fires every
    // event-time timeout — per-file micro-batching would only multiply
    // scheduling overhead without changing the result.
    val src = s.readStream.schema(schema)
      .option("recursiveFileLookup", "true").json(s"$d/in")
      .withWatermark("ts", "1 second")
      .select(col("user_id").as("userId"), col("ts"),
        col("ts").cast("long").as("tsSec"), col("event_id").as("eventId"))
      .as[SessionEvent]
    val table =
      "sessq_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, 4) {
      val q = Sessionizer.sessionize(src, gapSeconds = 1800)
        .toDF()
        .writeStream.format("memory").queryName(table)
        .outputMode("append")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(table)
      .where(col("userId") =!= -1L)
      .select(col("userId").as("user_id"),
        col("sessionSeq").as("session_seq"),
        col("nEvents").as("n_events"),
        col("durationS").as("duration_s"))
      .orderBy("user_id", "session_seq")
  }


  /** Co-located join over bucketed tables (io.Bucketing): both sides
    * bucketed+sorted on the join key at write time, so the join itself
    * is Exchange-free (PlanRegressionSpec asserts it). Payload aggs are
    * integer-only so the result is order-independent and oracle-exact.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("bkt")
    Bucketing.writeBucketed(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "graft_bkt_orders", s"$d/orders", "o_orderkey", nBuckets = 8)
    Bucketing.writeBucketed(
      t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum("l_partkey").as("sum_part")),
      "graft_bkt_li", s"$d/lineitem", "l_orderkey", nBuckets = 8)
    s.table("graft_bkt_li").hint("merge")
      .join(s.table("graft_bkt_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("n_items"),
        col("sum_part"))
      .orderBy("o_orderkey")
  }

  /** Range-sorted layout (io.Bucketing.writeRangeSorted): events
    * written as 4 files range-partitioned + sorted on user_id, read
    * back and PROVEN skippable — per-file [min, max] user_id spans,
    * counted pairwise for overlap. Disjoint spans (0 overlapping
    * pairs) are what let a point/range scan prune whole files on
    * footer stats; row count proves the layout pass is lossless. The
    * oracle states the three invariants directly.
    */
  def layoutSorted(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("layout")
    Bucketing.writeRangeSorted(
      t(s, dir, "events").select(col("user_id"), col("event_id")),
      d, "user_id", nFiles = 4)
    val spans = s.read.parquet(d)
      .groupBy(input_file_name().as("file"))
      .agg(min("user_id").as("lo"), max("user_id").as("hi"),
        count(lit(1)).as("n"))
    val overlaps = spans.alias("a").join(spans.alias("b"),
        col("a.file") < col("b.file") &&
        col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .agg(count(lit(1)).as("overlapping_pairs"))
    spans.agg(count(lit(1)).as("n_files"), sum("n").as("n_rows"))
      .crossJoin(overlaps)
  }

  /** Morton z-value (io.ZOrder.zValue): the bit interleave itself,
    * hash-exact — the oracle unrolls the same five shift-or-mask
    * steps per column, so a single flipped bit anywhere in the
    * spreading sequence fails the compare.
    */
  def zvalueQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").where(col("event_id") < 100)
      .select(col("event_id"), col("user_id"),
        ZOrder.zValue(col("user_id"), col("event_id")).as("z"))
      .orderBy("event_id")

  /** Z-ordered layout (io.ZOrder.writeZOrdered): events written as 4
    * files range-partitioned + sorted on zValue(user_id, event_id),
    * read back and PROVEN disjoint in z — per-file [min, max] z spans
    * recomputed from the data (the z column never hits disk), counted
    * pairwise for overlap. Disjoint z spans are what bound every
    * file's footer stats on BOTH columns; row count proves the pass
    * lossless. Same invariant shape as [[layoutSorted]].
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("zorder")
    ZOrder.writeZOrdered(
      t(s, dir, "events").select(col("user_id"), col("event_id")),
      d, "user_id", "event_id", nFiles = 4)
    val spans = s.read.parquet(d)
      .withColumn("z", ZOrder.zValue(col("user_id"), col("event_id")))
      .groupBy(input_file_name().as("file"))
      .agg(min("z").as("lo"), max("z").as("hi"), count(lit(1)).as("n"))
    val overlaps = spans.alias("a").join(spans.alias("b"),
        col("a.file") < col("b.file") &&
        col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .agg(count(lit(1)).as("overlapping_pairs"))
    spans.agg(count(lit(1)).as("n_files"), sum("n").as("n_rows"))
      .crossJoin(overlaps)
  }

  /** Delta-style versioned state (io.StateTable): v0 = full keyed
    * snapshot, v1 = an upsert + tombstone delta, then merge-on-read.
    * The oracle states the post-merge table directly from `orders`.
    */
  def stateTable(s: SparkSession, dir: String): DataFrame = {
    val d = tmp("statetbl")
    val o = t(s, dir, "orders")
    StateTable.append(
      o.where(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")), d)
    StateTable.append(
      o.where(col("o_orderkey") < 600)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          col("o_orderstatus"),
          (col("o_orderkey") >= 500).as(StateTable.DeletedCol)), d)
    StateTable.readLatest(s, d, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** One-pass column profile (operators/Profile) over engine-safe
    * orders columns (longs, strings, timestamp — types whose string
    * rendering both engines agree on).
    */
  def profileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
        t(s, dir, "orders").select("o_orderkey", "o_custkey",
          "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .orderBy("col_name")

  /** Skew-safe two-phase top-k per group (Skew.topKPerGroup): top-3
    * cheap-quantity lineitems per order by price, with (partkey,
    * linenumber) tiebreakers for a total order. The salted shape is
    * exact regardless of salt assignment, so the oracle is a plain
    * window row_number.
    */
  def topkGroup(s: SparkSession, dir: String): DataFrame =
    Skew.topKPerGroup(
        t(s, dir, "lineitem").where(col("l_quantity") < 10),
        groupKeys = Seq("l_orderkey"),
        payload = Seq("l_extendedprice", "l_partkey", "l_linenumber"),
        k = 3)
      .orderBy("l_orderkey", "rank")

  /** O(k)-buffer variant of [[topkGroup]] (expressions.BoundedTopKAgg):
    * one shuffle, heap buffers capped at k rows per key — same oracle,
    * same result, different physical shape.
    */
  def topkBounded(s: SparkSession, dir: String): DataFrame =
    Skew.topKPerGroup(
        t(s, dir, "lineitem").where(col("l_quantity") < 10),
        groupKeys = Seq("l_orderkey"),
        payload = Seq("l_extendedprice", "l_partkey", "l_linenumber"),
        k = 3, boundedBuffers = true)
      .orderBy("l_orderkey", "rank")

  /** All ETL-family queries. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_topk_group" -> (topkGroup _),
    "q_topk_bounded" -> (topkBounded _),
    "q_profile" -> (profileQ _),
    "q_state_table" -> (stateTable _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_asof_join" -> (asofJoin _),
    "q_asof_join_bucketed" -> (asofJoinBucketedQ _),
    "q_rollup" -> (rollupAgg _),
    "q_salted_join" -> (saltedJoinQ _),
    "q_partition_pruned" -> (partitionPruned _),
    "q_sql_api" -> (sqlApi _),
    "q_pivot_wide" -> (pivotWide _),
    "q_semi_anti" -> (semiAntiJoin _),
    "q_ri_pipeline" -> (riPipeline _),
    "q_up_pipeline" -> (upPipeline _),
    "q_jsonl_backfill" -> (jsonlBackfill _),
    "q_csv_scan" -> (csvScan _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_jsonl_gzip" -> (jsonlGzip _),
    "q_corrupt_tolerant" -> (corruptTolerant _),
    "q_metadata_gated" -> (metadataGated _),
    "q_sink_runtime_partition" -> (sinkRuntimePartition _),
    "q_layout_sorted" -> (layoutSorted _),
    "q_zvalue" -> (zvalueQ _),
    "q_zorder_layout" -> (zorderLayout _),
    "q_errors_sink" -> (errorsSink _),
    "q_config_parse" -> (configParse _),
    "q_error_split_ok" -> (errorSplitOk _),
    "q_error_split_err" -> (errorSplitErr _),
    "q_join_mapusers" -> (joinMapUsers _),
    "q_join_decorate_left" -> (joinDecorateLeft _),
    "q_posexplode_outer" -> (posexplodeOuter _),
    "q_window_prefix" -> (windowPrefix _),
    "q_assemble_groupby" -> (assembleGroupBy _),
    "q_assemble_window" -> (assembleWindow _),
    "q_delta_except" -> (deltaExcept _),
    "q_merkle_diff" -> (merkleDiffQ _),
    "q_delta_keyed" -> (deltaKeyed _),
    "q_canonicalize" -> (canonicalize _),
    "q_counts" -> (counts _),
    "q_stamp_jobinfo" -> (stampJobInfo _),
    "q_date_format" -> (dateFormat _),
    "q_prefix_attrs" -> (prefixAttrs _),
    "q_pivot_attributes" -> (pivotAttributes _),
    "q_pivot_per_record" -> (pivotPerRecord _),
    "q_events_window" -> (eventsWindow _),
    "q_events_sliding" -> (eventsSliding _),
    "q_session_window" -> (sessionWindowQ _),
    "q_sessionize" -> (sessionize _),
    "q_sessionize_bucketed" -> (sessionizeBucketedQ _),
    "q_session_prefixes" -> (sessionPrefixesQ _),
    "q_session_prefixes_bucketed" -> (sessionPrefixesBucketedQ _),
    "q_sessionize_auto" -> (sessionizeAutoQ _),
    "q_session_prefixes_auto" -> (sessionPrefixesAutoQ _),
    "q_asof_auto" -> (asofJoinAutoQ _),
    "q_shape_decision" -> (shapeDecisionQ _),
    "q_join_advisor" -> (joinAdvisorQ _),
    "q_streaming_advisor" -> (streamingAdvisorQ _),
    "q_auto_join" -> (autoJoinQ _),
    "q_quality_checks" -> (qualityChecksQ _),
    "q_correlation" -> (correlationQ _),
    "q_event_dedup" -> (eventDedup _),
    "q_scd2" -> (scd2Q _),
    "q_pit_join" -> (pitJoinQ _),
    "q_cdc_apply" -> (cdcApplyQ _),
    "q_scd2_history" -> (scd2HistoryQ _),
    "q_cohort_retention" -> (cohortRetentionQ _),
    "q_rank_metrics" -> (rankMetricsQ _),
    "q_rec_coverage" -> (recCoverageQ _),
    "q_item_cf" -> (itemCfQ _),
    "q_item_cf_incremental" -> (itemCfIncrementalQ _),
    "q_graph_bfs" -> (graphBfsQ _),
    "q_ppr" -> (pprQ _),
    "q_ips_eval" -> (ipsEvalQ _),
    "q_streaming_ips" -> (streamingIpsQ _),
    "q_compaction_plan" -> (compactionPlanQ _),
    "q_ab_arms" -> (abArmsQ _),
    "q_ab_compare" -> (abCompareQ _),
    "q_streaming_ab" -> (streamingAbQ _),
    "q_transitions" -> (transitionsQ _),
    "q_transitions_bucketed" -> (transitionsBucketedQ _),
    "q_skipgram" -> (skipgramQ _),
    "q_spike_detect" -> (spikeDetectQ _),
    "q_kaplan_meier" -> (kaplanMeierQ _),
    "q_streaming_decayed_pop" -> (streamingDecayedPopQ _),
    "q_target_encode" -> (targetEncodeQ _),
    "q_target_encode_loo" -> (targetEncodeLooQ _),
    "q_decayed_pop" -> (decayedPopQ _),
    "q_pop_profile" -> (popProfileQ _),
    "q_survivorship" -> (survivorshipQ _),
    "q_streaming_survivorship" -> (streamingSurvivorshipQ _),
    "q_resample" -> (resampleQ _),
    "q_interval_join" -> (intervalJoinQ _),
    "q_funnel" -> (funnelQ _),
    "q_snapshot_delta" -> (snapshotDeltaQ _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_attribution" -> (attribution _),
    "q_attribution_outer" -> (attributionOuter _),
    "q_streaming_dedup_equiv" -> (streamingDedupEquiv _),
    "q_streaming_minhash" -> (streamingMinhashQ _),
    "q_streaming_hll" -> (streamingHllQ _),
    "q_streaming_cms" -> (streamingCmsQ _),
    "q_streaming_quantile" -> (streamingQuantileQ _),
    "q_stream_drift" -> (streamDrift _),
    "q_sessionize_stream" -> (sessionizeStream _),
    "q_queue_relay" -> (queueRelay _),
    "q_rest_sink" -> (restSink _),
    "q_dequeue_validate" -> (dequeueValidate _)
  )
}
