package graft

import org.apache.spark.sql.types._

/** Contract between the engine and the driver-generated testdata: the
  * generator has regenerated `/root/testdata` mid-build before (round
  * 13 swapped events.ts from TIMESTAMP(NANOS) to timestamp[us] and
  * broke ten queries at analysis time). This spec reads every table at
  * sf0.001 and asserts each column the engine touches is present with a
  * type the engine either expects exactly or adapts to — so the next
  * regeneration fails HERE, with a named table/column, not deep inside
  * ten query plans. Extra columns (e.g. events.props) are tolerated by
  * construction: only engine-read columns are listed.
  */
class TestdataContractSpec extends SparkSpec {

  private val root = "/root/testdata/sf0.001"

  private def integral(dt: DataType) =
    dt == LongType || dt == IntegerType || dt == ShortType
  private def floating(dt: DataType) =
    dt == DoubleType || dt == FloatType
  private def text(dt: DataType) = dt == StringType
  private def instantLike(dt: DataType) =
    dt == TimestampType || dt == TimestampNTZType || dt == LongType ||
      dt == DateType

  /** table -> (column -> admissible-type predicate with a label). */
  private val contract: Map[String, Map[String, (DataType => Boolean,
      String)]] = Map(
    "region" -> Map(
      "r_regionkey" -> (integral _, "integral"),
      "r_name" -> (text _, "string")),
    "nation" -> Map(
      "n_nationkey" -> (integral _, "integral"),
      "n_name" -> (text _, "string"),
      "n_regionkey" -> (integral _, "integral")),
    "customer" -> Map(
      "c_custkey" -> (integral _, "integral"),
      "c_name" -> (text _, "string"),
      "c_nationkey" -> (integral _, "integral"),
      "c_acctbal" -> (floating _, "floating"),
      "c_mktsegment" -> (text _, "string")),
    "supplier" -> Map(
      "s_suppkey" -> (integral _, "integral"),
      "s_name" -> (text _, "string"),
      "s_nationkey" -> (integral _, "integral"),
      "s_acctbal" -> (floating _, "floating")),
    "part" -> Map(
      "p_partkey" -> (integral _, "integral"),
      "p_name" -> (text _, "string"),
      "p_brand" -> (text _, "string"),
      "p_type" -> (text _, "string"),
      "p_size" -> (integral _, "integral"),
      "p_retailprice" -> (floating _, "floating")),
    "orders" -> Map(
      "o_orderkey" -> (integral _, "integral"),
      "o_custkey" -> (integral _, "integral"),
      "o_orderstatus" -> (text _, "string"),
      "o_totalprice" -> (floating _, "floating"),
      "o_orderdate" -> (instantLike _, "instant-like"),
      "o_orderpriority" -> (text _, "string")),
    "lineitem" -> Map(
      "l_orderkey" -> (integral _, "integral"),
      "l_partkey" -> (integral _, "integral"),
      "l_suppkey" -> (integral _, "integral"),
      "l_linenumber" -> (integral _, "integral"),
      "l_quantity" -> (floating _, "floating"),
      "l_extendedprice" -> (floating _, "floating"),
      "l_discount" -> (floating _, "floating"),
      "l_tax" -> (floating _, "floating"),
      "l_returnflag" -> (text _, "string"),
      "l_linestatus" -> (text _, "string"),
      "l_shipdate" -> (instantLike _, "instant-like")),
    "events" -> Map(
      "event_id" -> (integral _, "integral"),
      // EXACTLY the encodings Events.tsMicros adapts to — a date-typed
      // ts would pass a looser instant-like predicate here while every
      // events query failed, which is the gap this spec exists to close
      "ts" -> (((dt: DataType) => dt == LongType || dt == TimestampType ||
        dt == TimestampNTZType), "ns-long / TIMESTAMP / TIMESTAMP_NTZ"),
      "user_id" -> (integral _, "integral"),
      "event_type" -> (text _, "string"),
      "value" -> (floating _, "floating")),
    "documents" -> Map(
      "doc_id" -> (integral _, "integral"),
      "text" -> (text _, "string"),
      "lang" -> (text _, "string"),
      "source" -> (text _, "string"),
      "n_chars" -> (integral _, "integral")),
    "embeddings" -> Map(
      "vec_id" -> (integral _, "integral"),
      "embedding" -> ({
        case ArrayType(el, _) => floating(el)
        case _                => false
      }: DataType => Boolean, "array<float|double>"),
      "label" -> (integral _, "integral")))

  /** The SURVEY.md §2 connector inventory (COVERAGE.md's first table). */
  private val surveyQueries = Seq("q_jsonl_backfill", "q_csv_scan",
    "q_metadata_gated", "q_config_parse", "q_jsonl_gzip",
    "q_schema_evolution", "q_sink_runtime_partition", "q_errors_sink",
    "q_queue_relay", "q_rest_sink", "q_error_split_ok",
    "q_error_split_err", "q_join_mapusers", "q_ri_pipeline",
    "q_up_pipeline", "q_posexplode_outer", "q_join_decorate_left",
    "q_canonicalize", "q_window_prefix", "q_assemble_window",
    "q_assemble_groupby", "q_counts", "q_delta_except", "q_delta_keyed",
    "q_date_format", "q_prefix_attrs", "q_stamp_jobinfo",
    "q_pivot_attributes", "q_pivot_per_record", "q_state_table")

  test("registry: one oracle per query, the SURVEY §2 inventory kept") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"queries without an oracle: ${(queries -- oracles).toSeq.sorted}; " +
        s"oracles without a query: ${(oracles -- queries).toSeq.sorted}")
    val missing = surveyQueries.filterNot(queries)
    assert(missing.isEmpty, s"SURVEY §2 queries not registered: $missing")
  }

  for ((table, cols) <- contract.toSeq.sortBy(_._1))
    test(s"$table carries the engine-read columns with admissible types") {
      val schema = spark.read.parquet(s"$root/$table.parquet").schema
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      for ((c, (ok, label)) <- cols) {
        val dt = byName.get(c)
        assert(dt.isDefined, s"$table.$c missing (have: " +
          s"${schema.fieldNames.mkString(", ")})")
        assert(ok(dt.get), s"$table.$c is ${dt.get} — engine expects " +
          s"$label")
      }
    }
}
