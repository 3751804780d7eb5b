package graft

/** DuckDB oracle SQL, one entry per [[SparkEntry.queries]] key that is
  * ANSI-SQL-expressible. The driver runs each statement in DuckDB over
  * views named after the parquet tables (`lineitem`, `orders`, ...) in the
  * same sf dir the Spark query read, then compares row count, schema and a
  * value hash with columns sorted by name — so ALIASES AND TYPES HERE MUST
  * MATCH THE SPARK RESULT EXACTLY (see conventions in [[Queries]]).
  *
  * Since round 4 every registered query has an entry: the sketch seeds
  * that used to be JVM-only (simhash token hash, LSH hyperplanes, the
  * decode stub) are md5-derived, and DuckDB's md5 regenerates them
  * bit-for-bit (`('0x'||substr(md5(s),1,15))::BIGINT` = the engine's
  * [[graft.expressions.Kernels.md5_60]]).
  *
  * DuckDB 1.x portability notes baked into these statements:
  *  - CAST(double AS INT) ROUNDS in DuckDB but truncates in Spark — every
  *    fractional cast goes through floor() first;
  *  - regexp_replace needs the explicit 'g' flag (Spark replaces all);
  *  - default null sort order differs — ORDER BY spells NULLS FIRST
  *    wherever a sort key can be null;
  *  - aliases are double-quoted to preserve camelCase exactly.
  */
object Oracles {

  /** Shared SQL fragment: normalized text (lowercase, trim, collapse
    * whitespace) — mirror of [[graft.functions.TextFunctions.normalize]].
    */
  private def norm(c: String) =
    s"regexp_replace(trim(lower($c)), '\\s+', ' ', 'g')"

  /** Whitespace tokens of normalized text, empties dropped. */
  private def toks(c: String) =
    s"list_filter(string_split(${norm(c)}, ' '), x -> x <> '')"

  /** documents + 60%-truncation twins at doc_id+100000 for doc_id<150 —
    * mirror of [[QueriesLlm.docsWithTwins]] (floor() because Spark's
    * cast-to-int truncates while DuckDB's rounds).
    */
  private val docsTwins60 =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000,
      |       substr(text, 1, floor(length(text) * 60 / 100)::INT)
      |FROM documents WHERE doc_id < 150""".stripMargin

  /** documents + 90%-truncation twins (the simhash/minhash corpus) —
    * mirror of `QueriesLlm.docsWithTwins(pct = 90)`.
    */
  private val docsTwins90 =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000,
      |       substr(text, 1, floor(length(text) * 90 / 100)::INT)
      |FROM documents WHERE doc_id < 150""".stripMargin

  /** The cross-engine 60-bit md5 hash — mirror of
    * [[graft.expressions.Kernels.md5_60]].
    */
  private def md5_60(c: String) =
    s"('0x' || substr(md5($c), 1, 15))::BIGINT"

  /** Generated unrolled replay of [[graft.operators.Tokenizer
    * .bpeTrain]]: k iterations, each = greedy-min-rank segmentation
    * of the distinct-word table under the rules learned so far (the
    * recursive-CTE loop of the q_bpe_tokens oracle, parameterized by
    * a per-iteration map CTE over best0..best{i-1}), then
    * frequency-weighted adjacent-pair counts and the (n DESC, l, r)
    * argmax. Built WITHOUT stripMargin so `||` list concatenation can
    * never lose a pipe to margin stripping.
    */
  private def bpeTrainSql(k: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s"""words AS (SELECT w, count(*)::BIGINT AS cnt FROM (
  SELECT unnest(${toks("text")}) AS w FROM documents) GROUP BY w)"""
    parts += "fin0 AS (SELECT w, cnt, string_split(w, '') AS s FROM words)"
    def pairsBlock(i: Int): String =
      s"""pairs$i AS (SELECT p.l AS l, p.r AS r, sum(cnt)::BIGINT AS n FROM (
  SELECT cnt, unnest(list_transform(generate_series(1, len(s) - 1),
    i -> {'l': s[i], 'r': s[i + 1]})) AS p
  FROM fin$i WHERE len(s) >= 2) GROUP BY 1, 2),
best$i AS (SELECT $i AS rank, l, r, n FROM pairs$i
  ORDER BY n DESC, l, r LIMIT 1)"""
    def segBlock(i: Int): String = {
      val union = (0 until i)
        .map(j => s"SELECT rank, l, r FROM best$j").mkString(" UNION ALL ")
      s"""mp$i AS (SELECT map(list(l || chr(1) || r ORDER BY rank),
    list(rank ORDER BY rank)) AS m FROM ($union)),
step$i(w, cnt, s, it) AS (
  SELECT w, cnt, string_split(w, ''), 0 FROM words
  UNION ALL
  SELECT w, cnt,
    s[1:best.i - 1] || [s[best.i] || s[best.i + 1]] ||
      s[best.i + 2:len(s)],
    it + 1
  FROM (
    SELECT w, cnt, s, it,
      list_sort(list_filter(list_transform(
        generate_series(1, len(s) - 1),
        i -> {'rk': map_extract(m, s[i] || chr(1) || s[i + 1])[1],
              'i': i}),
        x -> x.rk IS NOT NULL))[1] AS best
    FROM step$i, mp$i) WHERE best IS NOT NULL),
fin$i AS (SELECT w, max_by(cnt, it) AS cnt, max_by(s, it) AS s
           FROM step$i GROUP BY w)"""
    }
    (0 until k).foreach { i =>
      parts += pairsBlock(i)
      if (i + 1 < k) parts += segBlock(i + 1)
    }
    val fin = (0 until k)
      .map(j => s"SELECT * FROM best$j").mkString(" UNION ALL ")
    "WITH RECURSIVE " + parts.mkString(",\n") +
      s"""\nSELECT rank, l AS "left", r AS "right", n AS n_pairs""" +
      s"\nFROM ($fin) ORDER BY rank"
  }

  /** Shared recursive-CTE chain replaying [[graft.functions
    * .TextFunctions.bpeSegment]]'s greedy BPE over documents: one
    * merge per iteration — the LEFTMOST occurrence of the
    * minimum-rank adjacent pair (list_sort of (rk, i) structs), state
    * bounded by word length. Ends with `bpecnt(doc_id, n)`, the BPE
    * token count per document with >= 1 word; docs with none are
    * absent (LEFT JOIN + coalesce 0 at the use site). Interpolating
    * statements must begin `WITH RECURSIVE`.
    */
  private val bpeCtes: String = {
    val vals = graft.functions.TextFunctions.demoMerges.zipWithIndex
      .map { case ((l, r), k) => s"($k,'$l','$r')" }.mkString(",")
    s"""mp AS (
       |  SELECT map(list(l || chr(1) || r ORDER BY rk),
       |             list(rk ORDER BY rk)) AS m
       |  FROM (VALUES $vals) AS mg(rk, l, r)),
       |bpe_tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       |bpe_words AS (SELECT doc_id, generate_subscripts(t, 1) AS wid,
       |    unnest(t) AS w FROM bpe_tok),
       |bpe_step(doc_id, wid, s, it) AS (
       |  SELECT doc_id, wid, string_split(w, ''), 0 FROM bpe_words
       |  UNION ALL
       |  SELECT doc_id, wid,
       |    s[1:best.i - 1] || [s[best.i] || s[best.i + 1]] ||
       |      s[best.i + 2:len(s)],
       |    it + 1
       |  FROM (
       |    SELECT doc_id, wid, s, it,
       |      list_sort(list_filter(list_transform(
       |        generate_series(1, len(s) - 1),
       |        i -> {'rk': map_extract(m, s[i] || chr(1) || s[i + 1])[1],
       |              'i': i}),
       |        x -> x.rk IS NOT NULL))[1] AS best
       |    FROM bpe_step, mp) WHERE best IS NOT NULL),
       |bpe_fin AS (SELECT doc_id, wid, max_by(s, it) AS s
       |            FROM bpe_step GROUP BY 1, 2),
       |bpecnt AS (SELECT doc_id, sum(len(s))::BIGINT AS n
       |           FROM bpe_fin GROUP BY 1)""".stripMargin
  }

  /** Shared CTE chain of the domain-mixture water-filling oracle,
    * through the per-source allocation table `a` — the closed form
    * [[graft.operators.Sampling.mixtureAllocation]] implements
    * (r-sort, running sums, boundary lambda*). Interpolated into both
    * q_mixture_alloc (reporting) and q_mixture_sample (expansion)
    * before stripMargin, so every internal line carries the margin
    * pipe.
    */
  private def mixtureCoreSql: String =
    """per AS (SELECT source, SUM(n_chars)::DOUBLE AS avail
      |    FROM documents GROUP BY source),
      |b0 AS (SELECT 2.0*SUM(avail) AS B FROM per),
      |tgt AS (SELECT source,
      |    ((COALESCE(TRY_CAST(SUBSTR(source, 4, 10) AS INT), 0)
      |      % 5) + 1)::DOUBLE AS tw FROM per),
      |j AS (SELECT p.source, p.avail, g.tw, p.avail*3.0 AS cap
      |    FROM per p JOIN tgt g
      |      ON p.source IS NOT DISTINCT FROM g.source),
      |tt AS (SELECT SUM(tw) AS T FROM j),
      |s AS (SELECT j.*, tt.T, b0.B,
      |    CASE WHEN tw > 0 THEN cap/tw END AS r,
      |    ROW_NUMBER() OVER w2 AS rn,
      |    COALESCE(SUM(cap) OVER w, 0) AS cumcap_b,
      |    COALESCE(SUM(tw) OVER w, 0) AS cumtgt_b
      |  FROM j, tt, b0
      |  WINDOW w AS (ORDER BY cap/tw ASC NULLS LAST,
      |        source NULLS FIRST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    w2 AS (ORDER BY cap/tw ASC NULLS LAST, source NULLS FIRST)),
      |s2 AS (SELECT *, CASE WHEN T - cumtgt_b > 0
      |    THEN (B - cumcap_b)/(T - cumtgt_b) END AS lam FROM s),
      |ls AS (SELECT lam AS lamstar FROM s2
      |  WHERE tw > 0 AND r >= lam ORDER BY rn LIMIT 1),
      |a AS (SELECT s2.source, avail, tw, T, cap, B,
      |    CASE WHEN tw > 0 THEN LEAST(cap,
      |        COALESCE((SELECT lamstar FROM ls), 1e308)*tw)
      |      ELSE 0.0 END AS alloc
      |  FROM s2)""".stripMargin
      .replace("\n", "\n         |")

  /** The low 31 bits of `c` spread onto even bit positions — mirror of
    * [[graft.io.ZOrder]]'s five shift-or-mask steps (masks in decimal:
    * 0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF, 0x0F0F0F0F0F0F0F0F,
    * 0x3333333333333333, 0x5555555555555555).
    */
  private def spreadSql(c: String): String =
    Seq(16 -> "281470681808895", 8 -> "71777214294589695",
      4 -> "1085102592571150095", 2 -> "3689348814741910323",
      1 -> "6148914691236517205")
      .foldLeft(s"($c::BIGINT & 2147483647)") { case (x, (s, m)) =>
        s"((($x | ($x << $s)) & $m))"
      }

  /** Cosine with the zero-norm guard of
    * [[graft.expressions.Kernels.cosine]].
    */
  private def cosSql(a: String, b: String) =
    s"""CASE WHEN list_dot_product($a, $a) = 0
       |          OR list_dot_product($b, $b) = 0 THEN 0.0
       |     ELSE list_dot_product($a, $b) /
       |          (sqrt(list_dot_product($a, $a)) *
       |           sqrt(list_dot_product($b, $b))) END""".stripMargin

  /** One unrolled Lloyd's iteration (mirror of
    * `Ann.trainIvfCentroids`): cosine assignment against cent`i`, then
    * per-(cell, dim) means via DECIMAL(30,15) accumulation — decimal
    * addition is exactly associative, so this matches the engine's
    * order-independent decimal sums bit-for-bit.
    */
  private def lloydIter(i: Int, dim: Int): String = {
    val n = i + 1
    s"""sc$i AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
       |  FROM vec CROSS JOIN cent$i),
       |asg$i AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cell DESC) AS rn FROM sc$i) WHERE rn = 1),
       |mean$i AS (SELECT a.cell, dr.range AS d,
       |    sum((v.v[dr.range + 1])::DECIMAL(30,15))::DOUBLE / count(*) AS m
       |  FROM asg$i a JOIN vec v USING (vec_id) CROSS JOIN range($dim) dr
       |  GROUP BY a.cell, dr.range),
       |cm$i AS (SELECT cell, list(m ORDER BY d) AS cv FROM mean$i
       |         GROUP BY cell),
       |cent$n AS (SELECT p.cell, coalesce(c.cv, p.cv) AS cv
       |           FROM cent$i p LEFT JOIN cm$i c USING (cell))""".stripMargin
  }

  private val stopEn = Seq("the","a","of","to","and","in","is","that","it","for")
  private val stopDe = Seq("der","die","das","und","ist","nicht","ein","zu","mit","den")
  private val stopFr = Seq("le","la","les","et","est","un","une","que","pour","dans")
  private val stopEs = Seq("el","los","las","y","es","un","una","que","por","para")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")
  private def hits(ws: Seq[String]) =
    s"len(list_filter(t, x -> x IN ${inList(ws)}))"

  /** Shared with q_ann_recall, which composes both as subqueries. */
  private val annBruteSql =
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT qid, vec_id,
        |        round(CASE WHEN sqrt(list_dot_product(qv, qv)) = 0
        |                     OR sqrt(list_dot_product(cv, cv)) = 0 THEN 0.0
        |              ELSE list_dot_product(qv, cv) /
        |                   (sqrt(list_dot_product(qv, qv)) *
        |                    sqrt(list_dot_product(cv, cv))) END, 6) AS cos
        |      FROM q CROSS JOIN c),
        |r AS (SELECT qid, vec_id, cos,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY cos DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT qid AS "query_id", vec_id, cos AS "cosine",
        |       rk::BIGINT AS "rank"
        |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin

  private val annIvfSql =
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY s DESC, cell DESC) AS rn FROM sc) WHERE rn = 1),
        |prb AS (SELECT vec_id AS qid, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY s DESC, cell DESC) AS rn FROM sc WHERE vec_id < 10)
        |  WHERE rn <= 2),
        |cand AS (SELECT p.qid, a.vec_id AS cid
        |         FROM prb p JOIN asg a ON a.cell = p.cell),
        |cs AS (SELECT qid, cid,
        |    round(CASE WHEN sqrt(list_dot_product(qv.v, qv.v)) = 0
        |                 OR sqrt(list_dot_product(cv.v, cv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(qv.v, cv.v) /
        |               (sqrt(list_dot_product(qv.v, qv.v)) *
        |                sqrt(list_dot_product(cv.v, cv.v))) END, 6) AS cos
        |  FROM cand JOIN vec qv ON qv.vec_id = qid
        |            JOIN vec cv ON cv.vec_id = cid),
        |r AS (SELECT qid, cid, cos,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY cos DESC, cid ASC) AS rk
        |      FROM cs)
        |SELECT qid AS "query_id", cid AS "vec_id", cos AS "cosine",
        |       rk::BIGINT AS "rank"
        |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin

  // lazy: `base` is declared below (keeping the 135-entry literal last
  // in the file for readability); a strict val here would read null
  lazy val all: Map[String, String] = base ++ Map(
    // The bucketed sessionize variants are output-identical to their
    // plain shapes — the time-bucketed two-phase execution is a hot-key
    // strategy, not a semantic change — so one oracle statement serves
    // both, and a divergence between the two engines' shapes reads as
    // a red row on exactly one of the pair.
    "q_sessionize_bucketed" -> base("q_sessionize"),
    "q_transitions_bucketed" -> base("q_transitions"),
    // Incremental item-CF folds a delta into the log with pair
    // fan-out only for touched users; pair counts partition
    // additively by user, so the full-rebuild oracle serves verbatim.
    "q_item_cf_incremental" -> base("q_item_cf"),
    // Streaming IPS over logged propensities: the complete-mode global
    // sum of 12-decimal terms equals the batch aggregation exactly,
    // and the fixture's precomputed propensities are the same
    // empirical ratios the batch query derives inline.
    "q_streaming_ips" -> base("q_ips_eval"),
    "q_session_prefixes_bucketed" -> base("q_session_prefixes"),
    "q_asof_join_bucketed" -> base("q_asof_join"),
    // The auto routes probe the key distribution and pick a shape;
    // either route is output-identical, so the plain oracles serve.
    "q_sessionize_auto" -> base("q_sessionize"),
    "q_session_prefixes_auto" -> base("q_session_prefixes"),
    "q_asof_auto" -> base("q_asof_join"),
    // The streamed profile's register state is merge-order-free, so
    // the streaming advisor's verdict IS the batch advisor's — one
    // oracle serves both, and any streamed-vs-batch divergence reads
    // as a red row on exactly one of the pair.
    "q_streaming_advisor" -> base("q_join_advisor"),

    // Shape-probe verdicts (ShapeSelect.decide): replay the routing
    // predicate — top-key share >= 0.05 OR top-key rows >= 4e6 —
    // over the same two key projections of the events scan. GROUP BY
    // retains a NULL key as one group in both engines, matching how
    // the window shapes partition NULL keys.
    "q_shape_decision" ->
      """WITH cu AS (SELECT user_id AS k, count(*) AS n
        |            FROM events GROUP BY 1),
        |ct AS (SELECT event_type AS k, count(*) AS n
        |       FROM events GROUP BY 1),
        |du AS (SELECT 'by_user' AS label, sum(n)::BIGINT AS n_rows,
        |         count(*)::BIGINT AS n_keys, max(n)::BIGINT AS top_rows,
        |         round(max(n)::DOUBLE / sum(n), 6) AS top_share,
        |         (max(n)::DOUBLE / sum(n) >= 0.05
        |          OR max(n) >= 4000000) AS bucketed
        |       FROM cu),
        |dt AS (SELECT 'by_type' AS label, sum(n)::BIGINT AS n_rows,
        |         count(*)::BIGINT AS n_keys, max(n)::BIGINT AS top_rows,
        |         round(max(n)::DOUBLE / sum(n), 6) AS top_share,
        |         (max(n)::DOUBLE / sum(n) >= 0.05
        |          OR max(n) >= 4000000) AS bucketed
        |       FROM ct)
        |SELECT * FROM du UNION ALL SELECT * FROM dt
        |ORDER BY label""".stripMargin)

  private val base: Map[String, String] = Map(

    // ---- pipelines ------------------------------------------------------

    "q_ri_pipeline" ->
      """WITH mapping AS (
        |  SELECT DISTINCT l_orderkey AS mo, l_suppkey AS ms FROM lineitem),
        |recs AS (
        |  SELECT l_orderkey AS ro, l_partkey AS rp,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) AS rn
        |  FROM lineitem WHERE l_quantity < 48)
        |SELECT o_orderkey::VARCHAR AS "queryItemId",
        |       ms::VARCHAR AS "userId",
        |       count(rp)::BIGINT AS "n_recs",
        |       string_agg(rp::VARCHAR, ',' ORDER BY rn) AS "rec_items",
        |       string_agg(p.p_brand, ',' ORDER BY rn) AS "rec_brands",
        |       'related_items_job' AS "jobName",
        |       '2024-01-01T00:00:00.000' AS "runDateTime"
        |FROM orders
        |JOIN mapping ON o_orderkey = mo
        |LEFT JOIN recs ON o_orderkey = ro
        |LEFT JOIN part p ON rp = p.p_partkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_up_pipeline" ->
      """SELECT o_custkey::VARCHAR AS "queryUserId",
        |       count(*)::BIGINT AS "n_recs",
        |       string_agg(l_partkey::VARCHAR, ','
        |          ORDER BY l_orderkey, l_linenumber, l_partkey)
        |         AS "rec_items",
        |       string_agg(p_brand, ','
        |          ORDER BY l_orderkey, l_linenumber, l_partkey)
        |         AS "rec_brands"
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- sources / sinks / config ---------------------------------------

    "q_jsonl_backfill" ->
      """SELECT o_orderkey::VARCHAR AS "queryItemId", NULL::VARCHAR AS "error"
        |FROM orders ORDER BY 1""".stripMargin,

    "q_csv_scan" ->
      """SELECT DISTINCT l_suppkey::VARCHAR AS "USER_ID",
        |       l_orderkey::VARCHAR AS "ITEM_ID"
        |FROM lineitem ORDER BY 1, 2""".stripMargin,

    "q_jsonl_gzip" ->
      """SELECT n_nationkey::BIGINT AS "nationkey", n_name AS "name"
        |FROM nation ORDER BY 1""".stripMargin,

    "q_corrupt_tolerant" ->
      """SELECT count(*)::BIGINT AS "n_valid", 3::BIGINT AS "n_corrupt"
        |FROM region""".stripMargin,

    "q_metadata_gated" ->
      """SELECT p_partkey::VARCHAR AS "id", p_brand
        |FROM part ORDER BY 1""".stripMargin,

    "q_sink_runtime_partition" ->
      """SELECT r_regionkey::BIGINT AS "regionkey", r_name AS "name"
        |FROM region ORDER BY 1""".stripMargin,

    "q_config_parse" ->
      """SELECT 'data/batch_inference/related_items' AS "batchInferencePath",
        |       'true' AS "topDelta", 'false' AS "saveErrors",
        |       'false' AS "brazeDelta", 'true' AS "otherDelta",
        |       'rec_' AS "prefix", 'p_brand,p_name' AS "metaFields",
        |       'US' AS "country"""".stripMargin,

    // ---- filters / joins / explode / window / assemble ------------------

    "q_error_split_ok" ->
      """WITH recs AS (
        |  SELECT l_orderkey, count(*) AS n FROM lineitem
        |  WHERE l_quantity < 48 GROUP BY 1)
        |SELECT o_orderkey::VARCHAR AS "queryItemId", n::BIGINT AS "n_recs"
        |FROM orders LEFT JOIN recs ON o_orderkey = l_orderkey
        |WHERE o_orderstatus <> 'F' ORDER BY 1""".stripMargin,

    "q_error_split_err" ->
      """SELECT o_orderkey::VARCHAR AS "queryItemId",
        |       'SIMULATED_ERROR' AS "error"
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY 1""".stripMargin,

    // K2: the errors-sink round-trip must surface exactly the error rows
    // the split produced — same relation as q_error_split_err, but the
    // Spark side goes through the gated write + partitioned read-back.
    "q_errors_sink" ->
      """SELECT o_orderkey::VARCHAR AS "queryItemId",
        |       'SIMULATED_ERROR' AS "error"
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY 1""".stripMargin,

    // Schema evolution: pre-evolution (even-key) rows carry null for
    // the later-added column.
    "q_schema_evolution" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |       ELSE o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_join_mapusers" ->
      """SELECT o_orderkey::VARCHAR AS "queryItemId",
        |       m.l_suppkey::VARCHAR AS "userId"
        |FROM orders
        |JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) m
        |  ON o_orderkey = m.l_orderkey
        |WHERE o_orderstatus <> 'F' ORDER BY 1, 2""".stripMargin,

    "q_join_decorate_left" ->
      """SELECT l_orderkey::VARCHAR AS "queryItemId",
        |       l_linenumber::BIGINT AS "pos",
        |       l_partkey::VARCHAR AS "itemId", p.p_brand AS "brand"
        |FROM lineitem
        |LEFT JOIN (SELECT p_partkey, p_brand FROM part
        |           WHERE p_retailprice > 1500) p
        |  ON l_partkey = p.p_partkey
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_posexplode_outer" ->
      """WITH recs AS (
        |  SELECT l_orderkey, l_partkey::VARCHAR AS item,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) - 1
        |           AS p
        |  FROM lineitem WHERE l_quantity < 48)
        |SELECT o_orderkey::VARCHAR AS "queryItemId", p::BIGINT AS "pos",
        |       item AS "recItemId"
        |FROM orders LEFT JOIN recs ON o_orderkey = l_orderkey
        |WHERE o_orderstatus <> 'F'
        |ORDER BY 1, 2 NULLS FIRST""".stripMargin,

    "q_window_prefix" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |       l_partkey::VARCHAR AS "partkey",
        |       count(*) OVER (PARTITION BY l_orderkey
        |                      ORDER BY l_linenumber, l_partkey
        |                      RANGE BETWEEN UNBOUNDED PRECEDING
        |                      AND CURRENT ROW)::BIGINT AS "prefix_len",
        |       l_partkey::VARCHAR AS "prefix_last"
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin,

    "q_assemble_groupby" ->
      """SELECT l_orderkey::VARCHAR AS "queryItemId",
        |       count(*)::BIGINT AS "n_recs",
        |       string_agg(l_partkey::VARCHAR, ','
        |                  ORDER BY l_linenumber, l_partkey) AS "rec_items"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_assemble_window" ->
      """SELECT l_orderkey::VARCHAR AS "queryItemId",
        |       count(*)::BIGINT AS "n_recs",
        |       string_agg(l_partkey::VARCHAR, ','
        |                  ORDER BY l_linenumber, l_partkey) AS "rec_items"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- delta / set ops / counts ---------------------------------------

    "q_delta_except" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |         l_partkey, l_quantity
        |  FROM lineitem
        |  EXCEPT
        |  SELECT l_orderkey, l_linenumber::BIGINT, l_partkey, l_quantity
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01')
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "q_delta_keyed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "q_canonicalize" ->
      "SELECT * FROM part ORDER BY p_partkey",

    "q_counts" ->
      """SELECT (SELECT count(*) FROM orders)::BIGINT AS "total",
        |  (SELECT count(*) FROM orders WHERE o_orderstatus <> 'F')::BIGINT
        |    AS "ok_cnt",
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'F')::BIGINT
        |    AS "err_cnt",
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem))::BIGINT
        |    AS "mapping_cnt"""".stripMargin,

    // ---- stamp / scalar / pivot -----------------------------------------

    "q_stamp_jobinfo" ->
      """SELECT r_regionkey::VARCHAR AS "userId", 'graft_job' AS "jobName",
        |       '2024-01-01T00:00:00.000' AS "runDateTime",
        |       'recommendation_' AS "attributePrefix", 'US' AS "country",
        |       'gold' AS "tier"
        |FROM region ORDER BY 1""".stripMargin,

    "q_date_format" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y/%m/%d') AS "datepath",
        |       strftime(o_orderdate, '%Y') AS "year"
        |FROM orders ORDER BY 1""".stripMargin,

    "q_prefix_attrs" ->
      """SELECT p_partkey::VARCHAR AS "itemId",
        |       'recommendation_' || p_brand AS "prefixed_brand"
        |FROM part ORDER BY 1""".stripMargin,

    "q_pivot_attributes" ->
      """SELECT l_suppkey::VARCHAR AS "external_id",
        |       string_agg(l_partkey::VARCHAR, ','
        |          ORDER BY l_orderkey, l_linenumber, l_partkey)
        |         AS "rec_items",
        |       string_agg((l_orderkey * 10 + l_linenumber)::VARCHAR, ','
        |          ORDER BY l_orderkey, l_linenumber, l_partkey)
        |         AS "rec_slots",
        |       'US' AS "country"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // Per-record directives: each user's rows keyed by ITS prefix; the
    // JSON-array encoding is replicated with string_agg.
    "q_pivot_per_record" ->
      """WITH per AS (
        |  SELECT l_suppkey AS uid,
        |         '["' || string_agg(l_partkey::VARCHAR, '","'
        |            ORDER BY l_orderkey, l_linenumber, l_partkey)
        |           || '"]' AS items,
        |         '["' || string_agg((l_orderkey * 10 + l_linenumber)::VARCHAR,
        |            '","' ORDER BY l_orderkey, l_linenumber, l_partkey)
        |           || '"]' AS slots
        |  FROM lineitem GROUP BY 1),
        |pfx AS (
        |  SELECT uid, CASE WHEN uid % 2 = 0 THEN 'rec_a_'
        |              ELSE 'recommendation_' END AS p,
        |         items, slots FROM per),
        |attrs AS (
        |  SELECT uid, p || 'itemId' AS attr, items AS value FROM pfx
        |  UNION ALL
        |  SELECT uid, p || 'slot', slots FROM pfx
        |  UNION ALL
        |  SELECT uid, 'country', 'US' FROM pfx WHERE uid % 2 = 0
        |  UNION ALL
        |  SELECT uid, 'tier', 'gold' FROM pfx WHERE uid % 2 <> 0)
        |SELECT uid::VARCHAR AS "external_id", attr AS "attr",
        |       value AS "value"
        |FROM attrs ORDER BY 1, 2""".stripMargin,

    // NULLS FIRST mirrors Spark's ascending-sort default on the
    // nullable event_type (DuckDB defaults to NULLS LAST; the compare
    // is row-order-sensitive). Same in q_events_sliding.
    "q_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
        |         '%Y-%m-%d %H:%M:%S') AS "window_start",
        |       event_type, count(*)::BIGINT AS "n",
        |       sum(value::DECIMAL(18,6))::DOUBLE AS "sum_value"
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2 NULLS FIRST""".stripMargin,

    "q_sql_api" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS "n",
        |  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS "sum_qty",
        |  sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS "sum_price"
        |FROM lineitem WHERE l_quantity < 50
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_partition_pruned" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS "n",
        |  sum(o_custkey)::BIGINT AS "sum_cust"
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Salting shapes the intermediates only: result == plain join.
    "q_salted_join" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS "gid",
        |  count(*)::BIGINT AS "n", sum(o_custkey)::BIGINT AS "sum_cust"
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin,

    "q_pivot_wide" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'O')::BIGINT AS "n_open",
        |  count(*) FILTER (WHERE o_orderstatus = 'F')::BIGINT
        |    AS "n_finished",
        |  count(*) FILTER (WHERE o_orderstatus = 'P')::BIGINT
        |    AS "n_pending"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey, c_mktsegment,
        |  c_custkey IN (SELECT o_custkey FROM orders) AS "has_orders"
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Split membership hashes the ':split'-salted key (see
    // Sampling.SplitSalt) so it is independent of any sampling filter.
    "q_hash_split" ->
      s"""WITH b AS (SELECT doc_id,
         |    ${md5_60("doc_id::VARCHAR || ':split'")} % 1000000 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 800000 THEN 'train'
         |       WHEN bucket < 900000 THEN 'val'
         |       ELSE 'test' END AS "split"
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_token_percentiles" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |h AS (SELECT doc_id, len(t)::BIGINT AS n,
         |  ${hits(stopEn)} AS en, ${hits(stopDe)} AS de,
         |  ${hits(stopFr)} AS fr, ${hits(stopEs)} AS es FROM tok),
         |l AS (SELECT n,
         |  CASE WHEN en <= 0 AND de <= 0 AND fr <= 0 AND es <= 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang FROM h)
         |SELECT lang, count(*)::BIGINT AS "n_docs",
         |  round(quantile_cont(n, 0.5), 6) AS "p50",
         |  round(quantile_cont(n, 0.9), 6) AS "p90",
         |  min(n) AS "min_tok", max(n) AS "max_tok"
         |FROM l GROUP BY lang ORDER BY lang""".stripMargin,

    // The union+window as-of formulation == DuckDB's native ASOF LEFT
    // JOIN (backward, inclusive); (user_id, ts) is unique in events so
    // no tie-break is needed.
    "q_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                   event_type FROM events),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id FROM ev
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts_us AS vts, event_id AS view_id FROM ev
        |      WHERE event_type = 'view')
        |SELECT p.user_id, p.ts_us, p.purchase_id, v.view_id,
        |       v.vts AS view_ts_us
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.vts
        |ORDER BY p.user_id, p.ts_us""".stripMargin,

    // Bucketing shapes the PLAN (no exchange), not the rows: the oracle
    // is the plain join+agg.
    "q_bucketed_join" ->
      """SELECT o_orderkey, o_totalprice, n_items, sum_part
        |FROM orders JOIN (
        |  SELECT l_orderkey, count(*)::BIGINT AS n_items,
        |         sum(l_partkey)::BIGINT AS sum_part
        |  FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    // Range-sorted layout shapes the FILES, not the rows: the oracle
    // states the layout invariants (file count, losslessness, zero
    // overlapping min/max spans) the query measures from the read-back.
    "q_layout_sorted" ->
      """SELECT 4::BIGINT AS "n_files",
        |  (SELECT count(*) FROM events)::BIGINT AS "n_rows",
        |  0::BIGINT AS "overlapping_pairs"""".stripMargin,

    // Morton z-value: the same five shift-or-mask spreading steps per
    // column, x on even bits, y (shifted) on odd bits.
    "q_zvalue" ->
      s"""SELECT event_id, user_id,
         |  (${spreadSql("user_id")}
         |   | (${spreadSql("event_id")} << 1))::BIGINT AS "z"
         |FROM events WHERE event_id < 100
         |ORDER BY event_id""".stripMargin,

    // Z-ordered layout: the same invariant statement as
    // q_layout_sorted — 4 files, lossless, zero overlapping z-spans.
    "q_zorder_layout" ->
      """SELECT 4::BIGINT AS "n_files",
        |  (SELECT count(*) FROM events)::BIGINT AS "n_rows",
        |  0::BIGINT AS "overlapping_pairs"""".stripMargin,

    // Merge-on-read over the two planted versions (v0 snapshot keys
    // < 2000; v1 upserts keys < 500 at price*1.1 and tombstones
    // [500, 600)) == this direct statement over orders.
    "q_state_table" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey < 500 THEN o_totalprice * 1.1
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |WHERE o_orderkey < 2000
        |  AND NOT (o_orderkey >= 500 AND o_orderkey < 600)
        |ORDER BY o_orderkey""".stripMargin,

    // Two-phase salted top-k == plain per-group top-k (the salt only
    // shapes intermediates), so the oracle is a window row_number.
    "q_topk_group" ->
      """SELECT l_orderkey, rk::BIGINT AS "rank", l_extendedprice,
        |       l_partkey, l_linenumber
        |FROM (SELECT l_orderkey, l_extendedprice, l_partkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_extendedprice DESC, l_partkey DESC,
        |                   l_linenumber DESC) AS rk
        |      FROM lineitem WHERE l_quantity < 10)
        |WHERE rk <= 3 ORDER BY l_orderkey, rk""".stripMargin,

    // Column profile: one UNION ALL branch per profiled column.
    "q_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS "n_rows",
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT
           |    AS "n_nulls",
           |  count(DISTINCT $c)::BIGINT AS "n_distinct",
           |  min($c)::VARCHAR AS "min_str", max($c)::VARCHAR AS "max_str"
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate").map(branch).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY col_name")
    },

    // Same relation as q_topk_group: the bounded-heap physical shape
    // must produce identical rows.
    "q_topk_bounded" ->
      """SELECT l_orderkey, rk::BIGINT AS "rank", l_extendedprice,
        |       l_partkey, l_linenumber
        |FROM (SELECT l_orderkey, l_extendedprice, l_partkey, l_linenumber,
        |        row_number() OVER (PARTITION BY l_orderkey
        |          ORDER BY l_extendedprice DESC, l_partkey DESC,
        |                   l_linenumber DESC) AS rk
        |      FROM lineitem WHERE l_quantity < 10)
        |WHERE rk <= 3 ORDER BY l_orderkey, rk""".stripMargin,

    // Each event belongs to exactly 2 sliding (1h, 30min) windows:
    // bucket(30min, ts) and that minus 30min.
    "q_events_sliding" ->
      """WITH ev AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b,
        |                   event_type, value FROM events),
        |w AS (SELECT b - INTERVAL '30 minutes' * i.range AS ws,
        |             event_type, value
        |      FROM ev CROSS JOIN range(2) i)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS "window_start",
        |       event_type, count(*)::BIGINT AS "n",
        |       sum(value::DECIMAL(18,6))::DOUBLE AS "sum_value"
        |FROM w GROUP BY 1, 2
        |ORDER BY 1, 2 NULLS FIRST""".stripMargin,

    // session_window semantics: an event arriving EXACTLY at the
    // previous session's end (gap == 30 min to the microsecond) MERGES
    // into it — Spark extends a session whenever the new event's window
    // start touches the current end, so a new session needs gap
    // STRICTLY > 30 min; end = last event + gap. (Measured on the
    // synthetic gap ladder, scripts/synthgen.py: the old `>=` replay
    // split one session per exact-1800 s pair that Spark merges;
    // invisible on driver data, which has no exact-gap pairs.)
    "q_session_window" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |marked AS (SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |                  ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM marked)
        |SELECT user_id,
        |  strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S')
        |    AS "session_start",
        |  strftime(make_timestamp(max(us) + 1800000000),
        |    '%Y-%m-%d %H:%M:%S') AS "session_end",
        |  count(*)::BIGINT AS "n_events"
        |FROM sess GROUP BY user_id, seq ORDER BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |         epoch_ns(ts) // 1000000000 AS s
        |  FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, s,
        |    sum(new_session) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND CURRENT ROW) AS session_seq
        |  FROM marked)
        |SELECT user_id, session_seq::BIGINT AS "session_seq",
        |       count(*)::BIGINT AS "n_events",
        |       (max(s) - min(s))::BIGINT AS "duration_s"
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Next-event sequences: the q_sessionize session assignment plus a
    // bounded list window (10 PRECEDING .. 1 PRECEDING); first-of-
    // session rows (empty prefix) are excluded on both sides.
    "q_session_prefixes" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |         epoch_ns(ts) // 1000 AS us,
        |         epoch_ns(ts) // 1000000000 AS s
        |  FROM events),
        |marked AS (
        |  SELECT user_id, event_id, us, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id
        |                           ORDER BY us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND CURRENT ROW) AS session_seq
        |  FROM marked),
        |p AS (
        |  SELECT user_id, session_seq, event_id,
        |    list(event_id) OVER (PARTITION BY user_id, session_seq
        |                         ORDER BY us, event_id
        |                         ROWS BETWEEN 10 PRECEDING
        |                         AND 1 PRECEDING) AS prefix
        |  FROM sessions)
        |SELECT user_id, session_seq::BIGINT AS "session_seq",
        |       array_to_string(prefix, ',') AS "prefix",
        |       event_id AS "label"
        |FROM p WHERE len(coalesce(prefix, [])) > 0
        |ORDER BY user_id, session_seq, event_id""".stripMargin,

    // §2.12 stateful streaming sessionizer: every session event-time-
    // times-out under the sentinel-advanced watermark, so the streamed
    // result equals the batch window formulation — same SQL as
    // q_sessionize (gap arithmetic on floor-seconds is invariant to
    // within-second ordering, see Queries.sessionizeStream).
    "q_sessionize_stream" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |         epoch_ns(ts) // 1000000000 AS s
        |  FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, s,
        |    sum(new_session) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND CURRENT ROW) AS session_seq
        |  FROM marked)
        |SELECT user_id, session_seq::BIGINT AS "session_seq",
        |       count(*)::BIGINT AS "n_events",
        |       (max(s) - min(s))::BIGINT AS "duration_s"
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // §2.12 streaming attribution run in batch: a plain range join.
    // Microsecond epochs on both sides (epoch_us here, Events.tsMicros
    // in Spark) so nano-precision boundary events cannot diverge.
    "q_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                   event_type FROM events)
        |SELECT v.user_id AS "user_id", v.event_id AS "view_id",
        |       c.event_id AS "conv_id"
        |FROM ev v JOIN ev c
        |  ON v.user_id = c.user_id
        | AND c.ts_us >= v.ts_us
        | AND c.ts_us <= v.ts_us + 86400000000
        |WHERE v.event_type = 'view' AND c.event_type = 'purchase'
        |ORDER BY 1, 2, 3""".stripMargin,

    // Point-in-time join (operators/AsofJoin.pointInTime): each
    // purchase LEFT-joined to the SCD2 interval (built from the
    // non-purchase events) containing its timestamp; intervals are
    // disjoint per user, so at most one version matches.
    "q_pit_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |b AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
        |c AS (SELECT user_id, event_id, event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev
        |  FROM b),
        |ch AS (SELECT user_id, event_id, event_type, us FROM c
        |       WHERE prev IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type AS state_type, us AS vf,
        |    lead(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS vt
        |  FROM ch),
        |f AS (SELECT user_id, event_id, us FROM ev
        |      WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, iv.state_type
        |FROM f LEFT JOIN iv ON iv.user_id = f.user_id
        |  AND iv.vf <= f.us AND (iv.vt IS NULL OR f.us < iv.vt)
        |ORDER BY 1, 2""".stripMargin,

    // Changelog compaction (Events.applyChangelog): latest entry per
    // user wins (ts_us, event_id ordering); users whose latest event
    // is an error (the tombstone op) drop out of the snapshot.
    // Time-series resample + ffill (Events.resample): daily grid from
    // the step-aligned per-user min to the max, ASOF-joined to the
    // greatest-event_id-per-instant compaction (= asofBackward with
    // tieCol=event_id).
    "q_resample" ->
      """WITH ev AS (SELECT user_id,
        |    coalesce(user_id, -4611686018427387904) AS uk,
        |    epoch_ns(ts) // 1000 AS ts_us,
        |    event_id, value FROM events),
        |cpt AS (SELECT uk, ts_us,
        |    arg_max(event_id, event_id) AS event_id,
        |    arg_max(value, event_id) AS value
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT user_id, uk, min(ts_us) AS mn, max(ts_us) AS mx
        |      FROM ev GROUP BY 1, 2),
        |grid AS (SELECT user_id, uk,
        |    unnest(generate_series(mn - mn % 86400000000,
        |                           mx, 86400000000)) AS ts_us
        |  FROM b)
        |SELECT g.user_id, g.ts_us, c.value, c.event_id
        |FROM grid g ASOF LEFT JOIN cpt c
        |  ON g.uk = c.uk AND g.ts_us >= c.ts_us
        |ORDER BY g.user_id NULLS FIRST, g.ts_us""".stripMargin,

    // Streaming survivorship (Queries.streamingSurvivorshipQ): the
    // per-column max_by state is order-insensitive, so the streamed
    // golden records equal the batch operator's — the oracle is
    // q_survivorship's replay verbatim.
    "q_streaming_survivorship" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS ts_us, event_type,
        |    CASE WHEN event_type = 'error' THEN NULL
        |         ELSE value END AS value
        |  FROM events),
        |t AS (SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY (event_type IS NOT NULL) DESC, ts_us DESC,
        |      event_id DESC) AS rn FROM ev),
        |v AS (SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY (value IS NOT NULL) DESC, ts_us DESC,
        |      event_id DESC) AS rn FROM ev)
        |SELECT t.user_id, t.event_type, v.value
        |FROM t JOIN v ON t.user_id IS NOT DISTINCT FROM v.user_id
        |WHERE t.rn = 1 AND v.rn = 1
        |ORDER BY t.user_id NULLS FIRST""".stripMargin,

    // Field-level survivorship (Events.survivorship): each column's
    // survivor is the arg-max over (value IS NOT NULL, ts_us,
    // event_id) — one window per column here, the engine's max_by
    // struct without any window. `value` is planted null on error
    // events, so the two columns' winners genuinely diverge.
    "q_survivorship" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS ts_us, event_type,
        |    CASE WHEN event_type = 'error' THEN NULL
        |         ELSE value END AS value
        |  FROM events),
        |t AS (SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY (event_type IS NOT NULL) DESC, ts_us DESC,
        |      event_id DESC) AS rn FROM ev),
        |v AS (SELECT user_id, value, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY (value IS NOT NULL) DESC, ts_us DESC,
        |      event_id DESC) AS rn FROM ev)
        |SELECT t.user_id, t.event_type, v.value
        |FROM t JOIN v ON t.user_id IS NOT DISTINCT FROM v.user_id
        |WHERE t.rn = 1 AND v.rn = 1
        |ORDER BY t.user_id NULLS FIRST""".stripMargin,

    "q_cdc_apply" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS ts_us, event_type, value
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
        |SELECT user_id, event_id, ts_us, event_type, value
        |FROM r WHERE rn = 1
        |  AND (event_type <> 'error' OR event_type IS NULL)
        |ORDER BY user_id""".stripMargin,

    // Full-changelog SCD2 history (Events.scd2History): the cdc
    // changelog with lead()-closed validity intervals, deletes dropped
    // AFTER closing their predecessor (the lead runs over ALL ops, the
    // filter after).
    "q_scd2_history" ->
      """WITH log AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS ts_us, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |w AS (SELECT *,
        |    lead(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS nt,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS ne
        |  FROM log)
        |SELECT user_id, event_id, ts_us, event_type, value,
        |  ts_us AS valid_from_ts_us, nt AS valid_to_ts_us,
        |  event_id AS valid_from_event_id, ne AS valid_to_event_id,
        |  (nt IS NULL) AS is_current
        |FROM w WHERE op <> 'D'
        |ORDER BY user_id, valid_from_ts_us, valid_from_event_id"""
        .stripMargin,

    // Cohort retention (Events.cohortRetention): weekly
    // epoch-microsecond buckets, per-user min bucket = cohort,
    // distinct (user, bucket) activity joined back, user counts per
    // (cohort, offset). NULL users excluded on both engines.
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id AS u,
        |    (epoch_ns(ts) // 1000) // 604800000000 AS b
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT u, min(b) AS cohort FROM e GROUP BY u),
        |a AS (SELECT DISTINCT u, b FROM e)
        |SELECT c.cohort, a.b - c.cohort AS period_offset,
        |  count(*)::BIGINT AS n_users
        |FROM a JOIN c USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Ranking evaluation (RankEval.metricsAtK over the 1996-01-01
    // order-history split): per-user metrics are exact IEEE divisions
    // (bit-identical across engines); NDCG discounts are 12-decimal
    // HALF_UP constants of 1/log2(r+1) (verified equal to the JVM's at
    // 12 places), so DCG sums are exact decimals; macro-averages are
    // decimal sums divided once in double, rounded to 6.
    "q_rank_metrics" ->
      """WITH fact AS (SELECT o_custkey AS u, l_partkey AS i,
        |    o_orderdate AS d, l_quantity AS q
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |tr AS (SELECT u, i, count(*) AS n_buy,
        |    sum(q::DECIMAL(18,6)) AS qty
        |  FROM fact WHERE d < TIMESTAMP '1996-01-01' GROUP BY 1, 2),
        |recs AS (SELECT u, i, r FROM (SELECT u, i, row_number() OVER (
        |      PARTITION BY u ORDER BY n_buy DESC, qty DESC, i) AS r
        |    FROM tr) WHERE r <= 10),
        |truth AS (SELECT DISTINCT u, i FROM fact
        |  WHERE d >= TIMESTAMP '1996-01-01'),
        |nrel AS (SELECT u, count(*) AS n_rel FROM truth GROUP BY 1),
        |disc AS (SELECT i AS r,
        |    round(1 / log2(i + 1), 12)::DECIMAL(28,12) AS disc
        |  FROM generate_series(1, 10) t(i)),
        |cum AS (SELECT r,
        |    (sum(disc) OVER (ORDER BY r))::DECIMAL(28,12) AS c
        |  FROM disc),
        |ks AS (SELECT unnest([5, 10]) AS k),
        |hits AS (SELECT recs.u, recs.r FROM recs JOIN truth USING (u, i)),
        |puk AS (SELECT k, u, count(*) AS n_hit, min(r) AS first_hit,
        |    sum(disc) AS dcg
        |  FROM hits JOIN ks ON r <= k JOIN disc USING (r) GROUP BY 1, 2),
        |pu AS (SELECT k,
        |    round(coalesce(n_hit, 0)::DOUBLE / k, 12)
        |      ::DECIMAL(28,12) AS p_u,
        |    round(coalesce(n_hit, 0)::DOUBLE / n_rel, 12)
        |      ::DECIMAL(28,12) AS r_u,
        |    round(coalesce(dcg, 0)::DOUBLE / cum.c::DOUBLE, 12)
        |      ::DECIMAL(28,12) AS ndcg_u,
        |    round(CASE WHEN first_hit IS NOT NULL
        |          THEN 1.0::DOUBLE / first_hit ELSE 0 END, 12)
        |      ::DECIMAL(28,12) AS rr_u,
        |    CASE WHEN coalesce(n_hit, 0) > 0 THEN 1 ELSE 0 END AS hit_u
        |  FROM (SELECT * FROM nrel CROSS JOIN ks) univ
        |  LEFT JOIN puk USING (k, u)
        |  JOIN cum ON cum.r = least(univ.k, univ.n_rel))
        |SELECT k, count(*)::BIGINT AS n_users,
        |  round(sum(p_u)::DOUBLE / count(*), 6) AS "precision",
        |  round(sum(r_u)::DOUBLE / count(*), 6) AS recall,
        |  round(sum(ndcg_u)::DOUBLE / count(*), 6) AS ndcg,
        |  round(sum(rr_u)::DOUBLE / count(*), 6) AS mrr,
        |  round(sum(hit_u)::DOUBLE / count(*), 6) AS hit_rate
        |FROM pu GROUP BY k ORDER BY k""".stripMargin,

    // Beyond-accuracy metrics (RankEval.catalogMetrics): coverage is a
    // ratio of distinct counts; popularity/novelty terms are IEEE
    // ratios (novelty via log2, whose 12-decimal rounding aligns the
    // engines), decimal-summed and divided once.
    "q_rec_coverage" ->
      """WITH fact AS (SELECT o_custkey AS u, l_partkey AS i,
        |    o_orderdate AS d, l_quantity AS q
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |tr AS (SELECT u, i, count(*) AS n_buy,
        |    sum(q::DECIMAL(18,6)) AS qty
        |  FROM fact WHERE d < TIMESTAMP '1996-01-01' GROUP BY 1, 2),
        |recs AS (SELECT u, i FROM (SELECT u, i, row_number() OVER (
        |      PARTITION BY u ORDER BY n_buy DESC, qty DESC, i) AS r
        |    FROM tr) WHERE r <= 10),
        |inter AS (SELECT DISTINCT u, i FROM fact),
        |iu AS (SELECT i, count(*) AS n_iu FROM inter GROUP BY 1),
        |sz AS (SELECT count(DISTINCT i) AS catalog_size,
        |    count(DISTINCT u) AS n_users FROM inter),
        |rws AS (SELECT recs.i, coalesce(n_iu, 0) AS n_iu,
        |    catalog_size, n_users
        |  FROM recs LEFT JOIN iu USING (i) CROSS JOIN sz)
        |SELECT 10 AS k, max(n_users)::BIGINT AS n_users,
        |  max(catalog_size)::BIGINT AS catalog_size,
        |  count(DISTINCT i)::BIGINT AS n_rec_items,
        |  round(count(DISTINCT i)::DOUBLE / max(catalog_size), 6)
        |    AS coverage,
        |  round(sum(round(-log2((n_iu + 1)::DOUBLE / (n_users + 1)), 12)
        |    ::DECIMAL(28,12))::DOUBLE / count(*), 6) AS novelty,
        |  round(sum(round(n_iu::DOUBLE / n_users, 12)
        |    ::DECIMAL(28,12))::DOUBLE / count(*), 6) AS avg_popularity
        |FROM rws""".stripMargin,

    // Item-item CF (ItemSim.cosineNeighbors): co-counts and supports
    // are exact integers after the 100-item user cap; cosine is one
    // long multiply + IEEE sqrt + IEEE divide (bit-identical across
    // engines); ties rank by neighbor id.
    "q_item_cf" ->
      """WITH ui AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |uc AS (SELECT u FROM (SELECT u, count(*) AS nu FROM ui
        |  GROUP BY 1) WHERE nu <= 100),
        |capped AS (SELECT ui.u, ui.i FROM ui JOIN uc USING (u)),
        |ic AS (SELECT i, count(*) AS ni FROM capped GROUP BY 1),
        |pairs AS (SELECT a.i AS ia, b.i AS ib, count(*) AS co
        |  FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT ia AS item, ib AS neighbor, co FROM pairs
        |  UNION ALL SELECT ib, ia, co FROM pairs),
        |sc AS (SELECT item, neighbor, co,
        |    co::DOUBLE / sqrt((n1.ni * n2.ni)::DOUBLE) AS sim
        |  FROM sym JOIN ic n1 ON n1.i = item JOIN ic n2 ON n2.i = neighbor),
        |r AS (SELECT item, neighbor, co, sim, row_number() OVER (
        |    PARTITION BY item ORDER BY sim DESC, neighbor) AS rn
        |  FROM sc)
        |SELECT item, neighbor, co::BIGINT AS co, round(sim, 6) AS sim,
        |  rn::BIGINT AS "rank"
        |FROM r WHERE rn <= 10 ORDER BY item, rn""".stripMargin,

    // Personalized PageRank (Graph.personalizedPageRank, seeds =
    // parts < 10, two unrolled iterations over the symmetrized
    // part-supplier graph): restart mass (1-d)/|S| on the seeds only,
    // per-destination DECIMAL(30,15) sums, same determinism discipline
    // as q_pagerank.
    "q_ppr" ->
      """WITH e0 AS (SELECT DISTINCT l_partkey AS s,
        |    l_suppkey + 10000000 AS d FROM lineitem),
        |edg AS (SELECT s AS esrc, d AS edst FROM e0
        |  UNION SELECT d, s FROM e0),
        |nodes AS (SELECT DISTINCT esrc AS node FROM edg),
        |sd AS (SELECT DISTINCT s AS node FROM e0 WHERE s < 10),
        |ns AS (SELECT count(*) AS k FROM sd),
        |deg AS (SELECT esrc, count(*) AS od FROM edg GROUP BY 1),
        |r0 AS (SELECT node, CASE WHEN node IN (SELECT node FROM sd)
        |    THEN 1::DOUBLE / (SELECT k FROM ns)
        |    ELSE 0::DOUBLE END AS r FROM nodes),
        |s1 AS (SELECT e.edst, sum((r.r / d.od)::DECIMAL(30,15))::DOUBLE
        |    AS s
        |  FROM edg e JOIN r0 r ON r.node = e.esrc
        |  JOIN deg d ON d.esrc = e.esrc GROUP BY 1),
        |r1 AS (SELECT n.node,
        |    (CASE WHEN n.node IN (SELECT node FROM sd)
        |       THEN (1::DOUBLE - 0.85::DOUBLE) / (SELECT k FROM ns)
        |       ELSE 0::DOUBLE END +
        |     0.85::DOUBLE * coalesce(s1.s, 0::DOUBLE)) AS r
        |  FROM nodes n LEFT JOIN s1 ON s1.edst = n.node),
        |s2 AS (SELECT e.edst, sum((r.r / d.od)::DECIMAL(30,15))::DOUBLE
        |    AS s
        |  FROM edg e JOIN r1 r ON r.node = e.esrc
        |  JOIN deg d ON d.esrc = e.esrc GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    (CASE WHEN n.node IN (SELECT node FROM sd)
        |       THEN (1::DOUBLE - 0.85::DOUBLE) / (SELECT k FROM ns)
        |       ELSE 0::DOUBLE END +
        |     0.85::DOUBLE * coalesce(s2.s, 0::DOUBLE)) AS r
        |  FROM nodes n LEFT JOIN s2 ON s2.edst = n.node)
        |SELECT node, round(r, 6) AS "rank" FROM r2
        |ORDER BY node""".stripMargin,

    // Multi-source BFS (Graph.bfsDistances): the engine's monotone
    // min-relaxation after h iterations equals shortest-walk-within-h
    // (Bellman-Ford), which this recursive CTE enumerates directly;
    // integer mins are merge-order-free on both sides.
    "q_graph_bfs" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT l_partkey AS src,
        |    l_suppkey + 10000000 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e
        |  UNION SELECT dst, src FROM e),
        |bfs AS (
        |  SELECT DISTINCT src AS node, 0::BIGINT AS d FROM e
        |  WHERE src < 10
        |  UNION
        |  SELECT und.src AS node, b.d + 1 AS d FROM bfs b
        |  JOIN und ON und.dst = b.node WHERE b.d < 4)
        |SELECT node, min(d)::BIGINT AS dist FROM bfs
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Off-policy evaluation (OffPolicy.ipsEstimates with the log's own
    // greedy policy): propensities and weights are IEEE divisions of
    // exact counts (bit-identical across engines), each summed term is
    // rounded to 12 decimals and decimal-accumulated, the final
    // estimates divided once in double and rounded to 6. Policy
    // tie-break is action DESC (the engine's max-struct order).
    "q_ips_eval" ->
      """WITH log AS (SELECT user_id % 20 AS x, event_type AS a,
        |    value AS r FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL),
        |xa AS (SELECT x, a, count(*) AS n_xa FROM log GROUP BY 1, 2),
        |xc AS (SELECT x, sum(n_xa) AS n_x FROM xa GROUP BY 1),
        |tot AS (SELECT x, a, sum(r::DECIMAL(18,6)) AS tot
        |  FROM log GROUP BY 1, 2),
        |pol AS (SELECT x, a AS pi_a FROM (SELECT x, a, row_number()
        |      OVER (PARTITION BY x ORDER BY tot DESC, a DESC) AS rn
        |    FROM tot) WHERE rn = 1),
        |j AS (SELECT l.x, l.r,
        |    CASE WHEN l.a = pol.pi_a THEN 1 ELSE 0 END AS m,
        |    1.0::DOUBLE / (n_xa::DOUBLE / n_x::DOUBLE) AS w,
        |    least(1.0::DOUBLE / (n_xa::DOUBLE / n_x::DOUBLE),
        |      5.0::DOUBLE) AS wc
        |  FROM log l JOIN xa USING (x, a) JOIN xc USING (x)
        |  LEFT JOIN pol USING (x))
        |SELECT count(*)::BIGINT AS n, sum(m)::BIGINT AS matched,
        |  round(sum(round(r * w * m, 12)::DECIMAL(28,12))::DOUBLE
        |    / count(*), 6) AS ips,
        |  round(sum(round(r * wc * m, 12)::DECIMAL(28,12))::DOUBLE
        |    / count(*), 6) AS ips_capped,
        |  round(sum(round(r * w * m, 12)::DECIMAL(28,12))::DOUBLE
        |    / sum(round(w * m, 12)::DECIMAL(28,12))::DOUBLE, 6)
        |    AS snips
        |FROM j""".stripMargin,

    // Markov transitions (Events.transitionMatrix): lead over the
    // tie-free (ts, event_id) per-user order; probabilities are exact
    // count ratios.
    "q_transitions" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS us, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |st AS (SELECT event_type AS state, lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM ev),
        |cnt AS (SELECT state, nxt AS next_state, count(*) AS n
        |  FROM st WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT state, sum(n) AS n_out FROM cnt GROUP BY 1)
        |SELECT state, next_state, n::BIGINT AS n,
        |  round(n::DOUBLE / n_out::DOUBLE, 6) AS p
        |FROM cnt JOIN tot USING (state)
        |ORDER BY state, next_state""".stripMargin,

    // Skip-gram pairs (Events.skipGramPairs): lead columns over the
    // tie-safe per-customer order, symmetric union, exact counts.
    "q_skipgram" ->
      """WITH f AS (SELECT o_custkey AS u, l_partkey AS item,
        |    o_orderdate AS d, l_orderkey AS ok, l_linenumber AS ln
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |l AS (SELECT u, item,
        |    lead(item, 1) OVER w AS c1, lead(item, 2) OVER w AS c2
        |  FROM f WINDOW w AS (PARTITION BY u ORDER BY d, ok, ln, item)),
        |p AS (SELECT item AS a, c1 AS b FROM l WHERE c1 IS NOT NULL
        |  UNION ALL SELECT item, c2 FROM l WHERE c2 IS NOT NULL),
        |s AS (SELECT a AS center, b AS context FROM p
        |  UNION ALL SELECT b, a FROM p)
        |SELECT center, context, count(*)::BIGINT AS n FROM s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Spike detection (Events.spikes): trailing-7 exact decimal frame
    // sums; mean/variance/z a fixed IEEE tree; zero-variance baseline
    // flags any deviation; short history (< 3) reports null.
    "q_spike_detect" ->
      """WITH ev AS (SELECT event_type,
        |    (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
        |c AS (SELECT event_type, day, count(*) AS x FROM ev
        |  GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |    count(y) OVER f AS base_n, sum(y) OVER f AS s,
        |    sum(y * y) OVER f AS ss
        |  FROM (SELECT *, x::DECIMAL(18,6) AS y FROM c)
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_type, day, x, base_n,
        |    s::DOUBLE / base_n AS mean,
        |    sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / base_n)
        |      / base_n) AS sd
        |  FROM w)
        |SELECT event_type, day, x::BIGINT AS x,
        |  base_n::BIGINT AS base_n,
        |  CASE WHEN base_n >= 3 THEN round(mean, 6) END AS base_mean,
        |  CASE WHEN base_n >= 3 AND sd > 0
        |    THEN round((x::DOUBLE - mean) / sd, 6) END AS z,
        |  CASE WHEN base_n >= 3 THEN
        |    CASE WHEN sd > 0 THEN abs((x::DOUBLE - mean) / sd) > 2.0
        |      ELSE (x::DOUBLE - mean) <> 0 END
        |  END AS spike
        |FROM z ORDER BY event_type NULLS FIRST, day""".stripMargin,

    // Kaplan-Meier (Events.kaplanMeier over per-user activity spans):
    // risk sets and death/censor counts are exact integers; each
    // ln(1 - d/n) factor is 12-decimal-rounded before the exact
    // decimal running sum, exponentiated once; a d = n_risk step
    // drives survival exactly to 0 thereafter.
    "q_kaplan_meier" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    epoch_ns(ts) // 1000 AS us, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |lastt AS (SELECT user_id, event_type AS last_type
        |  FROM (SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY us DESC, event_id DESC)
        |      AS rn FROM ev) WHERE rn = 1),
        |per AS (SELECT ev.user_id,
        |    (max(us) - min(us)) // 86400000000 AS duration,
        |    max(last_type = 'error') AS observed
        |  FROM ev JOIN lastt ON ev.user_id = lastt.user_id
        |  GROUP BY 1),
        |g AS (SELECT duration,
        |    sum(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN observed THEN 0 ELSE 1 END) AS c
        |  FROM per GROUP BY 1),
        |w AS (SELECT duration, d, c,
        |    sum(d + c) OVER (ORDER BY duration ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS thru,
        |    sum(d + c) OVER () AS tot
        |  FROM g),
        |r AS (SELECT duration, d, c, tot - thru + d + c AS n_risk
        |  FROM w),
        |sv AS (SELECT duration, n_risk, d, c,
        |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS dead,
        |    sum((CASE WHEN d < n_risk
        |        THEN round(ln(1 - d::DOUBLE / n_risk), 12)
        |        ELSE 0.0 END)::DECIMAL(28,12)) OVER (
        |      ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS lnsum
        |  FROM r)
        |SELECT duration, n_risk::BIGINT AS n_risk, d::BIGINT AS d,
        |  c::BIGINT AS c,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE round(exp(lnsum::DOUBLE), 6) END AS survival
        |FROM sv ORDER BY duration""".stripMargin,

    // Streaming decayed popularity: however the micro-batches slice
    // the stream, the complete-mode per-item (count, decimal sum)
    // state equals the batch aggregation exactly — the oracle is
    // q_decayed_pop's replay over the events-derived items.
    "q_streaming_decayed_pop" ->
      """WITH ref AS (SELECT max(epoch_ns(ts) // 1000) AS r
        |  FROM events),
        |it AS (SELECT user_id % 100 AS item,
        |    epoch_ns(ts) // 1000 AS ts FROM events
        |  WHERE user_id IS NOT NULL),
        |w AS (SELECT item, round(pow(0.5,
        |    ((r - ts)::DOUBLE / 86400000000.0) / 30.0), 12)
        |    ::DECIMAL(28,12) AS w
        |  FROM it CROSS JOIN ref)
        |SELECT item, count(*)::BIGINT AS n,
        |  round(sum(w)::DOUBLE, 6) AS score
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Experiment arm summary (Experiment.armSummary): exact decimal
    // (n, s, ss) moments; mean and unbiased variance derived in IEEE.
    "q_ab_arms" ->
      """WITH log AS (SELECT 'arm_' || (user_id % 3) AS arm,
        |    value::DECIMAL(18,6) AS y FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT arm, count(*) AS n, sum(y) AS s, sum(y * y) AS ss
        |  FROM log GROUP BY 1)
        |SELECT arm, n::BIGINT AS n, round(s::DOUBLE / n, 6) AS mean,
        |  round(CASE WHEN n > 1 THEN (ss::DOUBLE -
        |      s::DOUBLE * s::DOUBLE / n) / (n - 1) END, 6) AS variance
        |FROM m ORDER BY arm""".stripMargin,

    // Streaming experiment readout: however the micro-batches slice
    // the log, the complete-mode per-arm (n, Σy, Σy²) state equals
    // the batch moments exactly — q_ab_arms' replay serves verbatim.
    "q_streaming_ab" ->
      """WITH log AS (SELECT 'arm_' || (user_id % 3) AS arm,
        |    value::DECIMAL(18,6) AS y FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT arm, count(*) AS n, sum(y) AS s, sum(y * y) AS ss
        |  FROM log GROUP BY 1)
        |SELECT arm, n::BIGINT AS n, round(s::DOUBLE / n, 6) AS mean,
        |  round(CASE WHEN n > 1 THEN (ss::DOUBLE -
        |      s::DOUBLE * s::DOUBLE / n) / (n - 1) END, 6) AS variance
        |FROM m ORDER BY arm""".stripMargin,

    // Welch A/B comparison (Experiment.compare vs arm_0): lifts, the
    // unequal-variance standard error, and the t statistic — a fixed
    // IEEE tree over the exact per-arm moments.
    "q_ab_compare" ->
      """WITH log AS (SELECT 'arm_' || (user_id % 3) AS arm,
        |    value::DECIMAL(18,6) AS y FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT arm, count(*) AS n, sum(y) AS s, sum(y * y) AS ss
        |  FROM log GROUP BY 1),
        |d AS (SELECT arm, n, s::DOUBLE / n AS mean,
        |    CASE WHEN n > 1 THEN (ss::DOUBLE -
        |      s::DOUBLE * s::DOUBLE / n) / (n - 1) END AS vr
        |  FROM m),
        |c AS (SELECT n AS n_c, mean AS mean_c, vr AS var_c FROM d
        |  WHERE arm = 'arm_0'),
        |t AS (SELECT * FROM d WHERE arm <> 'arm_0')
        |SELECT arm, t.n::BIGINT AS n_t, n_c::BIGINT AS n_c,
        |  round(mean, 6) AS mean_t, round(mean_c, 6) AS mean_c,
        |  round(mean - mean_c, 6) AS lift_abs,
        |  round(CASE WHEN mean_c <> 0 THEN (mean - mean_c) / mean_c
        |    END, 6) AS lift_rel,
        |  round(sqrt(vr / t.n + var_c / n_c), 6) AS se,
        |  round((mean - mean_c) / sqrt(vr / t.n + var_c / n_c), 6)
        |    AS t_stat
        |FROM t CROSS JOIN c ORDER BY arm""".stripMargin,

    // Target encoding (Encoding.targetEncode): exact decimal sums,
    // one prior*smoothing multiply and one shrinkage divide in IEEE.
    "q_target_encode" ->
      """WITH base AS (SELECT c_mktsegment AS category,
        |    o_totalprice::DECIMAL(18,6) AS y
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE c_mktsegment IS NOT NULL AND o_totalprice IS NOT NULL),
        |per AS (SELECT category, count(*) AS n, sum(y) AS sum_y
        |  FROM base GROUP BY 1),
        |g AS (SELECT sum(y)::DOUBLE / count(*) AS prior FROM base)
        |SELECT category, n::BIGINT AS n,
        |  round((sum_y::DOUBLE + prior * 10.0) / (n::DOUBLE + 10.0), 6)
        |    AS enc
        |FROM per CROSS JOIN g ORDER BY category""".stripMargin,

    // Leave-one-out encoding (Encoding.leaveOneOut): per-row
    // (sum - y)/(n - 1) on the exact per-category sums; singleton
    // categories fall back to the global prior.
    "q_target_encode_loo" ->
      """WITH rws AS (SELECT o_orderkey, c_mktsegment, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IS NOT NULL AND o_totalprice IS NOT NULL),
        |per AS (SELECT c_mktsegment, count(*) AS n,
        |    sum(o_totalprice::DECIMAL(18,6)) AS s
        |  FROM rws GROUP BY 1),
        |g AS (SELECT sum(o_totalprice::DECIMAL(18,6))::DOUBLE
        |    / count(*) AS prior FROM rws)
        |SELECT o_orderkey, c_mktsegment, o_totalprice,
        |  round(CASE WHEN n > 1 THEN (s::DOUBLE -
        |      o_totalprice::DECIMAL(18,6)::DOUBLE) / (n - 1)
        |    ELSE prior END, 6) AS loo
        |FROM rws JOIN per USING (c_mktsegment) CROSS JOIN g
        |ORDER BY o_orderkey""".stripMargin,

    // Decayed popularity (Popularity.decayedScores): 365-day
    // half-life from the log's max date; each pow(0.5, age/hl) term
    // 12-decimal-rounded before the exact decimal sum.
    "q_decayed_pop" ->
      """WITH ref AS (SELECT max(epoch_us(o_orderdate)) AS r
        |  FROM orders),
        |it AS (SELECT l_partkey AS item, epoch_us(o_orderdate) AS ts
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |w AS (SELECT item, round(pow(0.5,
        |    ((r - ts)::DOUBLE / 86400000000.0) / 365.0), 12)
        |    ::DECIMAL(28,12) AS w
        |  FROM it CROSS JOIN ref)
        |SELECT item, count(*)::BIGINT AS n,
        |  round(sum(w)::DOUBLE, 6) AS score
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Concentration profile (Popularity.concentrationProfile): Gini
    // from the sorted-count identity — exact integers to one final
    // IEEE division; head shares via ceil'd top-percent ranks.
    "q_pop_profile" ->
      """WITH c AS (SELECT l_partkey AS item, count(*) AS c
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT item, c,
        |    row_number() OVER (ORDER BY c ASC, item ASC) AS ia,
        |    row_number() OVER (ORDER BY c DESC, item ASC) AS idx,
        |    count(*) OVER () AS n_tot
        |  FROM c)
        |SELECT count(*)::BIGINT AS n_items,
        |  sum(c)::BIGINT AS n_interactions,
        |  round(2.0 * sum((ia * c)::DECIMAL(38,0))::DOUBLE
        |      / (count(*)::DOUBLE * sum(c)::DOUBLE)
        |    - (count(*) + 1)::DOUBLE / count(*), 6) AS gini,
        |  round(sum(CASE WHEN idx <= ceil(n_tot / 100.0) THEN c
        |    ELSE 0 END)::DOUBLE / sum(c), 6) AS top1_share,
        |  round(sum(CASE WHEN idx <= ceil(n_tot / 10.0) THEN c
        |    ELSE 0 END)::DOUBLE / sum(c), 6) AS top10_share
        |FROM r""".stripMargin,

    // Compaction plan (io/Compaction.plan): per-source smallest-first
    // packing order, bin = starting byte offset integer-divided by the
    // 20 kB target. bin_offset is unique per (source) except for
    // zero-byte files, so the sort adds file as the final tie key.
    "q_compaction_plan" ->
      """WITH m AS (SELECT source, 'doc-' || doc_id AS "file",
        |    n_chars AS bytes FROM documents),
        |w AS (SELECT source, "file", bytes,
        |    sum(bytes) OVER (PARTITION BY source ORDER BY bytes, "file"
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - bytes AS bin_offset
        |  FROM m)
        |SELECT source, "file", bytes::BIGINT AS bytes,
        |  bin_offset::BIGINT AS bin_offset,
        |  (bin_offset // 20000)::BIGINT AS bin
        |FROM w ORDER BY source, bin_offset, "file"""".stripMargin,

    // Interval-overlap join (Intervals.overlapJoin): session intervals
    // (30-min gap over all events) x SCD2 state intervals (non-error
    // events, half-open valid_to -> closed v_end = valid_to - 1, open
    // tails clamped to the user's last event). The oracle states the
    // plain overlap predicate; the engine's bucket replication +
    // emit-once rule must reproduce it pair for pair.
    "q_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |marked AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us // 1000000) OVER w IS NULL
        |              OR us // 1000000 - lag(us // 1000000) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess0 AS (SELECT user_id, us,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS session_seq
        |  FROM marked),
        |sess AS (SELECT user_id, session_seq::BIGINT AS session_seq,
        |    min(us) AS s_start, max(us) AS s_end
        |  FROM sess0 GROUP BY 1, 2),
        |b AS (SELECT * FROM ev WHERE event_type <> 'error'),
        |c AS (SELECT user_id, event_id, event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev
        |  FROM b),
        |ch AS (SELECT user_id, event_id, event_type, us FROM c
        |       WHERE prev IS DISTINCT FROM event_type),
        |hz AS (SELECT user_id, max(us) AS h_end FROM ev GROUP BY 1),
        |iv AS (SELECT user_id, event_type AS state_type, us AS v_start,
        |    lead(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS vt
        |  FROM ch),
        |st AS (SELECT iv.user_id, state_type, v_start,
        |    coalesce(vt - 1, hz.h_end) AS v_end
        |  FROM iv JOIN hz ON hz.user_id = iv.user_id)
        |SELECT s.user_id, s.session_seq, st.state_type, st.v_start
        |FROM sess s JOIN st ON st.user_id = s.user_id
        |  AND s.s_start <= st.v_end AND st.v_start <= s.s_end
        |ORDER BY 1, 2, 4, 3""".stripMargin,

    // Conversion funnel (Events.funnel): chained strictly-after
    // conditional mins — t1 = first view, t2 = first click after t1,
    // t3 = first purchase after t2; stalls carry nulls, no-view users
    // are absent.
    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM ev e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.us > s1.t1
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM ev e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2
        |       GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
        |        LEFT JOIN s3 ON s3.user_id = s1.user_id
        |ORDER BY 1""".stripMargin,

    // Snapshot-delta changelog (Reconcile.snapshotDelta): full-outer
    // key compare of customer vs its mutated successor; I/U rows carry
    // the after-image, D rows the before-image, unchanged keys absent.
    "q_snapshot_delta" ->
      """WITH b AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |           FROM customer),
        |a0 AS (SELECT c_custkey, c_name, c_acctbal,
        |    CASE WHEN c_custkey % 13 = 0 THEN 'X' || c_mktsegment
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM b WHERE c_custkey % 97 <> 0),
        |ins AS (SELECT c_custkey + 1000000 AS c_custkey, c_name,
        |    c_acctbal, c_mktsegment FROM b WHERE c_custkey % 101 = 0),
        |a AS (SELECT * FROM a0 UNION ALL SELECT * FROM ins),
        |j AS (SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
        |    CASE WHEN b.c_custkey IS NULL THEN 'I'
        |         WHEN a.c_custkey IS NULL THEN 'D'
        |         WHEN (a.c_name IS DISTINCT FROM b.c_name)
        |           OR (a.c_acctbal IS DISTINCT FROM b.c_acctbal)
        |           OR (a.c_mktsegment IS DISTINCT FROM b.c_mktsegment)
        |         THEN 'U' END AS op,
        |    CASE WHEN a.c_custkey IS NULL THEN b.c_name
        |         ELSE a.c_name END AS c_name,
        |    CASE WHEN a.c_custkey IS NULL THEN b.c_acctbal
        |         ELSE a.c_acctbal END AS c_acctbal,
        |    CASE WHEN a.c_custkey IS NULL THEN b.c_mktsegment
        |         ELSE a.c_mktsegment END AS c_mktsegment
        |  FROM a FULL JOIN b ON a.c_custkey = b.c_custkey)
        |SELECT c_custkey, op, c_name, c_acctbal, c_mktsegment
        |FROM j WHERE op IS NOT NULL ORDER BY c_custkey""".stripMargin,

    // Left-outer interval attribution: q_attribution's join with every
    // view preserved; a (user, view) group is either all-matched or a
    // single null row, so the three-column sort is unambiguous despite
    // the engines' different null orderings.
    "q_attribution_outer" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                   event_type FROM events)
        |SELECT v.user_id AS "user_id", v.event_id AS "view_id",
        |       c.event_id AS "conv_id"
        |FROM (SELECT * FROM ev WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM ev WHERE event_type = 'purchase') c
        |  ON v.user_id = c.user_id
        | AND c.ts_us >= v.ts_us
        | AND c.ts_us <= v.ts_us + 86400000000
        |ORDER BY 1, 2, 3""".stripMargin,

    // §2.12 streaming dedup equivalence: the surviving-fingerprint set
    // is order-independent, so DISTINCT over the same corpus as
    // q_dedup_exact states it exactly.
    "q_streaming_dedup_equiv" ->
      s"""WITH all_docs AS (
         |  SELECT text FROM documents
         |  UNION ALL
         |  SELECT upper(substr(text, 1, 10)) || substr(text, 11) || '  '
         |  FROM documents WHERE doc_id < 100)
         |SELECT DISTINCT md5(${norm("text")}) AS "fp"
         |FROM all_docs ORDER BY 1""".stripMargin,

    // Streaming MinHash near-dup: first-wins banding must flag every
    // planted twin (each shares >= 1 band with its strictly-earlier
    // original — the regime q_dedup_minhash's batch oracle proves for
    // the same 32x16 sketch), so the expected flag set is exactly the
    // planted twin ids.
    "q_streaming_minhash" ->
      """SELECT doc_id + 100000 AS "doc_id" FROM documents
        |WHERE doc_id < 150 ORDER BY 1""".stripMargin,

    // Streaming drift: per-window bin counts are arrival-order
    // independent, so the closed-window PSI is epoch-aligned batch SQL
    // (2-day tumbling = us // 172800000000, the Spark epoch alignment).
    "q_stream_drift" ->
      """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us,
        |    floor(value)::BIGINT AS v FROM events),
        |mm AS (SELECT min(v) AS mn, (max(v) - min(v)) // 8 + 1 AS w
        |       FROM ev),
        |base AS (SELECT (v - mn) // w AS bin, count(*) AS n_base
        |  FROM ev CROSS JOIN mm GROUP BY 1),
        |nb AS (SELECT sum(n_base) AS nbt FROM base),
        |wb AS (SELECT (us // 172800000000) * 172800000000
        |    AS win_start_us,
        |    LEAST(GREATEST((v - mn) // w, 0), 7) AS bin, count(*) AS n
        |  FROM ev CROSS JOIN mm GROUP BY 1, 2),
        |wt AS (SELECT win_start_us, sum(n) AS n_win FROM wb GROUP BY 1),
        |g AS (SELECT wt.win_start_us, gs.bin
        |  FROM wt CROSS JOIN generate_series(0, 7) AS gs(bin)),
        |f AS (SELECT g.win_start_us, g.bin, coalesce(wb.n, 0) AS n
        |  FROM g LEFT JOIN wb ON g.win_start_us = wb.win_start_us
        |                     AND g.bin = wb.bin),
        |j AS (SELECT f.win_start_us, f.bin, f.n, wt.n_win,
        |    coalesce(b.n_base, 0) AS n_base
        |  FROM f JOIN wt USING (win_start_us)
        |       LEFT JOIN base b ON f.bin = b.bin)
        |SELECT win_start_us::BIGINT AS "win_start_us",
        |  bin::BIGINT AS "bin", j.n::BIGINT AS "n",
        |  n_base::BIGINT AS "n_base",
        |  round(((j.n + 1)::DOUBLE / (n_win + 8)
        |         - (n_base + 1)::DOUBLE / (nbt + 8)) *
        |    ln(((j.n + 1)::DOUBLE / (n_win + 8)) /
        |       ((n_base + 1)::DOUBLE / (nbt + 8))), 9) AS "psi"
        |FROM j CROSS JOIN nb ORDER BY 1, 2""".stripMargin,

    "q_queue_relay" ->
      """SELECT s_suppkey::VARCHAR AS "userId", s_name AS "name"
        |FROM supplier ORDER BY 1""".stripMargin,

    "q_rest_sink" ->
      """SELECT ((count(*) + 74) // 75)::BIGINT AS "n_posts",
        |       count(*)::BIGINT AS "n_rows", 0::BIGINT AS "n_dead"
        |FROM customer""".stripMargin,

    "q_dequeue_validate" ->
      """WITH docs AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0
        |              THEN c_custkey::VARCHAR END AS qid,
        |         CASE WHEN c_custkey % 3 <> 0
        |              THEN 'u' || c_custkey::VARCHAR END AS uid,
        |         LEAST(2, c_custkey % 5) AS n
        |  FROM customer)
        |SELECT COALESCE(qid, uid) AS "external_id", n::INT AS "n_recs"
        |FROM docs
        |WHERE COALESCE(qid, uid) IS NOT NULL AND n > 0
        |ORDER BY 1""".stripMargin,

    // ---- dedup ----------------------------------------------------------

    "q_dedup_exact" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |         upper(substr(text, 1, 10)) || substr(text, 11) || '  '
         |  FROM documents WHERE doc_id < 100),
         |fps AS (SELECT doc_id, md5(${norm("text")}) AS fp FROM all_docs)
         |SELECT fp, count(*)::BIGINT AS "cnt", min(doc_id) AS "keeper"
         |FROM fps GROUP BY fp HAVING count(*) > 1
         |ORDER BY "keeper"""".stripMargin,

    // Duplicate-weighted dedup: same normalized-md5 grouping as
    // q_dedup_exact, but one keeper row per distinct content with its
    // copy count as the training weight.
    "q_dedup_weighted" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000,
         |         upper(substr(text, 1, 10)) || substr(text, 11) || '  '
         |  FROM documents WHERE doc_id < 100),
         |fps AS (SELECT doc_id, md5(${norm("text")}) AS fp FROM all_docs)
         |SELECT min(doc_id) AS "doc_id", fp,
         |       count(*)::BIGINT AS "weight"
         |FROM fps GROUP BY fp ORDER BY 1""".stripMargin,

    "q_dedup_minhash" ->
      """SELECT doc_id AS "id_a", doc_id + 100000 AS "id_b"
        |FROM documents WHERE doc_id < 150 ORDER BY 1, 2""".stripMargin,

    // Full replication of the 60-bit md5 SimHash sketch: per-token hash
    // -> per-bit +-1 votes -> packed sign vector -> 9-piece pigeonhole
    // band keys (width ceil(60/9)=7) -> bucketed self-join -> exact
    // Hamming verify <= 8, mirroring operators/Dedup.simhashNearDups.
    "q_dedup_simhash" ->
      s"""WITH all_docs AS ($docsTwins90),
         |tok AS (SELECT doc_id, ${toks("text")} AS t FROM all_docs),
         |th AS (SELECT doc_id, ${md5_60("tok")} AS h
         |       FROM (SELECT doc_id, unnest(t) AS tok FROM tok)),
         |bits AS (SELECT doc_id, r.b AS b,
         |    CASE WHEN sum(CASE WHEN ((h >> r.b) & 1) = 1
         |                      THEN 1 ELSE -1 END) > 0
         |         THEN (1::BIGINT << r.b) ELSE 0::BIGINT END AS bit
         |  FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, r.b),
         |sims0 AS (SELECT doc_id, sum(bit)::BIGINT AS sim FROM bits
         |          GROUP BY doc_id),
         |sims AS (SELECT d.doc_id, coalesce(s.sim, 0::BIGINT) AS sim
         |         FROM all_docs d LEFT JOIN sims0 s USING (doc_id)),
         |keys AS (SELECT doc_id, sim,
         |    ((sim >> (r.p * 7)) & 127) | ((r.p + 1)::BIGINT << 56) AS k
         |  FROM sims CROSS JOIN range(9) r(p)),
         |bc AS (SELECT k FROM keys GROUP BY k
         |       HAVING count(*) > 1 AND count(*) <= 10000),
         |ib AS (SELECT keys.* FROM keys JOIN bc USING (k))
         |SELECT DISTINCT a.doc_id AS "id_a", b.doc_id AS "id_b",
         |  bit_count(xor(a.sim, b.sim))::INT AS "hamming"
         |FROM ib a JOIN ib b ON a.k = b.k AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 8
         |ORDER BY 1, 2""".stripMargin,

    // NOTE on the <3-token fallback (here and in q_repetition /
    // q_contamination): DuckDB's array_to_string([]) is NULL while
    // Spark's array_join([]) is '' — without the coalesce an
    // empty-text document's shingle list collapses to [] (list_distinct
    // drops the NULL) and its jaccard becomes 0/0 = NaN, which DuckDB
    // then orders ABOVE any threshold. Found by the seeded synthetic
    // replay (scripts/synthgen.py), invisible on the fixed testdata
    // (no empty documents there).
    "q_ngram_jaccard" ->
      s"""WITH all_docs AS ($docsTwins60),
         |tok AS (SELECT doc_id, ${toks("text")} AS t FROM all_docs),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(t) < 3
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+2], ' ')) END) AS s
         |  FROM tok),
         |pairs AS (SELECT doc_id AS ia, doc_id + 100000 AS ib
         |          FROM documents WHERE doc_id < 150)
         |SELECT ia AS "id_a", ib AS "id_b",
         |  round(len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
         |    AS "jaccard"
         |FROM pairs JOIN sh a ON a.doc_id = ia JOIN sh b ON b.doc_id = ib
         |ORDER BY 1""".stripMargin,

    // Exact Jaccard-threshold join: candidates by the WEAKER
    // share-any-shingle join (completeness-independent of the engine's
    // prefix filter), exact set-Jaccard verify, same twin corpus and
    // threshold as q_dedup_minhash.
    "q_jaccard_join" ->
      s"""WITH all_docs AS ($docsTwins60),
         |tok AS (SELECT doc_id, ${toks("text")} AS t FROM all_docs),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(t) < 3
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+2], ' ')) END) AS s
         |  FROM tok),
         |shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |cands AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id),
         |j AS (SELECT ida, idb,
         |    len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      AS jr
         |  FROM cands JOIN sh a ON a.doc_id = ida
         |              JOIN sh b ON b.doc_id = idb)
         |SELECT ida AS "id_a", idb AS "id_b",
         |  round(jr, 6) AS "jaccard"
         |FROM j WHERE jr >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    // PNG header parsing: construction fixes ground truth (every 10th
    // doc gets a non-PNG magic -> null dims).
    "q_image_dims" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 10 = 0 THEN NULL
        |        ELSE doc_id % 64 + 16 END)::BIGINT AS "width",
        |  (CASE WHEN doc_id % 10 = 0 THEN NULL
        |        ELSE doc_id % 48 + 32 END)::BIGINT AS "height"
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Repetition signals: 2-gram shingle template (t[i:i+1] = 2-wide
    // slice), token concentration via unnest + grouped counts.
    "q_repetition" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(t) < 2
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |  ELSE list_transform(generate_series(1, len(t) - 1),
         |         i -> array_to_string(t[i:i+1], ' ')) END AS s
         |  FROM tok),
         |ng AS (SELECT doc_id, len(s)::BIGINT AS n_shingles,
         |  round(CASE WHEN len(s) = 0 THEN 0.0
         |    ELSE 1.0 - len(list_distinct(s))::DOUBLE / len(s) END, 6)
         |    AS r
         |  FROM sh),
         |tt AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS ttr
         |  FROM (SELECT doc_id, tk, count(*) AS c
         |        FROM (SELECT doc_id, unnest(t) AS tk FROM tok)
         |        GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT n.doc_id, n.n_shingles, n.r AS "dup_ngram_ratio",
         |       coalesce(tt.ttr, 0.0) AS "top_token_ratio"
         |FROM ng n LEFT JOIN tt ON n.doc_id = tt.doc_id
         |ORDER BY 1""".stripMargin,

    // PII signals: RE2 regexp_extract_all lengths == Java regexp_count
    // for these dialect-neutral patterns; corpus seeded identically.
    "q_pii_scan" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' see https://example.org/p/' || doc_id::VARCHAR || ' ok'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' acct 123456789 end' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |    AS "n_emails",
        |  len(regexp_extract_all(text, 'https?://[^ ]+'))::BIGINT
        |    AS "n_urls",
        |  len(regexp_extract_all(text, '[0-9]{7,}'))::BIGINT
        |    AS "n_longnums",
        |  (len(regexp_extract_all(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |   len(regexp_extract_all(text, 'https?://[^ ]+')) +
        |   len(regexp_extract_all(text, '[0-9]{7,}'))) > 0 AS "flagged"
        |FROM seeded ORDER BY doc_id""".stripMargin,

    // Redaction replays the same three patterns as global replaces in
    // the engine's fixed order (emails, then URLs, then number runs);
    // DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics.
    "q_pii_redact" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' see https://example.org/p/' || doc_id::VARCHAR || ' ok'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' acct 123456789 end' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS "clean"
        |FROM seeded ORDER BY doc_id""".stripMargin,

    // Group-aware split: the chain construction fixes each group root
    // (doc_id % 60 for doc_id < 180), so the split is the root's md5
    // bucket — identical derivation to q_hash_split.
    "q_group_split" ->
      s"""WITH r AS (SELECT doc_id,
         |    CASE WHEN doc_id < 180 THEN doc_id % 60
         |         ELSE doc_id END AS root
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    ${md5_60("root::VARCHAR || ':split'")} % 1000000 AS bucket
         |  FROM r)
         |SELECT doc_id,
         |  CASE WHEN bucket < 800000 THEN 'train'
         |       WHEN bucket < 900000 THEN 'val'
         |       ELSE 'test' END AS "split"
         |FROM b ORDER BY doc_id""".stripMargin,

    // Heavy hitters: sketch-then-verify is EXACT, so the oracle is the
    // plain grouped filter.
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT ${toks("text")} AS t FROM documents),
         |ex AS (SELECT unnest(t) AS term FROM tok)
         |SELECT term, count(*)::BIGINT AS "cnt" FROM ex
         |GROUP BY term HAVING count(*) >= 100
         |ORDER BY term""".stripMargin,

    // BM25: identical IEEE expression tree (exact constants 1.25/0.75),
    // DECIMAL(28,12)-accumulated per-doc sums, rank by (score, doc_id).
    "q_bm25" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS len FROM ex GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(len) AS avglen FROM dl),
         |qt AS (SELECT DISTINCT unnest(t[1:5]) AS term FROM tok
         |       WHERE doc_id = 0),
         |dft AS (SELECT term, count(*) AS df
         |        FROM tf JOIN qt USING (term) GROUP BY 1),
         |parts AS (
         |  SELECT tf.doc_id,
         |    ln((st.n - dft.df + 0.5) / (dft.df + 0.5) + 1) *
         |    (tf.tf * (1.25 + 1)) /
         |    (tf.tf + 1.25 * ((1 - 0.75) + 0.75 * dl.len / st.avglen))
         |      AS part
         |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |sc AS (SELECT doc_id,
         |         round(sum(part::DECIMAL(28,12))::DOUBLE, 6) AS score
         |       FROM parts GROUP BY 1)
         |SELECT doc_id, score, rn::BIGINT AS "rank"
         |FROM (SELECT doc_id, score,
         |        row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |      FROM sc)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin,

    // tf-idf top terms: same IEEE score tree, ranked AFTER 6-place
    // rounding (ties term desc) so the head is engine-exact.
    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT doc_id, term,
         |    round(tf * (ln((n + 1)::DOUBLE / (df::DOUBLE + 1)) + 1), 6)
         |      AS score
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn),
         |r AS (SELECT doc_id, term, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term DESC) AS rn
         |  FROM sc)
         |SELECT doc_id, rn::BIGINT AS "rank", score, term
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    // Dedup clustering: the chain construction fixes ground truth, so
    // the oracle enumerates (node, chain root) without recursion.
    "q_dedup_groups" ->
      """SELECT doc_id + 100000 * g AS "id", doc_id AS "comp"
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 60)
        |CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS g)
        |ORDER BY 1""".stripMargin,

    // 300-hop chain per doc: every node doc_id + k*100000 (k 0..300)
    // belongs to the component rooted at doc_id
    "q_dedup_groups_star" ->
      """SELECT doc_id + 100000 * k AS "id", doc_id AS "comp"
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 60)
        |CROSS JOIN (SELECT unnest(range(0, 301)) AS k)
        |ORDER BY 1""".stripMargin,

    // 5-hop chain per doc, auto route (in-budget -> propagation):
    // same closed-form chain enumeration, k 0..5
    "q_dedup_groups_auto" ->
      """SELECT doc_id + 100000 * k AS "id", doc_id AS "comp"
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 60)
        |CROSS JOIN (SELECT unnest(range(0, 6)) AS k)
        |ORDER BY 1""".stripMargin,

    // Decontamination: per-(doc, bench) containment brute-forced over
    // the distinct-shingle lists; same shingle template as jaccard.
    "q_contamination" ->
      s"""WITH dtok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |dsh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(t) < 3
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+2], ' ')) END) AS s
         |  FROM dtok),
         |bdoc AS (SELECT doc_id + 500000 AS bench_id,
         |         substr(text, 1, floor(length(text) * 60 / 100)::INT)
         |           AS text
         |         FROM documents WHERE doc_id < 40),
         |btok AS (SELECT bench_id, ${toks("text")} AS t FROM bdoc),
         |bsh AS (SELECT bench_id,
         |  list_distinct(CASE WHEN len(t) < 3
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+2], ' ')) END) AS s
         |  FROM btok)
         |SELECT d.doc_id, b.bench_id,
         |  round(len(list_intersect(d.s, b.s))::DOUBLE / len(b.s), 6)
         |    AS "containment"
         |FROM dsh d, bsh b
         |WHERE len(list_intersect(d.s, b.s))::DOUBLE / len(b.s) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q_char_jaccard" ->
      s"""WITH all_docs AS ($docsTwins60),
         |nm AS (SELECT doc_id, ${norm("text")} AS t FROM all_docs),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN length(t) < 3 THEN [t]
         |    ELSE list_transform(generate_series(1, length(t) - 2),
         |           i -> substr(t, i, 3)) END) AS s
         |  FROM nm),
         |pairs AS (SELECT doc_id AS ia, doc_id + 100000 AS ib
         |          FROM documents WHERE doc_id < 150)
         |SELECT ia AS "id_a", ib AS "id_b",
         |  round(len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
         |    AS "jaccard"
         |FROM pairs JOIN sh a ON a.doc_id = ia JOIN sh b ON b.doc_id = ib
         |ORDER BY 1""".stripMargin,

    // Sign-LSH near-dup replayed GENERICALLY: the hyperplanes are
    // md5-derived (plane_p_d -> md5_60 / 2^60 * 2 - 1, VectorFunctions
    // .hyperplanes), so DuckDB rebuilds the exact plane matrix, band
    // keys (4 sign bits per band, key = bits | (band+1)<<56, matching
    // Kernels.signLshBandKeys), eligible buckets (>1, <=100000), and
    // candidate pairs — then exact rounded cosine >= 0.95. No planted-
    // pair shape assumed: natural near-dup pairs (synthetic replay
    // seeds plant in-table twins) must surface identically in both
    // engines, and spurious pairs fail the compare.
    "q_embed_neardup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |              FROM embeddings),
         |tw AS (SELECT vec_id + 100000 AS vec_id, v FROM base
         |       WHERE vec_id < 50),
         |vec AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
         |pl AS (SELECT p, d,
         |    ${md5_60("'plane_' || p || '_' || d")}
         |      / 1152921504606846976.0 * 2 - 1 AS w
         |  FROM range(16) rp(p), range(64) rd(d)),
         |pls AS (SELECT p, list(w ORDER BY d) AS pv FROM pl GROUP BY p),
         |dots AS (SELECT vec_id, p, list_dot_product(v, pv) AS dot
         |         FROM vec CROSS JOIN pls),
         |bk AS (SELECT vec_id,
         |    ((p // 4) + 1) * 72057594037927936 +
         |      sum(CASE WHEN dot >= 0 THEN 1 << (p % 4) ELSE 0 END) AS k
         |  FROM dots GROUP BY vec_id, (p // 4)),
         |ok AS (SELECT k FROM bk GROUP BY k
         |       HAVING count(*) > 1 AND count(*) <= 100000),
         |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bk a JOIN ok USING (k) JOIN bk b ON a.k = b.k
         |    AND a.vec_id < b.vec_id),
         |sc AS (SELECT ia, ib, round(${cosSql("va.v", "vb.v")}, 6) AS c
         |  FROM cand JOIN vec va ON va.vec_id = ia
         |            JOIN vec vb ON vb.vec_id = ib)
         |SELECT ia AS "id_a", ib AS "id_b", c AS "cosine"
         |FROM sc WHERE c >= 0.95 ORDER BY 1, 2""".stripMargin,

    // Semantic dedup replayed generically: the ivf-style centroid
    // assignment over the twin-augmented set, then drop any vector
    // with a lower-id same-cell neighbor at rounded cosine >= 0.95 —
    // no planted-pair shape assumed, so false positives fail too.
    "q_semantic_dedup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |              FROM embeddings),
         |tw AS (SELECT vec_id + 100000 AS vec_id, v FROM base
         |       WHERE vec_id < 50),
         |vec AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
         |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
         |           AS cell, v AS cv
         |         FROM (SELECT vec_id, v FROM vec
         |               ORDER BY vec_id LIMIT 16)),
         |sc AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
         |       FROM vec CROSS JOIN cent),
         |asg AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM sc) WHERE rn = 1),
         |av AS (SELECT a.vec_id, a.cell, v.v
         |       FROM asg a JOIN vec v USING (vec_id)),
         |drp AS (SELECT DISTINCT a.vec_id FROM av a JOIN av b
         |        ON a.cell = b.cell AND b.vec_id < a.vec_id
         |        AND round(${cosSql("a.v", "b.v")}, 6) >= 0.95)
         |SELECT vec_id, cell::BIGINT AS "cell" FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM drp)
         |ORDER BY vec_id""".stripMargin,

    // Skew-skip census: same first-4-by-id centroid assignment as the
    // dedup oracles, then just a HAVING over the cell populations.
    "q_semdedup_census" ->
      s"""WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |             FROM embeddings),
         |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
         |           AS cell, v AS cv
         |         FROM (SELECT vec_id, v FROM vec
         |               ORDER BY vec_id LIMIT 4)),
         |sc AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
         |       FROM vec CROSS JOIN cent),
         |asg AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM sc) WHERE rn = 1)
         |SELECT cell::BIGINT AS cell, count(*)::BIGINT AS "rows"
         |FROM asg GROUP BY 1 HAVING count(*) > 60
         |ORDER BY 1""".stripMargin,

    // Trained semantic dedup: two unrolled Lloyd's iterations over the
    // twin-augmented set, then the same assignment + neighbor-EXISTS
    // as q_semantic_dedup, all from cent2.
    "q_semdedup_trained" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |              FROM embeddings),
         |tw AS (SELECT vec_id + 100000 AS vec_id, v FROM base
         |       WHERE vec_id < 50),
         |vec AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
         |cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
         |            AS cell, v AS cv
         |          FROM (SELECT vec_id, v FROM vec ORDER BY vec_id
         |                LIMIT 8)),
         |${lloydIter(0, 64)},
         |${lloydIter(1, 64)},
         |fsc AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
         |  FROM vec CROSS JOIN cent2),
         |fasg AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM fsc) WHERE rn = 1),
         |av AS (SELECT a.vec_id, a.cell, v.v
         |       FROM fasg a JOIN vec v USING (vec_id)),
         |drp AS (SELECT DISTINCT a.vec_id FROM av a JOIN av b
         |        ON a.cell = b.cell AND b.vec_id < a.vec_id
         |        AND round(${cosSql("a.v", "b.v")}, 6) >= 0.95)
         |SELECT vec_id, cell::BIGINT AS "cell" FROM fasg
         |WHERE vec_id NOT IN (SELECT vec_id FROM drp)
         |ORDER BY vec_id""".stripMargin,

    // Cluster-balanced sampling: the q_ann_ivf_kmeans training replay
    // (two unrolled Lloyd iterations, highest-cell tie-break) feeding
    // the q_quota_sample salted-hash window, quota 10 per cell.
    "q_cluster_sample" ->
      s"""WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |             FROM embeddings),
         |cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1
         |            AS cell, v AS cv
         |          FROM (SELECT vec_id, v FROM vec ORDER BY vec_id
         |                LIMIT 8)),
         |${lloydIter(0, 64)},
         |${lloydIter(1, 64)},
         |fsc AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
         |  FROM vec CROSS JOIN cent2),
         |fasg AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM fsc) WHERE rn = 1),
         |b AS (SELECT vec_id, cell,
         |    ${md5_60("vec_id::VARCHAR || ':sample'")} % 1000000 AS h
         |  FROM fasg),
         |r AS (SELECT vec_id, cell, row_number() OVER (
         |    PARTITION BY cell ORDER BY h ASC, vec_id DESC) AS rn
         |  FROM b)
         |SELECT cell::BIGINT AS "cell", vec_id AS "vec_id",
         |  rn::BIGINT AS "rank"
         |FROM r WHERE rn <= 10
         |ORDER BY 1, 3""".stripMargin,

    // ---- similarity search ----------------------------------------------

    "q_ann_brute" -> annBruteSql,

    // Int8 quantization replicated verbatim: per-vector scale
    // max|x|/127, floor(x/s + 0.5) clamped; integer cosine is exact in
    // doubles, so no ordering sensitivity.
    "q_ann_quantized" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |qz AS (SELECT vec_id,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
        |    THEN list_transform(v, x -> 0)
        |    ELSE list_transform(v, x ->
        |      greatest(-127.0, least(127.0,
        |        floor(x / (list_max(list_transform(v, y -> abs(y)))
        |                   / 127.0) + 0.5)))::INT)
        |  END AS c
        |  FROM vec),
        |q AS (SELECT vec_id AS qid, c AS qc FROM qz WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id,
        |  round(CASE WHEN list_dot_product(qc::DOUBLE[], qc::DOUBLE[]) = 0
        |               OR list_dot_product(c::DOUBLE[], c::DOUBLE[]) = 0
        |          THEN 0.0
        |        ELSE list_dot_product(qc::DOUBLE[], c::DOUBLE[]) /
        |             (sqrt(list_dot_product(qc::DOUBLE[], qc::DOUBLE[])) *
        |              sqrt(list_dot_product(c::DOUBLE[], c::DOUBLE[])))
        |        END, 6) AS cos
        |  FROM q CROSS JOIN qz)
        |SELECT qid AS "query_id", vec_id, cos AS "cosine",
        |       rn::BIGINT AS "rank"
        |FROM (SELECT qid, vec_id, cos,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY cos DESC, vec_id ASC) AS rn
        |      FROM s)
        |WHERE rn <= 5 ORDER BY 1, 4""".stripMargin,

    // IVF with k-means-trained centroids: both Lloyd's iterations
    // unrolled in SQL (assignment + vec_id-ordered-fold means), then the
    // same probe/re-rank as q_ann_ivf against the trained cells.
    "q_ann_ivf_kmeans" ->
      s"""WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |             FROM embeddings),
         |cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
         |                 v AS cv
         |          FROM (SELECT vec_id, v FROM vec ORDER BY vec_id
         |                LIMIT 8)),
         |${lloydIter(0, 64)},
         |${lloydIter(1, 64)},
         |fsc AS (SELECT vec_id, cell, ${cosSql("v", "cv")} AS s
         |  FROM vec CROSS JOIN cent2),
         |fasg AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM fsc) WHERE rn = 1),
         |prb AS (SELECT vec_id AS qid, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cell DESC) AS rn FROM fsc
         |    WHERE vec_id < 10) WHERE rn <= 2),
         |cand AS (SELECT p.qid, a.vec_id AS cid
         |         FROM prb p JOIN fasg a ON a.cell = p.cell),
         |cs AS (SELECT qid, cid,
         |         round(${cosSql("qv.v", "cv.v")}, 6) AS cos
         |       FROM cand JOIN vec qv ON qv.vec_id = qid
         |                 JOIN vec cv ON cv.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY cos DESC, cid ASC) AS rk
         |      FROM cs)
         |SELECT qid AS "query_id", cid AS "vec_id", cos AS "cosine",
         |       rk::BIGINT AS "rank"
         |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin,

    // Full replication of the sign-LSH path (operators/Ann.lshTopK):
    // md5-derived hyperplanes (16 planes x dim 64), 8 bands of 2 sign
    // bits, bucket co-membership candidates, exact cosine re-rank.
    "q_ann_lsh" ->
      s"""WITH plc AS (SELECT pr.range AS p, dr.range AS d,
         |    ${md5_60("'plane_' || pr.range || '_' || dr.range")}::DOUBLE
         |      / 1152921504606846976.0 * 2 - 1 AS comp
         |  FROM range(16) pr, range(64) dr),
         |pl AS (SELECT p, list(comp ORDER BY d) AS plane FROM plc
         |       GROUP BY p),
         |vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sgn AS (SELECT vec_id, (p // 2) AS b,
         |    CASE WHEN list_dot_product(v, plane) >= 0.0
         |         THEN (1::BIGINT << (p % 2)::INT) ELSE 0::BIGINT END AS bit
         |  FROM vec CROSS JOIN pl),
         |keys AS (SELECT vec_id,
         |    (sum(bit) | ((b + 1)::BIGINT << 56))::BIGINT AS k
         |  FROM sgn GROUP BY vec_id, b),
         |bc AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= 100000),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |  FROM keys q JOIN keys c ON q.k = c.k JOIN bc ON bc.k = c.k
         |  WHERE q.vec_id < 10),
         |sc AS (SELECT qid, cid,
         |    round(CASE WHEN sqrt(list_dot_product(qv.v, qv.v)) = 0
         |                 OR sqrt(list_dot_product(cv.v, cv.v)) = 0 THEN 0.0
         |          ELSE list_dot_product(qv.v, cv.v) /
         |               (sqrt(list_dot_product(qv.v, qv.v)) *
         |                sqrt(list_dot_product(cv.v, cv.v))) END, 6) AS cos
         |  FROM cand JOIN vec qv ON qv.vec_id = qid
         |            JOIN vec cv ON cv.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY cos DESC, cid ASC) AS rk
         |      FROM sc)
         |SELECT qid AS "query_id", cid AS "vec_id", cos AS "cosine",
         |       rk::BIGINT AS "rank"
         |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin,

    // Full replication of the IVF-flat path (operators/Ann.ivfTopK):
    // centroids = first 16 corpus vectors by id, nearest-centroid cell
    // assignment (ties -> higher cell, matching array_max on (s, c)
    // structs), queries probe their 2 best cells, exact cosine re-rank.
    "q_ann_ivf" -> annIvfSql,

    // Two-level coarse-quantized IVF (operators/Ann.ivf2TopK): 64
    // sample fine centroids (first 64 by vec_id), the first 8 as
    // coarse; fine->coarse by cosine argmax (ties -> higher coarse,
    // the struct-max convention), corpus assigned coarse-then-fine
    // within the matched coarse cell only, queries probe their 2 best
    // coarse cells then the 4 best fine cells within them, exact
    // cosine re-rank. The whole two-level construction replayed,
    // hash-exact.
    "q_ann_ivf2" ->
      s"""WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |             FROM embeddings),
         |fine AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
         |                v AS cv
         |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id
         |               LIMIT 64)),
         |coarse AS (SELECT cell AS ccell, cv AS ccv FROM fine
         |           WHERE cell < 8),
         |f2c AS (SELECT cell, ccell FROM (
         |    SELECT f.cell, c.ccell, row_number() OVER (
         |        PARTITION BY f.cell
         |        ORDER BY ${cosSql("f.cv", "c.ccv")} DESC, c.ccell DESC)
         |      AS rn
         |    FROM fine f CROSS JOIN coarse c) WHERE rn = 1),
         |casg AS (SELECT vec_id, ccell FROM (
         |    SELECT v.vec_id, c.ccell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.v", "c.ccv")} DESC, c.ccell DESC)
         |      AS rn
         |    FROM vec v CROSS JOIN coarse c) WHERE rn = 1),
         |fasg AS (SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, f.cell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.v", "f.cv")} DESC, f.cell DESC)
         |      AS rn
         |    FROM vec v JOIN casg a ON a.vec_id = v.vec_id
         |         JOIN f2c m ON m.ccell = a.ccell
         |         JOIN fine f ON f.cell = m.cell) WHERE rn = 1),
         |qprb AS (SELECT vec_id AS qid, ccell FROM (
         |    SELECT v.vec_id, c.ccell, row_number() OVER (
         |        PARTITION BY v.vec_id
         |        ORDER BY ${cosSql("v.v", "c.ccv")} DESC, c.ccell DESC)
         |      AS rn
         |    FROM vec v CROSS JOIN coarse c WHERE v.vec_id < 10)
         |  WHERE rn <= 2),
         |qfine AS (SELECT qid, cell FROM (
         |    SELECT p.qid, f.cell, row_number() OVER (PARTITION BY p.qid
         |        ORDER BY ${cosSql("qv.v", "f.cv")} DESC, f.cell DESC)
         |      AS rn
         |    FROM qprb p JOIN f2c m ON m.ccell = p.ccell
         |         JOIN fine f ON f.cell = m.cell
         |         JOIN vec qv ON qv.vec_id = p.qid) WHERE rn <= 4),
         |cand AS (SELECT q.qid, a.vec_id AS cid
         |         FROM qfine q JOIN fasg a ON a.cell = q.cell),
         |cs AS (SELECT qid, cid, round(${cosSql("qv.v", "cv.v")}, 6) AS cos
         |       FROM cand JOIN vec qv ON qv.vec_id = qid
         |                 JOIN vec cv ON cv.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY cos DESC, cid ASC) AS rk
         |      FROM cs)
         |SELECT qid AS "query_id", cid AS "vec_id", cos AS "cosine",
         |       rk::BIGINT AS "rank"
         |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin,

    // PageRank over the kNN similarity graph (operators/Graph.pageRank
    // on operators/Ann.knnGraph edges): the q_knn_graph edge
    // construction (unfiltered), then two unrolled synchronous
    // iterations — contributions r/outdeg, per-destination DECIMAL
    // sums (exactly associative, bit-stable under partitioning),
    // damping 0.85 with the (1-d)/N floor for in-edge-less nodes.
    "q_pagerank" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |         WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst FROM (SELECT esrc, edst, cos,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4),
        |nodes AS (SELECT esrc AS node FROM edg
        |          UNION SELECT edst FROM edg),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT esrc, count(*) AS od FROM edg GROUP BY esrc),
        |r0 AS (SELECT node, (1::DOUBLE / (SELECT n FROM nn)) AS r
        |       FROM nodes),
        |s1 AS (SELECT e.edst AS dst,
        |         (sum((r.r / d.od)::DECIMAL(30,15)))::DOUBLE AS s
        |       FROM edg e JOIN r0 r ON r.node = e.esrc
        |                  JOIN deg d ON d.esrc = e.esrc
        |       GROUP BY e.edst),
        |r1 AS (SELECT n1.node,
        |         (((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)) +
        |          0.85::DOUBLE * COALESCE(s1.s, 0::DOUBLE)) AS r
        |       FROM nodes n1 LEFT JOIN s1 ON s1.dst = n1.node),
        |s2 AS (SELECT e.edst AS dst,
        |         (sum((r.r / d.od)::DECIMAL(30,15)))::DOUBLE AS s
        |       FROM edg e JOIN r1 r ON r.node = e.esrc
        |                  JOIN deg d ON d.esrc = e.esrc
        |       GROUP BY e.edst),
        |r2 AS (SELECT n1.node,
        |         (((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)) +
        |          0.85::DOUBLE * COALESCE(s2.s, 0::DOUBLE)) AS r
        |       FROM nodes n1 LEFT JOIN s2 ON s2.dst = n1.node)
        |SELECT node, round(r, 6) AS rank FROM r2 ORDER BY node""".stripMargin,

    // Weighted PageRank: the q_pagerank chain with cosine edge weights
    // clamped at 0 and per-src DECIMAL weight-sum normalizers;
    // contributions r * (w / sumW), same two unrolled iterations.
    "q_pagerank_weighted" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |         WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst,
        |          greatest(cos, 0.0::DOUBLE) AS w
        |        FROM (SELECT esrc, edst, cos,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4),
        |nodes AS (SELECT esrc AS node FROM edg
        |          UNION SELECT edst FROM edg),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT * FROM (SELECT esrc,
        |          (sum(w::DECIMAL(30,15)))::DOUBLE AS sw
        |        FROM edg GROUP BY esrc) WHERE sw > 0),
        |r0 AS (SELECT node, (1::DOUBLE / (SELECT n FROM nn)) AS r
        |       FROM nodes),
        |s1 AS (SELECT e.edst AS dst,
        |         (sum((r.r * (e.w / d.sw))::DECIMAL(30,15)))::DOUBLE AS s
        |       FROM edg e JOIN r0 r ON r.node = e.esrc
        |                  JOIN deg d ON d.esrc = e.esrc
        |       GROUP BY e.edst),
        |r1 AS (SELECT n1.node,
        |         (((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)) +
        |          0.85::DOUBLE * COALESCE(s1.s, 0::DOUBLE)) AS r
        |       FROM nodes n1 LEFT JOIN s1 ON s1.dst = n1.node),
        |s2 AS (SELECT e.edst AS dst,
        |         (sum((r.r * (e.w / d.sw))::DECIMAL(30,15)))::DOUBLE AS s
        |       FROM edg e JOIN r1 r ON r.node = e.esrc
        |                  JOIN deg d ON d.esrc = e.esrc
        |       GROUP BY e.edst),
        |r2 AS (SELECT n1.node,
        |         (((1::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)) +
        |          0.85::DOUBLE * COALESCE(s2.s, 0::DOUBLE)) AS r
        |       FROM nodes n1 LEFT JOIN s2 ON s2.dst = n1.node)
        |SELECT node, round(r, 6) AS rank FROM r2 ORDER BY node""".stripMargin,

    // Label propagation (operators/Graph.labelPropagation) over the
    // same kNN graph: symmetrize + de-self-loop, then two synchronous
    // relabel rounds — mode of neighbor labels, ties to the minimum
    // (replayed as row_number over cnt DESC, label ASC). Integer-only,
    // so the replay is exact with no float discipline needed.
    "q_label_prop" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |         WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst FROM (SELECT esrc, edst, cos,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4),
        |und AS (SELECT esrc AS s, edst AS d FROM edg WHERE esrc <> edst
        |        UNION SELECT edst, esrc FROM edg WHERE esrc <> edst),
        |l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
        |c1 AS (SELECT u.s, l.label, count(*) AS cnt
        |       FROM und u JOIN l0 l ON l.node = u.d GROUP BY 1, 2),
        |l1 AS (SELECT s AS node, label FROM (
        |         SELECT s, label, row_number() OVER (PARTITION BY s
        |           ORDER BY cnt DESC, label ASC) AS rn FROM c1)
        |       WHERE rn = 1),
        |c2 AS (SELECT u.s, l.label, count(*) AS cnt
        |       FROM und u JOIN l1 l ON l.node = u.d GROUP BY 1, 2),
        |l2 AS (SELECT s AS node, label FROM (
        |         SELECT s, label, row_number() OVER (PARTITION BY s
        |           ORDER BY cnt DESC, label ASC) AS rn FROM c2)
        |       WHERE rn = 1)
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin,

    // Per-node triangle counts (Graph.triangleCount): same kNN graph,
    // symmetrized; degree-ordered orientation (small -> large under
    // (degree, id)), one wedge join from the common smaller endpoint
    // (a < b dedupes the unordered pair), closing edge checked in
    // either orientation; each triangle credits its three nodes.
    "q_triangles" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |         WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst FROM (SELECT esrc, edst, cos,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4),
        |und AS (SELECT esrc AS s, edst AS d FROM edg WHERE esrc <> edst
        |        UNION SELECT edst, esrc FROM edg WHERE esrc <> edst),
        |deg AS (SELECT s AS node, count(*) AS degree FROM und GROUP BY 1),
        |o AS (SELECT u.s AS u, u.d AS v FROM und u
        |      JOIN deg a ON a.node = u.s JOIN deg b ON b.node = u.d
        |      WHERE a.degree < b.degree
        |         OR (a.degree = b.degree AND u.s < u.d)),
        |w AS (SELECT x.u, x.v AS a, y.v AS b FROM o x JOIN o y
        |      ON x.u = y.u WHERE x.v < y.v),
        |cl AS (SELECT w.u, w.a, w.b FROM w JOIN
        |        (SELECT u AS a, v AS b FROM o
        |         UNION ALL SELECT v, u FROM o) oc
        |        ON oc.a = w.a AND oc.b = w.b),
        |pn AS (SELECT node, count(*) AS n_tri FROM (
        |        SELECT u AS node FROM cl UNION ALL SELECT a FROM cl
        |        UNION ALL SELECT b FROM cl) GROUP BY 1)
        |SELECT d.node, d.degree, coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
        |  CASE WHEN d.degree < 2 THEN 0.0
        |       ELSE round(2.0 * coalesce(pn.n_tri, 0) /
        |                  (d.degree * (d.degree - 1)), 6)
        |  END AS clustering_coef
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |ORDER BY d.node""".stripMargin,

    // Sketch rollup (Sketches.hllRegisters per (event_type, day) +
    // hllMergeEstimate over event_type): register union is an
    // element-wise max — associative and idempotent — so the merged
    // estimate is BIT-identical to the direct per-event_type sketch.
    // The oracle states the DIRECT form; the hash match proves the
    // merge theorem on real data.
    "q_hll_merge" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |rr AS (SELECT event_type, (h & 31) AS j,
        |    (56 - length(ltrim(bin(h >> 5), '0'))) AS r
        |  FROM h),
        |regs AS (SELECT event_type, j, max(r) AS r FROM rr
        |         GROUP BY event_type, j),
        |z AS (SELECT event_type, count(*) AS nz,
        |    list_reduce(list(pow(2::DOUBLE, -r) ORDER BY j),
        |                (a, b) -> a + b) AS zp
        |  FROM regs GROUP BY event_type)
        |SELECT event_type,
        |  round((0.697::DOUBLE * 32 * 32) /
        |        (zp + (32::DOUBLE - nz::DOUBLE)), 2) AS distinct_est
        |FROM z ORDER BY 1 NULLS FIRST""".stripMargin,

    // Streaming HLL (Queries.streamingHllQ): register union is
    // order-insensitive, so the complete-mode streamed registers —
    // however the micro-batches sliced the input — estimate
    // bit-identically to the direct batch sketch below.
    "q_streaming_hll" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |rr AS (SELECT event_type, (h & 31) AS j,
        |    (56 - length(ltrim(bin(h >> 5), '0'))) AS r
        |  FROM h),
        |regs AS (SELECT event_type, j, max(r) AS r FROM rr
        |         GROUP BY event_type, j),
        |z AS (SELECT event_type, count(*) AS nz,
        |    list_reduce(list(pow(2::DOUBLE, -r) ORDER BY j),
        |                (a, b) -> a + b) AS zp
        |  FROM regs GROUP BY event_type)
        |SELECT event_type,
        |  round((0.697::DOUBLE * 32 * 32) /
        |        (zp + (32::DOUBLE - nz::DOUBLE)), 2) AS distinct_est
        |FROM z ORDER BY 1 NULLS FIRST""".stripMargin,

    // Systematic PPS sampling (Sampling.systematicWeighted): integer
    // prefix-sum marks — copies_i = floor(c_i*k/W) - floor(c_{i-1}*k/W)
    // in HUGEINT, k=50 per language, weight = n_chars.
    "q_pps_sample" ->
      """WITH d AS (SELECT lang, doc_id, n_chars FROM documents
        |           WHERE n_chars > 0),
        |c AS (SELECT lang, doc_id, n_chars,
        |    sum(n_chars::HUGEINT) OVER (PARTITION BY lang
        |                                ORDER BY doc_id) AS cum,
        |    sum(n_chars::HUGEINT) OVER (PARTITION BY lang) AS w
        |  FROM d),
        |x AS (SELECT lang, doc_id, n_chars,
        |    ((cum * 50) // w - ((cum - n_chars) * 50) // w)::BIGINT
        |      AS copies
        |  FROM c)
        |SELECT lang, doc_id, n_chars, copies FROM x WHERE copies >= 1
        |ORDER BY lang NULLS FIRST, doc_id""".stripMargin,

    // Streaming count-min (Queries.streamingCmsQ): cell merge is a
    // sum, order-insensitive, so the complete-mode streamed cells —
    // however the micro-batches sliced the input — equal the direct
    // batch sketch below exactly (same SQL as q_cms_freq's direct
    // form).
    "q_streaming_cms" ->
      """WITH vals AS (SELECT user_id::VARCHAR AS v FROM events),
        |cells AS (SELECT t.r,
        |    ('0x' || substr(md5(t.r::VARCHAR || ':' || v), 1, 15))::BIGINT
        |      % 256 AS c,
        |    count(*) AS n
        |  FROM vals CROSS JOIN range(4) t(r) GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id < 20),
        |pq AS (SELECT p.user_id, t.r,
        |    ('0x' || substr(md5(t.r::VARCHAR || ':' ||
        |       p.user_id::VARCHAR), 1, 15))::BIGINT % 256 AS c
        |  FROM probes p CROSS JOIN range(4) t(r))
        |SELECT pq.user_id, min(coalesce(cells.n, 0))::BIGINT AS freq_est
        |FROM pq LEFT JOIN cells ON cells.r = pq.r AND cells.c = pq.c
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Mergeable quantile sketch (Quantiles.sketchQuantiles): the k=256
    // smallest md5-priority rows per event_type are the sample; the
    // nearest-rank index is pure integer arithmetic ((m*pm+999)//1000),
    // and the estimate is a SELECTED input double — bit-identical.
    "q_quantile_sketch" ->
      """WITH pri AS (SELECT event_type, value, event_id,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':qs'), 1, 15))::BIGINT
        |      AS pri
        |  FROM events WHERE value IS NOT NULL),
        |sk AS (SELECT event_type, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY pri, event_id) AS rn
        |    FROM pri) WHERE rn <= 256),
        |g AS (SELECT event_type, list(value ORDER BY value) AS vals,
        |    count(*) AS m
        |  FROM sk GROUP BY event_type)
        |SELECT event_type, pm,
        |  vals[((m * pm + 999) // 1000)::BIGINT] AS q_est
        |FROM g CROSS JOIN (VALUES (100), (250), (500), (750), (900),
        |                   (990)) p(pm)
        |ORDER BY event_type NULLS FIRST, pm""".stripMargin,

    // Winsorization (Quantiles.winsorizeSketch): the same bottom-k
    // priority sketch evaluated at p50/p950 permilles; clip bounds are
    // selected inputs, the clip a pure comparison — zero new
    // arithmetic. NULL event_type rows drop at the equi-join.
    "q_winsorize" ->
      """WITH pri AS (SELECT event_type, value, event_id,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':qs'), 1, 15))::BIGINT
        |      AS pri
        |  FROM events WHERE value IS NOT NULL),
        |sk AS (SELECT event_type, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY pri, event_id) AS rn
        |    FROM pri) WHERE rn <= 256),
        |g AS (SELECT event_type, list(value ORDER BY value) AS vals,
        |    count(*) AS m
        |  FROM sk GROUP BY event_type),
        |b AS (SELECT event_type,
        |    vals[((m * 50 + 999) // 1000)::BIGINT] AS lo,
        |    vals[((m * 950 + 999) // 1000)::BIGINT] AS hi
        |  FROM g)
        |SELECT event_id, e.event_type, value, lo, hi,
        |  CASE WHEN value < lo THEN lo
        |       WHEN value > hi THEN hi ELSE value END AS clipped,
        |  (value < lo OR value > hi) AS was_clipped
        |FROM events e JOIN b ON e.event_type = b.event_type
        |WHERE value IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // Continuous MAD gate (Quantiles.madOutliersSketch): median and
    // MAD are nearest-rank statistics of the 512 smallest-md5-priority
    // rows; the gate is |v - med| <= 3 * mad with every step a single
    // exactly-rounded IEEE op — the keep set matches bit-for-bit.
    "q_mad_sketch" ->
      """WITH pri AS (SELECT event_id, value,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':qs'), 1, 15))::BIGINT
        |      AS pri
        |  FROM events WHERE value IS NOT NULL),
        |sk AS (SELECT value FROM pri ORDER BY pri, event_id LIMIT 512),
        |g AS (SELECT list(value ORDER BY value) AS vals, count(*) AS m
        |      FROM sk),
        |md AS (SELECT vals, m,
        |    vals[((m * 500 + 999) // 1000)::BIGINT] AS med FROM g),
        |thr AS (SELECT med,
        |    list_sort(list_transform(vals, v -> abs(v - med)))
        |      [((m * 500 + 999) // 1000)::BIGINT] AS mad
        |  FROM md)
        |SELECT e.event_id, e.value
        |FROM events e, thr
        |WHERE e.value IS NOT NULL
        |  AND abs(e.value - thr.med) <= 3.0 * thr.mad
        |ORDER BY e.event_id""".stripMargin,

    // Streaming quantile sketch (Queries.streamingQuantileQ): the
    // per-bucket priority-min reduction is order-insensitive, so the
    // complete-mode streamed sample — however the micro-batches
    // sliced the input — equals the direct batch construction below
    // exactly, nearest-rank reads included.
    "q_streaming_quantile" ->
      """WITH pri AS (SELECT event_type, value, event_id,
        |    ('0x' || substr(md5(event_id::VARCHAR || ':qs'), 1, 15))::BIGINT
        |      AS pri
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type, pri % 64
        |                       ORDER BY pri, event_id) AS rn
        |  FROM pri),
        |sk AS (SELECT event_type, value FROM b WHERE rn = 1),
        |g AS (SELECT event_type, list(value ORDER BY value) AS vals,
        |    count(*) AS m
        |  FROM sk GROUP BY event_type)
        |SELECT event_type, pm,
        |  vals[((m * pm + 999) // 1000)::BIGINT] AS q_est
        |FROM g CROSS JOIN (VALUES (250), (500), (750)) p(pm)
        |ORDER BY event_type NULLS FIRST, pm""".stripMargin,

    // Weighted priority sampling (Sampling.prioritySample): DLT key
    // = (md5-60(id||':ps') + 1)::DOUBLE / weight — one exactly-rounded
    // double division, so both engines agree on the k smallest keys
    // (ties by id) bit-for-bit.
    "q_priority_sample" ->
      """WITH d AS (SELECT lang, doc_id, n_chars,
        |    (('0x' || substr(md5(doc_id::VARCHAR || ':ps'), 1, 15))
        |       ::BIGINT + 1)::DOUBLE / n_chars::DOUBLE AS key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY key, doc_id) AS rk
        |  FROM d)
        |SELECT lang, doc_id, n_chars, rk::BIGINT AS "rank"
        |FROM r WHERE rk <= 40
        |ORDER BY lang NULLS FIRST, rk""".stripMargin,

    // KMV set-overlap (Sketches.kmvOverlap): bottom-64 hash sketches
    // per side, union KMV = bottom-64 of the merged sketches, the
    // (k-1)/u_k estimator, jaccard = common-in-union-sample / |u|,
    // intersection = jaccard x union (one fixed-order double chain).
    "q_kmv_overlap" ->
      """WITH sa AS (SELECT h FROM (
        |    SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR),
        |      1, 15))::BIGINT AS h
        |    FROM events WHERE event_type = 'view'
        |      AND user_id IS NOT NULL)
        |  ORDER BY h LIMIT 64),
        |sb AS (SELECT h FROM (
        |    SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR),
        |      1, 15))::BIGINT AS h
        |    FROM events WHERE event_type = 'purchase'
        |      AND user_id IS NOT NULL)
        |  ORDER BY h LIMIT 64),
        |u AS (SELECT h FROM (
        |    SELECT h FROM sa UNION SELECT h FROM sb)
        |  ORDER BY h LIMIT 64),
        |st AS (SELECT
        |    (SELECT count(*) FROM sa) AS na,
        |    (SELECT max(h) FROM sa) AS ha,
        |    (SELECT count(*) FROM sb) AS nb,
        |    (SELECT max(h) FROM sb) AS hb,
        |    (SELECT count(*) FROM u) AS nu,
        |    (SELECT max(h) FROM u) AS hu,
        |    (SELECT count(*) FROM u
        |     WHERE h IN (SELECT h FROM sa)
        |       AND h IN (SELECT h FROM sb)) AS common)
        |SELECT
        |  CASE WHEN na < 64 THEN na::DOUBLE
        |    ELSE round(63::DOUBLE /
        |      (ha::DOUBLE / 1152921504606846976.0), 3) END AS d_a_est,
        |  CASE WHEN nb < 64 THEN nb::DOUBLE
        |    ELSE round(63::DOUBLE /
        |      (hb::DOUBLE / 1152921504606846976.0), 3) END AS d_b_est,
        |  CASE WHEN nu < 64 THEN nu::DOUBLE
        |    ELSE round(63::DOUBLE /
        |      (hu::DOUBLE / 1152921504606846976.0), 3) END AS union_est,
        |  CASE WHEN nu = 0 THEN 0.0
        |    ELSE round(common::DOUBLE / nu, 6) END AS jaccard_est,
        |  CASE WHEN nu = 0 THEN 0.0
        |    ELSE round(common::DOUBLE / nu *
        |      (CASE WHEN nu < 64 THEN nu::DOUBLE
        |        ELSE 63::DOUBLE /
        |          (hu::DOUBLE / 1152921504606846976.0) END), 3)
        |    END AS inter_est
        |FROM st""".stripMargin,

    // Count-min sketch (Sketches.cmsCells + cmsLookup): 4 x 256
    // row-salted md5-60 cells over user ids, point estimate = min
    // over rows of the probe's cell counts (absent cell = 0).
    "q_cms_freq" ->
      """WITH vals AS (SELECT user_id::VARCHAR AS v FROM events),
        |cells AS (SELECT t.r,
        |    ('0x' || substr(md5(t.r::VARCHAR || ':' || v), 1, 15))::BIGINT
        |      % 256 AS c,
        |    count(*) AS n
        |  FROM vals CROSS JOIN range(4) t(r) GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id < 20),
        |pq AS (SELECT p.user_id, t.r,
        |    ('0x' || substr(md5(t.r::VARCHAR || ':' ||
        |       p.user_id::VARCHAR), 1, 15))::BIGINT % 256 AS c
        |  FROM probes p CROSS JOIN range(4) t(r))
        |SELECT pq.user_id, min(coalesce(cells.n, 0))::BIGINT AS freq_est
        |FROM pq LEFT JOIN cells ON cells.r = pq.r AND cells.c = pq.c
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // KMV distinct sketch (operators/Sketches.kmvDistinct): 64
    // smallest distinct md5-60 hashes per event_type; estimate
    // (k-1)/(h_k/2^60), exact count when fewer than k distinct. Full
    // replay — hashing, min-selection, the estimate division.
    "q_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type AS grp,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |mins AS (SELECT grp, h, row_number() OVER (PARTITION BY grp
        |    ORDER BY h ASC) AS rn FROM h),
        |k AS (SELECT grp, count(*) AS n_mins, max(h) AS hk
        |      FROM mins WHERE rn <= 64 GROUP BY grp)
        |SELECT grp AS "group",
        |  CASE WHEN n_mins < 64 THEN n_mins::DOUBLE
        |       ELSE round(63::DOUBLE /
        |              (hk::DOUBLE / 1152921504606846976::DOUBLE), 3)
        |  END AS distinct_est
        |FROM k ORDER BY 1 NULLS FIRST""".stripMargin,

    // HyperLogLog raw estimate (operators/Sketches.hllDistinct, p=5
    // m=32 alpha=0.697): low 5 hash bits -> register, rank via
    // bin/ltrim (no floating log), register sum as an ordered
    // list_reduce fold (matches the engine's left-to-right aggregate
    // over the register-id-sorted array bit-for-bit).
    "q_hll_distinct" ->
      """WITH h AS (SELECT event_type AS grp,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |rr AS (SELECT grp, (h & 31) AS j,
        |    (56 - length(ltrim(bin(h >> 5), '0'))) AS r
        |  FROM h),
        |regs AS (SELECT grp, j, max(r) AS r FROM rr GROUP BY grp, j),
        |z AS (SELECT grp, count(*) AS nz,
        |    list_reduce(list(pow(2::DOUBLE, -r) ORDER BY j),
        |                (a, b) -> a + b) AS zp
        |  FROM regs GROUP BY grp)
        |SELECT grp AS "group",
        |  round((0.697::DOUBLE * 32 * 32) /
        |        (zp + (32::DOUBLE - nz::DOUBLE)), 2) AS distinct_est
        |FROM z ORDER BY 1 NULLS FIRST""".stripMargin,

    // Bloom-pruned star join (operators/RuntimeFilter.bloomPrunedJoin):
    // the Bloom prefilter never drops a true match and the join
    // discards its false positives, so the semantics — and this oracle
    // — are exactly the plain selective join + rollup. Decimal(30,15)
    // accumulation for the bit-stable total.
    // Join-cardinality advisor (JoinAdvisor.advise): exact side
    // counts + raw-HLL key-distinct replays (md5-60 register idiom),
    // the containment estimate n_l*n_r/max(d_l,d_r), and the CASE
    // strategy over exact counts — the whole verdict derives from the
    // data, so sf0.01 says broadcast_right and sf0.1 says
    // shuffle_hash_right from the SAME SQL.
    "q_join_advisor" ->
      """WITH lh AS (SELECT ('0x' || substr(md5(o_custkey::VARCHAR),
        |      1, 15))::BIGINT AS h
        |    FROM orders WHERE o_custkey IS NOT NULL),
        |lr AS (SELECT (h & 31) AS j,
        |    (56 - length(ltrim(bin(h >> 5), '0'))) AS r FROM lh),
        |lregs AS (SELECT j, max(r) AS r, count(*) AS c FROM lr
        |          GROUP BY j),
        |lz AS (SELECT sum(c)::BIGINT AS n, count(*) AS nz,
        |    list_reduce(list(pow(2::DOUBLE, -r) ORDER BY j),
        |                (a, b) -> a + b) AS zp
        |  FROM lregs),
        |ld AS (SELECT n, round((0.697::DOUBLE * 32 * 32) /
        |         (zp + (32::DOUBLE - nz::DOUBLE)), 2) AS d FROM lz),
        |rh AS (SELECT ('0x' || substr(md5(c_custkey::VARCHAR),
        |      1, 15))::BIGINT AS h
        |    FROM customer WHERE c_custkey IS NOT NULL),
        |rr AS (SELECT (h & 31) AS j,
        |    (56 - length(ltrim(bin(h >> 5), '0'))) AS r FROM rh),
        |rregs AS (SELECT j, max(r) AS r, count(*) AS c FROM rr
        |          GROUP BY j),
        |rz AS (SELECT sum(c)::BIGINT AS n, count(*) AS nz,
        |    list_reduce(list(pow(2::DOUBLE, -r) ORDER BY j),
        |                (a, b) -> a + b) AS zp
        |  FROM rregs),
        |rd AS (SELECT n, round((0.697::DOUBLE * 32 * 32) /
        |         (zp + (32::DOUBLE - nz::DOUBLE)), 2) AS d FROM rz),
        |lb AS (SELECT sum(56 + coalesce(strlen(o_orderstatus), 0)
        |         + coalesce(strlen(o_orderpriority), 0))::BIGINT AS b
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |rb AS (SELECT sum(44 + coalesce(strlen(c_name), 0)
        |         + coalesce(strlen(c_mktsegment), 0))::BIGINT AS b
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |e AS (SELECT ld.n AS n_left, rd.n AS n_right,
        |    ld.d AS d_left, rd.d AS d_right,
        |    lb.b AS b_left, rb.b AS b_right,
        |    round(ld.n::DOUBLE * rd.n::DOUBLE /
        |          greatest(ld.d, rd.d, 1.0::DOUBLE), 2) AS est_rows
        |  FROM ld, rd, lb, rb)
        |SELECT n_left, n_right, d_left, d_right, b_left, b_right,
        |  est_rows,
        |  CASE WHEN n_right <= 2000 AND b_right <= 10485760
        |         THEN 'broadcast_right'
        |       WHEN n_left <= 2000 AND b_left <= 10485760
        |         THEN 'broadcast_left'
        |       WHEN n_right * 4 <= n_left THEN 'shuffle_hash_right'
        |       WHEN n_left * 4 <= n_right THEN 'shuffle_hash_left'
        |       ELSE 'sort_merge' END AS strategy,
        |  (est_rows > 4.0 * (n_left + n_right)) AS explosive
        |FROM e""".stripMargin,

    // Engine-exact Pearson (Profile.correlation): decimal(12,6)-exact
    // moment sums (pairwise-complete via FILTER), one fixed-order
    // double formula per pair — the term order below matches the
    // engine exactly: (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) *
    // (n*syy - sy*sy)).
    "q_correlation" ->
      """WITH a AS (SELECT
        |    count(*) FILTER (WHERE l_quantity IS NOT NULL
        |      AND l_extendedprice IS NOT NULL) AS n1,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_extendedprice IS NOT NULL) AS sx1,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_extendedprice IS NOT NULL) AS sy1,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) *
        |        CAST(l_quantity AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_extendedprice IS NOT NULL) AS sxx1,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,6)) *
        |        CAST(l_extendedprice AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_extendedprice IS NOT NULL) AS syy1,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) *
        |        CAST(l_extendedprice AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_extendedprice IS NOT NULL) AS sxy1,
        |    count(*) FILTER (WHERE l_quantity IS NOT NULL
        |      AND l_discount IS NOT NULL) AS n2,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL) AS sx2,
        |    sum(CAST(l_discount AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL) AS sy2,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) *
        |        CAST(l_quantity AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL) AS sxx2,
        |    sum(CAST(l_discount AS DECIMAL(19,6)) *
        |        CAST(l_discount AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL) AS syy2,
        |    sum(CAST(l_quantity AS DECIMAL(19,6)) *
        |        CAST(l_discount AS DECIMAL(19,6)))
        |      FILTER (WHERE l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL) AS sxy2
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    n1::BIGINT AS n,
        |    CASE WHEN n1 = 0
        |      OR n1::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE
        |         <= 0.0
        |      OR n1::DOUBLE * syy1::DOUBLE - sy1::DOUBLE * sy1::DOUBLE
        |         <= 0.0 THEN NULL
        |      ELSE round(
        |        (n1::DOUBLE * sxy1::DOUBLE - sx1::DOUBLE * sy1::DOUBLE)
        |        / sqrt((n1::DOUBLE * sxx1::DOUBLE -
        |                sx1::DOUBLE * sx1::DOUBLE) *
        |               (n1::DOUBLE * syy1::DOUBLE -
        |                sy1::DOUBLE * sy1::DOUBLE)), 6) END AS r
        |  FROM a
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount', n2::BIGINT,
        |    CASE WHEN n2 = 0
        |      OR n2::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE
        |         <= 0.0
        |      OR n2::DOUBLE * syy2::DOUBLE - sy2::DOUBLE * sy2::DOUBLE
        |         <= 0.0 THEN NULL
        |      ELSE round(
        |        (n2::DOUBLE * sxy2::DOUBLE - sx2::DOUBLE * sy2::DOUBLE)
        |        / sqrt((n2::DOUBLE * sxx2::DOUBLE -
        |                sx2::DOUBLE * sx2::DOUBLE) *
        |               (n2::DOUBLE * syy2::DOUBLE -
        |                sy2::DOUBLE * sy2::DOUBLE)), 6) END AS r
        |  FROM a)
        |ORDER BY col_a, col_b""".stripMargin,

    // Data-quality rule engine (Checks.run): each metric is an exact
    // count over orders turned into one rounded ratio; uniqueness
    // passes on the EXACT equality (not the rounded metric);
    // referential integrity is the orphan share of the left-anti
    // probe. Row order = ORDER BY rule, as the query states.
    "q_quality_checks" ->
      """WITH base AS (SELECT count(*) AS n,
        |    count(o_custkey) AS nn,
        |    count(DISTINCT o_orderkey) +
        |      CASE WHEN count(*) > count(o_orderkey)
        |           THEN 1 ELSE 0 END AS du,
        |    sum(CASE WHEN o_totalprice IS NOT NULL
        |          AND o_totalprice BETWEEN 0 AND 250000
        |        THEN 1 ELSE 0 END) AS ir,
        |    sum(CASE WHEN o_orderstatus IN ('O', 'F')
        |        THEN 1 ELSE 0 END) AS iset,
        |    sum(CASE WHEN o_orderpriority LIKE '_-%'
        |        THEN 1 ELSE 0 END) AS lk,
        |    sum(CASE WHEN o_totalprice >= o_custkey * 100
        |        THEN 1 ELSE 0 END) AS pr
        |  FROM orders),
        |ri AS (SELECT count(*) AS orphans FROM orders o
        |       WHERE o.o_custkey IS NOT NULL
        |         AND o.o_custkey NOT IN
        |             (SELECT c_custkey FROM customer
        |              WHERE c_custkey IS NOT NULL))
        |SELECT * FROM (
        |  SELECT 'not_null' AS rule, 'o_custkey' AS "column",
        |    round(nn::DOUBLE / n, 6) AS metric, 1.0 AS threshold,
        |    nn = n AS pass FROM base
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey', round(du::DOUBLE / n, 6),
        |    1.0, du = n FROM base
        |  UNION ALL
        |  SELECT 'in_range', 'o_totalprice',
        |    round(ir::DOUBLE / n, 6), 0.4,
        |    round(ir::DOUBLE / n, 6) >= 0.4 FROM base
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderstatus',
        |    round(iset::DOUBLE / n, 6), 0.5,
        |    round(iset::DOUBLE / n, 6) >= 0.5 FROM base
        |  UNION ALL
        |  SELECT 'like', 'o_orderpriority',
        |    round(lk::DOUBLE / n, 6), 1.0,
        |    lk = n FROM base
        |  UNION ALL
        |  SELECT 'predicate', 'o_totalprice',
        |    round(pr::DOUBLE / n, 6), 0.5,
        |    round(pr::DOUBLE / n, 6) >= 0.5 FROM base
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey',
        |    round(orphans::DOUBLE / (SELECT n FROM base), 6), 0.0,
        |    orphans = 0
        |  FROM ri)
        |ORDER BY rule""".stripMargin,

    // Advisor-routed join (JoinAdvisor.autoJoin): every strategy is
    // output-identical, so the oracle is the plain join + rollup.
    "q_auto_join" ->
      """SELECT c.c_nationkey, count(*) AS n_orders,
        |  round((sum(o.o_totalprice::DECIMAL(30,15)))::DOUBLE, 2)
        |    AS sum_total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bloom_join" ->
      """SELECT c.c_nationkey, count(*) AS n_orders,
        |  round((sum(o.o_totalprice::DECIMAL(30,15)))::DOUBLE, 2)
        |    AS sum_total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey < 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Recall@5 of IVF vs the exact baseline — the ANN quality metric
    // as a first-class oracle-checked query (both sides are themselves
    // SQL-expressible, so their agreement is too).
    // Graph-expansion ANN: the full deterministic construction
    // replayed — 16 sample centroids, 2-cell graph assignment, per-src
    // top-4 edge list, 1-cell entry probe, top-5 frontier, one hop of
    // neighbor expansion, exact re-rank. Assignment ties to the
    // HIGHEST cell (the engine's struct-max convention), every ranking
    // ties to the lowest id.
    "q_ann_graph" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |rnk AS (SELECT vec_id, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
        |        FROM sc),
        |asg1 AS (SELECT vec_id, cell FROM rnk WHERE rn = 1),
        |asg2 AS (SELECT vec_id, cell FROM rnk WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst FROM (SELECT esrc, edst,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4),
        |prb AS (SELECT vec_id AS qid, cell FROM rnk
        |        WHERE vec_id < 10 AND rn <= 1),
        |entry AS (SELECT p.qid, a.vec_id AS cid
        |          FROM prb p JOIN asg1 a ON a.cell = p.cell),
        |esc AS (SELECT qid, cid,
        |    round(CASE WHEN sqrt(list_dot_product(qv.v, qv.v)) = 0
        |                 OR sqrt(list_dot_product(cv.v, cv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(qv.v, cv.v) /
        |               (sqrt(list_dot_product(qv.v, qv.v)) *
        |                sqrt(list_dot_product(cv.v, cv.v))) END, 6) AS cos
        |  FROM entry JOIN vec qv ON qv.vec_id = qid
        |             JOIN vec cv ON cv.vec_id = cid),
        |fr AS (SELECT qid, cid FROM (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, cid ASC) AS rk FROM esc)
        |       WHERE rk <= 5),
        |ex AS (SELECT DISTINCT f.qid, e.edst AS cid
        |       FROM fr f JOIN edg e ON e.esrc = f.cid),
        |xnew AS (SELECT ex.qid, ex.cid FROM ex
        |         WHERE NOT EXISTS (SELECT 1 FROM entry t
        |           WHERE t.qid = ex.qid AND t.cid = ex.cid)),
        |xsc AS (SELECT qid, cid,
        |    round(CASE WHEN sqrt(list_dot_product(qv.v, qv.v)) = 0
        |                 OR sqrt(list_dot_product(cv.v, cv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(qv.v, cv.v) /
        |               (sqrt(list_dot_product(qv.v, qv.v)) *
        |                sqrt(list_dot_product(cv.v, cv.v))) END, 6) AS cos
        |  FROM xnew JOIN vec qv ON qv.vec_id = qid
        |            JOIN vec cv ON cv.vec_id = cid),
        |allc AS (SELECT * FROM esc UNION ALL SELECT * FROM xsc),
        |r AS (SELECT qid, cid, cos, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
        |      FROM allc)
        |SELECT qid AS "query_id", cid AS "vec_id", cos AS "cosine",
        |       rk::BIGINT AS "rank"
        |FROM r WHERE rk <= 5 ORDER BY 1, 4""".stripMargin,

    // The kNN edge list gated directly: same assignment/pair/score
    // pipeline as q_ann_graph's edg CTE, output restricted to src < 50.
    "q_knn_graph" ->
      """WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |             FROM embeddings),
        |cent AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cell,
        |                v AS cv
        |         FROM (SELECT vec_id, v FROM vec ORDER BY vec_id LIMIT 16)),
        |sc AS (SELECT vec_id, cell,
        |    CASE WHEN list_dot_product(v, v) = 0
        |           OR list_dot_product(cv, cv) = 0 THEN 0.0
        |         ELSE list_dot_product(v, cv) /
        |              (sqrt(list_dot_product(v, v)) *
        |               sqrt(list_dot_product(cv, cv))) END AS s
        |  FROM vec CROSS JOIN cent),
        |asg2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY s DESC, cell DESC) AS rn FROM sc)
        |         WHERE rn <= 2),
        |ep AS (SELECT DISTINCT a.vec_id AS esrc, b.vec_id AS edst
        |       FROM asg2 a JOIN asg2 b
        |         ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |es AS (SELECT esrc, edst,
        |    round(CASE WHEN sqrt(list_dot_product(sv.v, sv.v)) = 0
        |                 OR sqrt(list_dot_product(dv.v, dv.v)) = 0 THEN 0.0
        |          ELSE list_dot_product(sv.v, dv.v) /
        |               (sqrt(list_dot_product(sv.v, sv.v)) *
        |                sqrt(list_dot_product(dv.v, dv.v))) END, 6) AS cos
        |  FROM ep JOIN vec sv ON sv.vec_id = esrc
        |          JOIN vec dv ON dv.vec_id = edst),
        |edg AS (SELECT esrc, edst, cos FROM (SELECT esrc, edst, cos,
        |          row_number() OVER (PARTITION BY esrc
        |            ORDER BY cos DESC, edst ASC) AS rk FROM es)
        |        WHERE rk <= 4)
        |SELECT esrc AS "src", edst AS "dst", cos AS "cosine"
        |FROM edg WHERE esrc < 50 ORDER BY 1, 2""".stripMargin,

    "q_ann_recall" ->
      s"""WITH ivf AS (SELECT "query_id" AS q, vec_id AS v
         |             FROM ($annIvfSql)),
         |br AS (SELECT "query_id" AS q, vec_id AS v FROM ($annBruteSql))
         |SELECT ivf.q AS "query_id",
         |       round(count(br.v)::DOUBLE / 5.0, 6) AS "recall"
         |FROM ivf LEFT JOIN br ON ivf.q = br.q AND ivf.v = br.v
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ---- text analysis --------------------------------------------------

    "q_text_stats" ->
      s"""WITH tok AS (
         |  SELECT doc_id, text, ${toks("text")} AS t FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    len(t)::BIGINT AS n_tok,
         |    len(regexp_extract_all(text,
         |      '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]'))::BIGINT AS n_bpe,
         |    round(CASE WHEN len(t) = 0 THEN 0.0
         |      ELSE list_sum(list_transform(t, x -> length(x)))::DOUBLE
         |           / len(t) END, 6) AS mean_tok,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(regexp_replace(text,
         |             '[^\\p{L}\\p{N}\\s]', '', 'g')))::DOUBLE
         |           / length(text) END, 6) AS pr,
         |    round(CASE WHEN len(t) = 0 THEN 0.0
         |      ELSE len(list_filter(t, x -> x IN ${inList(
              (stopEn ++ stopDe ++ stopFr ++ stopEs).distinct)}))::DOUBLE
         |           / len(t) END, 6) AS sr
         |  FROM tok)
         |SELECT doc_id, n_tok AS "n_tokens", n_bpe AS "n_tokens_bpe",
         |  mean_tok AS "mean_token_len", pr AS "punct_ratio",
         |  sr AS "stopword_ratio",
         |  round(least(n_tok / 50.0, 1.0) * 0.4 +
         |        (CASE WHEN mean_tok BETWEEN 3.0 AND 10.0
         |              THEN 1.0 ELSE 0.5 END) * 0.3 +
         |        (1.0 - least(pr * 4.0, 1.0)) * 0.3, 6) AS "quality"
         |FROM m ORDER BY doc_id""".stripMargin,

    "q_term_df" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct(${toks("text")}) AS t
         |  FROM documents),
         |terms AS (SELECT unnest(t) AS term FROM tok)
         |SELECT term, count(*)::BIGINT AS "df"
         |FROM terms GROUP BY term
         |HAVING count(*) >= (SELECT count(*) FROM documents) // 20
         |ORDER BY term""".stripMargin,

    // DECIMAL(30,15)-accumulated per-(group, dim) means == the engine's
    // meanPool (exactly associative, so order-independent on both sides).
    // The m* columns round a DOUBLE at 6 places. Spark's round() is
    // repr-based (BigDecimal.valueOf = shortest string); DuckDB's
    // rounds the binary value — on quantized synthetic embeddings the
    // mean can land exactly on a .5 ulp-boundary at 6 places and the
    // two conventions split (0.250938 vs 0.250937, r14 seed-3 replay).
    // DuckDB's ::VARCHAR is the same shortest repr, so bridging
    // VARCHAR -> DECIMAL -> round replays Spark's convention exactly.
    "q_embed_meanpool" ->
      """WITH vec AS (SELECT vec_id, vec_id % 10 AS g,
        |                    embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT g, dr.range AS d,
        |    sum((v[dr.range + 1])::DECIMAL(30,15))::DOUBLE / count(*) AS m,
        |    count(*) AS n
        |  FROM vec CROSS JOIN range(64) dr GROUP BY g, dr.range)
        |SELECT g, max(n)::BIGINT AS "n_vecs",
        |  round((max(CASE WHEN d = 0 THEN m END))::VARCHAR
        |    ::DECIMAL(38,18), 6)::DOUBLE AS "m0",
        |  round((max(CASE WHEN d = 1 THEN m END))::VARCHAR
        |    ::DECIMAL(38,18), 6)::DOUBLE AS "m1",
        |  round((max(CASE WHEN d = 63 THEN m END))::VARCHAR
        |    ::DECIMAL(38,18), 6)::DOUBLE AS "m63"
        |FROM m GROUP BY g ORDER BY g""".stripMargin,

    "q_vocab_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct(${toks("text")}) AS t
         |  FROM documents),
         |terms AS (SELECT unnest(t) AS term FROM tok)
         |SELECT term, count(*)::BIGINT AS "df"
         |FROM terms GROUP BY term
         |ORDER BY df DESC, term ASC LIMIT 40""".stripMargin,

    "q_corpus_mix" ->
      s"""SELECT doc_id, 'docs' AS "source" FROM documents
         |WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000
         |  < 800000
         |UNION ALL
         |SELECT doc_id + 100000, 'twins' FROM documents
         |WHERE doc_id < 150
         |  AND ${md5_60("(doc_id + 100000)::VARCHAR || ':sample'")}
         |    % 1000000 < 500000
         |ORDER BY doc_id""".stripMargin,

    "q_langid" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |h AS (SELECT doc_id,
         |  ${hits(stopEn)} AS en, ${hits(stopDe)} AS de,
         |  ${hits(stopFr)} AS fr, ${hits(stopEs)} AS es FROM tok)
         |SELECT doc_id, en::BIGINT AS "en_hits",
         |  CASE WHEN en <= 0 AND de <= 0 AND fr <= 0 AND es <= 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS "lang_pred"
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_fingerprints" ->
      s"""SELECT doc_id, md5(${norm("text")}) AS "fp"
         |FROM documents ORDER BY doc_id""".stripMargin,

    // ---- multimodal -----------------------------------------------------

    // Full replication of the md5-derived decode stub
    // (operators/Multimodal.decodeStub): dims from the payload's 60-bit
    // md5, features k_i = md5_60(md5hex || '_' || i) % 2001 mapped to
    // [-1, 1] floats, summed left-to-right as doubles.
    "q_multimodal_decode" ->
      s"""WITH m AS (SELECT doc_id, text, md5(text) AS hx,
         |    ${md5_60("text")} AS h
         |  FROM documents WHERE doc_id < 100),
         |f AS (SELECT doc_id,
         |    list_transform(generate_series(0, 7), i ->
         |      ((((${md5_60("hx || '_' || i")}) % 2001) - 1000)::FLOAT
         |        / 1000.0::FLOAT)::DOUBLE) AS feats
         |  FROM m)
         |SELECT m.doc_id AS "media_id",
         |  octet_length(encode(m.text))::BIGINT AS "size_bytes",
         |  (64 + (m.h % 961))::INT AS "width",
         |  (64 + ((m.h >> 10) % 961))::INT AS "height",
         |  3::INT AS "channels",
         |  round(list_reduce(list_prepend(0.0::DOUBLE, f.feats),
         |    (a, b) -> a + b), 3) AS "feat_sum"
         |FROM m JOIN f USING (doc_id) ORDER BY 1""".stripMargin,

    // Media near-dup: the decode-stub features replicated in FLOAT
    // arithmetic, then ALL pairs brute-forced — no planted-pair shape
    // assumed, so spurious pairs and misses both fail.
    "q_media_neardup" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |              WHERE doc_id < 200),
         |aug AS (SELECT doc_id, text FROM base
         |        UNION ALL SELECT doc_id + 100000, text FROM base
         |        WHERE doc_id < 40),
         |m AS (SELECT doc_id, md5(text) AS hx FROM aug),
         |f AS (SELECT doc_id, list_transform(generate_series(0, 15),
         |    i -> ((((${md5_60("hx || '_' || i")}) % 2001) - 1000)
         |      ::FLOAT / 1000.0::FLOAT)::DOUBLE) AS v
         |  FROM m)
         |SELECT a.doc_id AS "id_a", b.doc_id AS "id_b",
         |  round(${cosSql("a.v", "b.v")}, 6) AS "cosine"
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.95
         |ORDER BY 1, 2""".stripMargin,

    "q_frame_sample" ->
      """SELECT doc_id AS "media_id",
        |  greatest(ceil(octet_length(encode(text)) / 128.0)::BIGINT, 1)
        |    AS "n_frames"
        |FROM documents ORDER BY 1""".stripMargin,

    // Keeper selection: ids chained into runs of 5 consecutive ids, so
    // the component root is (doc_id // 5) * 5 by construction; keeper =
    // argmax(n_chars, ties to min id) within the run.
    "q_keep_best" ->
      """WITH g AS (SELECT doc_id, n_chars, (doc_id // 5) * 5 AS grp
        |  FROM documents),
        |r AS (SELECT grp, doc_id, n_chars,
        |  count(*) OVER (PARTITION BY grp) AS nm,
        |  row_number() OVER (PARTITION BY grp
        |    ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM g)
        |SELECT grp AS "group", doc_id, n_chars,
        |  nm::BIGINT AS "n_members"
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin,

    // Stratified sampling: same md5 bucket as q_hash_split, threshold
    // CASEd per language (en 25%, zh 100%, default 50%).
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 <
         |  CASE lang WHEN 'en' THEN 250000
         |            WHEN 'zh' THEN 1000000 ELSE 500000 END
         |ORDER BY doc_id""".stripMargin,

    // Sequence packing: md5-assigned stream, running-offset prefix sum
    // (ROWS ... 1 PRECEDING), context bins of 4096 at the start/end
    // offsets; zero-token docs occupy one slot.
    "q_seq_pack" ->
      s"""WITH s AS (SELECT doc_id, n_chars,
         |    ${md5_60("doc_id::VARCHAR || ':pack'")} % 1000000 % 8
         |      AS stream
         |  FROM documents),
         |o AS (SELECT doc_id, stream, n_chars,
         |  COALESCE(SUM(n_chars) OVER (PARTITION BY stream
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS start_offset
         |  FROM s)
         |SELECT doc_id, stream, start_offset,
         |  (start_offset // 4096)::BIGINT AS "bin_first",
         |  ((start_offset + greatest(n_chars, 1) - 1) // 4096)::BIGINT
         |    AS "bin_last"
         |FROM o ORDER BY doc_id""".stripMargin,

    // Incremental dedup: construction fixes the survivors — exact
    // copies die against the corpus, " v2" variants survive, and the
    // batch-internal duplicate of each variant loses to the min id.
    // Generic replay of dedupAgainst (anti-join on corpus fingerprints,
    // then batch self-dedup to the min id per fingerprint) rather than
    // the old "the +800000 variants all survive" construction shortcut,
    // which silently assumed all variant texts are pairwise distinct —
    // false on the synthetic corpora (empty docs make every variant
    // collapse to 'v2'; scripts/synthgen.py).
    "q_incremental_dedup" ->
      s"""WITH corpus_fp AS (
         |  SELECT DISTINCT md5(${norm("text")}) AS fp FROM documents),
         |batch AS (
         |  SELECT doc_id + 700000 AS doc_id, text FROM documents
         |  WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 800000, text || ' v2' FROM documents
         |  WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 900000, text || ' v2' FROM documents
         |  WHERE doc_id < 50),
         |bfp AS (SELECT doc_id, md5(${norm("text")}) AS fp FROM batch)
         |SELECT min(doc_id) AS "doc_id", fp AS "fp"
         |FROM bfp WHERE fp NOT IN (SELECT fp FROM corpus_fp)
         |GROUP BY fp ORDER BY 1""".stripMargin,

    // Temperature mixing: integer-exact rate derivation (corrected
    // floor-sqrt weights, integer sum, truncating // to ppm) over the
    // constructed skewed subset, then the ':sample'-salted keep.
    "q_temperature_mix" ->
      s"""WITH sk AS (SELECT doc_id, source FROM documents
         |  WHERE doc_id %
         |    (1 + TRY_CAST(substr(source, 4, 10) AS INT) % 4) = 0),
         |cnt AS (SELECT source, count(*) AS n FROM sk GROUP BY 1),
         |w AS (SELECT source, n,
         |    CASE WHEN f * f > n THEN f - 1
         |         WHEN (f + 1) * (f + 1) <= n THEN f + 1
         |         ELSE f END AS wi
         |  FROM (SELECT source, n, floor(sqrt(n))::BIGINT AS f
         |        FROM cnt)),
         |tot AS (SELECT sum(wi)::BIGINT AS s FROM w),
         |rate AS (SELECT source,
         |    least(1000000, (1000000 * 150 * wi) // (s * n)) AS ppm
         |  FROM w CROSS JOIN tot)
         |SELECT sk.doc_id, sk.source
         |FROM sk JOIN rate USING (source)
         |WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 < ppm
         |ORDER BY doc_id""".stripMargin,

    // Recommender training-data build: distinct positives + the
    // negative-sample replay + the ':split'-salted per-USER split.
    "q_rec_training" ->
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS cust,
         |    l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < 100),
         |users AS (SELECT DISTINCT cust FROM inter),
         |pool AS (SELECT DISTINCT p_partkey AS item FROM part
         |         WHERE p_partkey < 300),
         |cand AS (SELECT cust, item,
         |    ${md5_60("cust::VARCHAR || ':' || item::VARCHAR || ':neg'")}
         |      % 1000000 AS h
         |  FROM users CROSS JOIN pool),
         |fresh AS (SELECT c.* FROM cand c WHERE NOT EXISTS
         |  (SELECT 1 FROM inter i
         |   WHERE i.cust = c.cust AND i.item = c.item)),
         |neg AS (SELECT cust, item FROM (
         |    SELECT cust, item, row_number() OVER (PARTITION BY cust
         |      ORDER BY h DESC, item DESC) AS rn FROM fresh)
         |  WHERE rn <= 5),
         |ex AS (SELECT cust, item, 1::BIGINT AS label FROM inter
         |  UNION ALL SELECT cust, item, 0::BIGINT FROM neg),
         |sp AS (SELECT *,
         |    ${md5_60("cust::VARCHAR || ':split'")} % 1000000 AS b
         |  FROM ex)
         |SELECT cust, item, label AS "label",
         |  CASE WHEN b < 800000 THEN 'train'
         |       WHEN b < 900000 THEN 'val'
         |       ELSE 'test' END AS "split"
         |FROM sp ORDER BY cust, item""".stripMargin,

    // Exact quotas: smallest ':sample'-salted bucket per language,
    // ties by doc_id desc (the operator's -bucket/key-desc struct
    // order), 20 per stratum.
    "q_quota_sample" ->
      s"""WITH b AS (SELECT doc_id, lang, source,
         |    ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, source, row_number() OVER (
         |    PARTITION BY lang ORDER BY h ASC, doc_id DESC) AS rn
         |  FROM b)
         |SELECT doc_id, lang, source, rn::BIGINT AS "rank"
         |FROM r WHERE rn <= 20
         |ORDER BY lang NULLS FIRST, rn""".stripMargin,

    // Co-occurrence related items: pair counts over distinct
    // (order, part), exact-integer lift with one double division
    // rounded BEFORE ranking, head by (n_co, lift, related) desc.
    "q_cooccurrence" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i
        |  FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM it),
        |marg AS (SELECT i, count(*) AS c FROM it GROUP BY 1),
        |pr AS (SELECT a.i AS item, b.i AS related, count(*) AS n_co
        |  FROM it a JOIN it b ON a.bk = b.bk AND a.i <> b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item, related, n_co,
        |    round((n_co * nb.n)::DOUBLE / (ma.c * mb.c)::DOUBLE, 6)
        |      AS lift
        |  FROM pr
        |  JOIN marg ma ON ma.i = pr.item
        |  JOIN marg mb ON mb.i = pr.related
        |  CROSS JOIN nb),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY n_co DESC, lift DESC, related DESC) AS rn
        |  FROM sc)
        |SELECT item, rn::BIGINT AS "rank", n_co::BIGINT AS "n_co",
        |  lift, related
        |FROM r WHERE rn <= 3 ORDER BY item, rn""".stripMargin,

    // Negative sampling: replay the salted hash, the not-exists
    // anti-join, and the (h desc, item desc) head.
    "q_negative_sample" ->
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS cust,
         |    l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < 100),
         |users AS (SELECT DISTINCT cust FROM inter),
         |pool AS (SELECT DISTINCT p_partkey AS item FROM part
         |         WHERE p_partkey < 300),
         |cand AS (SELECT cust, item,
         |    ${md5_60("cust::VARCHAR || ':' || item::VARCHAR || ':neg'")}
         |      % 1000000 AS h
         |  FROM users CROSS JOIN pool),
         |fresh AS (SELECT c.* FROM cand c WHERE NOT EXISTS
         |  (SELECT 1 FROM inter i
         |   WHERE i.cust = c.cust AND i.item = c.item)),
         |r AS (SELECT cust, item, h, row_number() OVER (
         |    PARTITION BY cust ORDER BY h DESC, item DESC) AS rn
         |  FROM fresh)
         |SELECT cust, rn::BIGINT AS "rank", item
         |FROM r WHERE rn <= 5 ORDER BY cust, rn""".stripMargin,

    // Hard negatives: the same candidate construction scored by
    // rounded embedding cosine instead of the hash, ranked
    // (cosine DESC, item DESC) per user.
    "q_hard_negatives" ->
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS cust,
         |    l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < 100),
         |users AS (SELECT DISTINCT cust FROM inter),
         |pool AS (SELECT DISTINCT p_partkey AS item FROM part
         |         WHERE p_partkey < 300),
         |vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |        FROM embeddings),
         |cand AS (SELECT cust, item,
         |    round(${cosSql("uv.v", "iv.v")}, 6) AS cosine
         |  FROM users JOIN vec uv ON uv.vec_id = cust
         |       CROSS JOIN pool
         |       JOIN vec iv ON iv.vec_id = item),
         |fresh AS (SELECT c.* FROM cand c WHERE NOT EXISTS
         |  (SELECT 1 FROM inter i
         |   WHERE i.cust = c.cust AND i.item = c.item)),
         |r AS (SELECT cust, item, cosine, row_number() OVER (
         |    PARTITION BY cust ORDER BY cosine DESC, item DESC) AS rn
         |  FROM fresh)
         |SELECT cust, rn::BIGINT AS "rank", item, cosine
         |FROM r WHERE rn <= 5 ORDER BY cust, rn""".stripMargin,

    // ANN-backed hard negatives: replays the IVF chain end to end —
    // first-8-by-id default centroids, unrounded (s DESC, cell DESC)
    // assignment + probe order (the annIvfSql recipe), the per-user
    // k+overfetch=15 head on ROUNDED cosine (cosine DESC, item ASC),
    // the positive anti-join, then the final 1..5 re-rank in the same
    // tie order.
    "q_hard_negatives_ann" ->
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS cust,
         |    l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < 100),
         |users AS (SELECT DISTINCT cust FROM inter),
         |vec AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |        FROM embeddings),
         |ivec AS (SELECT p_partkey AS item, v
         |         FROM part JOIN vec ON vec_id = p_partkey
         |         WHERE p_partkey < 300),
         |cent AS (SELECT (row_number() OVER (ORDER BY item)) - 1 AS cell,
         |                v AS cv
         |         FROM (SELECT item, v FROM ivec ORDER BY item LIMIT 8)),
         |isc AS (SELECT item, cell, ${cosSql("v", "cv")} AS s
         |        FROM ivec CROSS JOIN cent),
         |asg AS (SELECT item, cell FROM (
         |    SELECT item, cell, row_number() OVER (PARTITION BY item
         |      ORDER BY s DESC, cell DESC) AS rn FROM isc) WHERE rn = 1),
         |uvec AS (SELECT u.cust, vec.v FROM users u
         |         JOIN vec ON vec.vec_id = u.cust),
         |usc AS (SELECT cust, cell, ${cosSql("v", "cv")} AS s
         |        FROM uvec CROSS JOIN cent),
         |prb AS (SELECT cust, cell FROM (
         |    SELECT cust, cell, row_number() OVER (PARTITION BY cust
         |      ORDER BY s DESC, cell DESC) AS rn FROM usc) WHERE rn <= 4),
         |cand AS (SELECT p.cust, a.item
         |         FROM prb p JOIN asg a ON a.cell = p.cell),
         |cs AS (SELECT c.cust, c.item,
         |    round(${cosSql("uv.v", "iv.v")}, 6) AS cosine
         |  FROM cand c JOIN uvec uv ON uv.cust = c.cust
         |              JOIN ivec iv ON iv.item = c.item),
         |head AS (SELECT cust, item, cosine FROM (
         |    SELECT cust, item, cosine, row_number() OVER (
         |        PARTITION BY cust ORDER BY cosine DESC, item ASC) AS rn
         |      FROM cs) WHERE rn <= 15),
         |fresh AS (SELECT h.* FROM head h WHERE NOT EXISTS
         |  (SELECT 1 FROM inter i
         |   WHERE i.cust = h.cust AND i.item = h.item)),
         |r AS (SELECT cust, item, cosine, row_number() OVER (
         |    PARTITION BY cust ORDER BY cosine DESC, item ASC) AS rn
         |  FROM fresh)
         |SELECT cust, rn::BIGINT AS "rank", item, cosine
         |FROM r WHERE rn <= 5 ORDER BY cust, rn""".stripMargin,

    // Fuzzy linkage: blocking shapes the PLAN, not the rows — the
    // oracle brute-forces levenshtein over the restricted sets.
    "q_fuzzy_join" ->
      """WITH orig AS (SELECT c_custkey AS right_id, c_name AS rk
        |  FROM customer WHERE c_custkey < 200),
        |var AS (SELECT c_custkey + 100000 AS left_id,
        |    substr(c_name, 1, 9) || substr(c_name, 11) AS lk
        |  FROM customer WHERE c_custkey < 200)
        |SELECT left_id, right_id,
        |  levenshtein(lk, rk)::BIGINT AS "dist"
        |FROM var CROSS JOIN orig
        |WHERE levenshtein(lk, rk) <= 1
        |ORDER BY 1, 2""".stripMargin,

    // JW-ranked linkage: same blocking as q_fuzzy_join, scored by
    // DuckDB's own jaro_winkler_similarity — the engine's native
    // kernel must match it per row. VARCHAR->DECIMAL bridge replays
    // Spark's repr-based round at the 6th place; the threshold
    // compares the ROUNDED value on both sides.
    "q_jw_linkage" ->
      """WITH orig AS (SELECT c_custkey AS right_id, c_name AS rk
        |  FROM customer WHERE c_custkey < 200),
        |var AS (SELECT c_custkey + 100000 AS left_id,
        |    substr(c_name, 1, 9) || substr(c_name, 11) AS lk
        |  FROM customer WHERE c_custkey < 200),
        |sc AS (SELECT left_id, right_id,
        |    levenshtein(lk, rk)::BIGINT AS dist,
        |    round(jaro_winkler_similarity(lk, rk)::VARCHAR
        |      ::DECIMAL(38,18), 6)::DOUBLE AS jw
        |  FROM var CROSS JOIN orig
        |  WHERE levenshtein(lk, rk) <= 1)
        |SELECT left_id, right_id, dist, jw
        |FROM sc WHERE jw >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    // Duplicate passages: full replication of the winnowing selection
    // (value-set variant) — 4-gram shingles via list slicing (slices
    // past the end truncate, covering the fewer-than-n fallback),
    // md5_60 hashes, min over FULL windows of 4 (pos <= m-effW+1, a
    // shrinking suffix window must not select), distinct, the
    // degenerate-bucket guard, then the shared-fingerprint pair count.
    "q_dup_passages" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    'entirely novel preamble text with no counterpart anywhere '
         |      || substr(text, 1, 200)
         |  FROM documents WHERE doc_id < 100),
         |tok AS (SELECT doc_id, ${toks("text")} AS t FROM all_docs),
         |sh AS (SELECT doc_id, u.pos,
         |    array_to_string(t[u.pos:u.pos + 3], ' ') AS s,
         |    greatest(len(t) - 3, 1) AS m
         |  FROM tok,
         |    LATERAL unnest(generate_series(1, greatest(len(t) - 3, 1)))
         |      AS u(pos)),
         |hsh AS (SELECT doc_id, pos, m, ${md5_60("s")} AS h FROM sh),
         |wmin AS (SELECT doc_id, pos, m,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM hsh),
         |sel AS (SELECT DISTINCT doc_id, fp FROM wmin
         |        WHERE pos <= m - least(4, m) + 1),
         |cnt AS (SELECT fp FROM sel GROUP BY fp
         |        HAVING count(*) > 1 AND count(*) <= 1000),
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |      FROM sel a JOIN cnt c ON a.fp = c.fp
         |      JOIN sel b ON b.fp = a.fp AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, count(*)::BIGINT AS "shared"
         |FROM j GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,

    // Cross-document segment dedup: the same 4-token segmentation,
    // distinct-doc census (>= 4 docs ⇒ boilerplate), and ordered
    // reassembly; the final LEFT JOIN keeps token-less documents the
    // explode drops, mirroring the engine's reattach.
    "q_seg_dedup" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |seg AS (SELECT doc_id, u.i AS idx,
         |    array_to_string(t[(u.i*4+1):(u.i*4+4)], ' ') AS s
         |  FROM tok,
         |    LATERAL unnest(generate_series(0, (len(t)+3)//4 - 1))
         |      AS u(i)),
         |cnt AS (SELECT s FROM (SELECT DISTINCT s, doc_id FROM seg)
         |        GROUP BY s HAVING count(*) >= 4),
         |tag AS (SELECT g.doc_id, g.idx, g.s, c.s IS NOT NULL AS dropd
         |        FROM seg g LEFT JOIN cnt c ON g.s = c.s),
         |re AS (SELECT doc_id,
         |    coalesce(string_agg(CASE WHEN NOT dropd THEN s END,
         |                        ' ' ORDER BY idx), '') AS ct,
         |    sum(CASE WHEN dropd THEN 1 ELSE 0 END) AS nd
         |  FROM tag GROUP BY doc_id)
         |SELECT d.doc_id AS "doc_id",
         |  coalesce(re.ct, '') AS "clean_text",
         |  coalesce(re.nd, 0)::BIGINT AS "n_dropped"
         |FROM documents d LEFT JOIN re USING (doc_id)
         |ORDER BY 1""".stripMargin,

    // Domain-mixture water-filling: the oracle replays the closed
    // form independently — r-sort, running sums, boundary lambda*
    // (first row whose r >= lambda in sort order), alloc =
    // min(cap, lambda* x target). Budget = 2x total chars, 3-epoch
    // cap, targets (src_id % 5) + 1. Doubles through the
    // VARCHAR::DECIMAL bridge so half-way 6th decimals round like
    // Spark's HALF_UP. The CTE chain through `a` is shared with
    // q_mixture_sample (mixtureCoreSql below the map).
    "q_mixture_alloc" ->
      s"""WITH $mixtureCoreSql,
         |aa AS (SELECT SUM(alloc) AS A FROM a)
         |SELECT a.source AS "source",
         |  round(avail::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |    AS "avail_tokens",
         |  round((tw/T)::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |    AS "target_share",
         |  round(cap::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |    AS "cap_tokens",
         |  round(alloc::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |    AS "alloc_tokens",
         |  round((CASE WHEN avail > 0 THEN alloc/avail ELSE 0.0
         |    END)::VARCHAR::DECIMAL(38,18), 6)::DOUBLE AS "epochs",
         |  round((CASE WHEN A > 0 THEN alloc/A ELSE 0.0
         |    END)::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |    AS "achieved_share",
         |  (A >= B - GREATEST(1e-6, B * 1e-9)) AS "budget_met"
         |FROM a, aa ORDER BY a.source NULLS FIRST""".stripMargin,

    // The mixture materialized: floor(epochs) full passes per doc +
    // one more for docs whose :mix-salted md5 bucket clears the
    // fractional-epoch ppm — rates pinned to the ROUNDED epochs of
    // q_mixture_alloc, hash identical to the engine's saltedBucket.
    "q_mixture_sample" ->
      s"""WITH $mixtureCoreSql,
         |ep AS (SELECT source,
         |    round((alloc/avail)::VARCHAR::DECIMAL(38,18), 6)::DOUBLE
         |      AS epochs
         |  FROM a WHERE avail > 0),
         |x AS (SELECT d.source, d.doc_id,
         |    (floor(e.epochs)::BIGINT + CASE WHEN
         |        ${md5_60("d.doc_id::VARCHAR || ':mix'")} % 1000000
         |        < round((e.epochs - floor(e.epochs)) * 1000000)::BIGINT
         |      THEN 1 ELSE 0 END) AS n
         |  FROM documents d JOIN ep e
         |    ON d.source IS NOT DISTINCT FROM e.source)
         |SELECT source AS "source", doc_id AS "doc_id",
         |  UNNEST(generate_series(1, n)) AS "epoch"
         |FROM x WHERE n > 0
         |ORDER BY source NULLS FIRST, doc_id, "epoch"""".stripMargin,

    // Token-budget selection: the oracle states the NAIVE global
    // running sum (one total order, inclusive frame); the engine's
    // bucketed two-phase prefix sum must reproduce it exactly.
    // Eval-set decontamination: 8-gram shingles (whole-text shingle
    // under 8 tokens, the wordShingles contract), eval = first-12-token
    // slices of doc_id%10==3 docs, md5-60 hash equality, per-doc count
    // of shared grams (per-doc grams are list_distinct'd), flag at
    // >= 3.
    "q_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t
         |            FROM documents),
         |ev AS (SELECT DISTINCT ${md5_60("g")} AS gh FROM (
         |  SELECT unnest(CASE WHEN len(et) < 8
         |    THEN [coalesce(array_to_string(et, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(et) - 7),
         |           i -> array_to_string(et[i:i+7], ' ')) END) AS g
         |  FROM (SELECT t[1:12] AS et FROM tok
         |        WHERE doc_id % 10 = 3))),
         |tg AS (SELECT doc_id, ${md5_60("g")} AS gh FROM (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 8
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 7),
         |           i -> array_to_string(t[i:i+7], ' ')) END)) AS g
         |  FROM tok)),
         |sh AS (SELECT doc_id, count(*)::BIGINT AS n
         |       FROM tg JOIN ev USING (gh) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(s.n, 0)::BIGINT AS n_shared,
         |  coalesce(s.n, 0) >= 3 AS contaminated
         |FROM documents d LEFT JOIN sh s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Distributed BPE training (Tokenizer.bpeTrain): the 6-iteration
    // learn loop replayed unrolled (see bpeTrainSql).
    "q_bpe_train" -> bpeTrainSql(6),

    // True BPE counts (TextFunctions.bpeSegment): the greedy apply
    // loop replayed as a recursive CTE, one merge per iteration.
    "q_bpe_tokens" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT d.doc_id, coalesce(c.n, 0)::BIGINT AS n_bpe_tokens
         |FROM documents d LEFT JOIN bpecnt c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Tokenizer fitness (bpeStatsQ): word/token/merged counts off the
    // same per-word greedy replay, two IEEE ratios. Empty docs count
    // in n_docs via the LEFT JOIN (they have no bpe_fin rows).
    "q_bpe_stats" ->
      s"""WITH RECURSIVE $bpeCtes,
         |per AS (SELECT doc_id, count(*) AS w, sum(len(s)) AS tk,
         |    sum(len(list_filter(s, x -> len(x) > 1))) AS mg
         |  FROM bpe_fin GROUP BY 1),
         |agg AS (SELECT count(*) AS n_docs,
         |    sum(coalesce(w, 0)) AS n_words,
         |    sum(coalesce(tk, 0)) AS n_tokens,
         |    sum(coalesce(mg, 0)) AS n_merged
         |  FROM documents d LEFT JOIN per USING (doc_id))
         |SELECT n_docs::BIGINT AS n_docs, n_words::BIGINT AS n_words,
         |  n_tokens::BIGINT AS n_tokens, n_merged::BIGINT AS n_merged,
         |  round(n_tokens::DOUBLE / n_words, 6) AS fertility,
         |  round(n_merged::DOUBLE / n_tokens, 6) AS merged_share
         |FROM agg""".stripMargin,

    // Tokenizer-true budget selection: q_budget_select's running-sum
    // replay with the cost swapped to the recursive-CTE BPE count.
    "q_budget_select_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |c AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(b.n, 0)::BIGINT AS n_tokens
         |  FROM documents d LEFT JOIN bpecnt b USING (doc_id)),
         |r AS (SELECT doc_id, n_chars, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id)
         |      ::BIGINT AS cum_cost
         |  FROM c)
         |SELECT doc_id AS "doc_id", n_chars AS "n_chars",
         |  n_tokens AS "n_tokens", cum_cost AS "cum_cost"
         |FROM r WHERE cum_cost <= 8000 ORDER BY 1""".stripMargin,

    // Tokenizer-true per-language percentiles: q_token_percentiles's
    // lang detection with n = the recursive-CTE BPE count.
    "q_token_percentiles_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |h AS (SELECT doc_id,
         |  ${hits(stopEn)} AS en, ${hits(stopDe)} AS de,
         |  ${hits(stopFr)} AS fr, ${hits(stopEs)} AS es FROM bpe_tok),
         |l AS (SELECT doc_id,
         |  CASE WHEN en <= 0 AND de <= 0 AND fr <= 0 AND es <= 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang FROM h),
         |v AS (SELECT l.lang, coalesce(b.n, 0)::BIGINT AS n
         |      FROM l LEFT JOIN bpecnt b USING (doc_id))
         |SELECT lang, count(*)::BIGINT AS "n_docs",
         |  round(quantile_cont(n, 0.5), 6) AS "p50",
         |  round(quantile_cont(n, 0.9), 6) AS "p90",
         |  min(n) AS "min_tok", max(n) AS "max_tok"
         |FROM v GROUP BY lang ORDER BY lang""".stripMargin,

    "q_budget_select" ->
      s"""WITH c AS (SELECT doc_id, n_chars,
         |    len(${toks("text")})::BIGINT AS n_tokens FROM documents),
         |r AS (SELECT doc_id, n_chars, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id)
         |      ::BIGINT AS cum_cost
         |  FROM c)
         |SELECT doc_id AS "doc_id", n_chars AS "n_chars",
         |  n_tokens AS "n_tokens", cum_cost AS "cum_cost"
         |FROM r WHERE cum_cost <= 8000 ORDER BY 1""".stripMargin,

    // Bloom-pruned incremental dedup: same construction (" v3"
    // variants), same fixed survivor set — the prefilter may only
    // change the plan, never the result.
    // Same generic dedupAgainst replay as q_incremental_dedup (the
    // Bloom prefilter changes the plan, never the result), ' v3'
    // variants.
    "q_dedup_bloom" ->
      s"""WITH corpus_fp AS (
         |  SELECT DISTINCT md5(${norm("text")}) AS fp FROM documents),
         |batch AS (
         |  SELECT doc_id + 700000 AS doc_id, text FROM documents
         |  WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 800000, text || ' v3' FROM documents
         |  WHERE doc_id < 100
         |  UNION ALL
         |  SELECT doc_id + 900000, text || ' v3' FROM documents
         |  WHERE doc_id < 50),
         |bfp AS (SELECT doc_id, md5(${norm("text")}) AS fp FROM batch)
         |SELECT min(doc_id) AS "doc_id", fp AS "fp"
         |FROM bfp WHERE fp NOT IN (SELECT fp FROM corpus_fp)
         |GROUP BY fp ORDER BY 1""".stripMargin,

    // End-to-end curation pipeline: replay the full chain — exact-dedup
    // keepers, nearest-rank length band ON THE DEDUPED SET, per-lang
    // sampling, hash split, report.
    "q_curation_pipeline" ->
      s"""WITH fp AS (SELECT doc_id, md5(${norm("text")}) AS f
         |  FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         |kept AS (SELECT d.doc_id, d.lang, d.n_chars
         |  FROM documents d JOIN keep USING (doc_id)),
         |h AS (SELECT n_chars AS v, count(*) AS c FROM kept GROUP BY 1),
         |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cs FROM h),
         |nn AS (SELECT count(*) AS n FROM kept),
         |lo AS (SELECT min(v) AS lo FROM cum, nn
         |  WHERE cs >= greatest(ceil(0.05 * n), 1)),
         |hi AS (SELECT min(v) AS hi FROM cum, nn
         |  WHERE cs >= greatest(ceil(0.95 * n), 1)),
         |band AS (SELECT kept.* FROM kept, lo, hi
         |  WHERE n_chars >= lo AND n_chars <= hi),
         |samp AS (SELECT *,
         |    ${md5_60("doc_id::VARCHAR || ':split'")} % 1000000 AS b
         |  FROM band
         |  WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 <
         |    CASE lang WHEN 'en' THEN 500000 ELSE 1000000 END)
         |SELECT CASE WHEN b < 800000 THEN 'train'
         |            WHEN b < 900000 THEN 'val'
         |            ELSE 'test' END AS "split",
         |  lang, count(*)::BIGINT AS "n_docs",
         |  sum(n_chars)::BIGINT AS "sum_chars"
         |FROM samp GROUP BY 1, 2
         |ORDER BY 1, 2 NULLS FIRST""".stripMargin,

    // Declarative pipeline runner: all five stages replayed in order —
    // each stage's data-derived parameters (source means, keeper sets,
    // near-dup pairs) computed on the PRECEDING stage's survivors,
    // exactly the runner's flag semantics. Near-dedup replays the
    // share-any-shingle + exact-Jaccard chain (the q_jaccard_join
    // idiom) over stage-2 survivors and drops distinct id_b.
    "q_pipeline_runner" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    substr(text, 1, floor(length(text) * 60 / 100)::INT),
         |    lang, source
         |  FROM documents WHERE doc_id < 150),
         |d AS (SELECT doc_id, text, lang, source,
         |    length(text)::BIGINT AS n_chars FROM all_docs),
         |s0 AS (SELECT * FROM d WHERE n_chars BETWEEN 20 AND 8000),
         |good AS (SELECT source FROM s0 GROUP BY source
         |         HAVING avg(n_chars) >= 500.0),
         |s1 AS (SELECT * FROM s0
         |       WHERE source IN (SELECT source FROM good)),
         |keep AS (SELECT min(doc_id) AS doc_id FROM
         |  (SELECT doc_id, md5(${norm("text")}) AS f FROM s1)
         |  GROUP BY f),
         |s2 AS (SELECT s1.* FROM s1 JOIN keep USING (doc_id)),
         |tok AS (SELECT doc_id, ${toks("text")} AS t FROM s2),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3
         |    THEN [coalesce(array_to_string(t, ' '), '')]
         |    ELSE list_transform(generate_series(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+2], ' ')) END) AS s
         |  FROM tok),
         |shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |cands AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id),
         |j AS (SELECT idb, len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      AS jr
         |  FROM cands JOIN sh a ON a.doc_id = ida
         |              JOIN sh b ON b.doc_id = idb),
         |drops AS (SELECT DISTINCT idb FROM j WHERE jr >= 0.5),
         |s3 AS (SELECT * FROM s2
         |       WHERE doc_id NOT IN (SELECT idb FROM drops)),
         |s4 AS (SELECT * FROM s3
         |  WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 <
         |    CASE lang WHEN 'en' THEN 500000 ELSE 1000000 END),
         |c AS (SELECT (SELECT count(*) FROM d) AS n_in,
         |  (SELECT count(*) FROM s0) AS c0,
         |  (SELECT count(*) FROM s1) AS c1,
         |  (SELECT count(*) FROM s2) AS c2,
         |  (SELECT count(*) FROM s3) AS c3,
         |  (SELECT count(*) FROM s4) AS c4)
         |SELECT * FROM (
         |  SELECT 0 AS stage_ix, 'len_band' AS stage,
         |    n_in AS rows_in, c0 AS rows_out FROM c
         |  UNION ALL SELECT 1, 'source_filter', c0, c1 FROM c
         |  UNION ALL SELECT 2, 'exact_dedup', c1, c2 FROM c
         |  UNION ALL SELECT 3, 'near_dedup', c2, c3 FROM c
         |  UNION ALL SELECT 4, 'stratified_sample', c3, c4 FROM c)
         |ORDER BY stage_ix""".stripMargin,

    // Release manifest: ':sample' keep, ':split' train gate, ':shuffle'
    // shard + per-shard row_number + offset prefix sum, then the
    // per-shard rollup — the full salted chain replayed.
    "q_release_manifest" ->
      s"""WITH kept AS (SELECT doc_id, n_chars FROM documents
         |  WHERE ${md5_60("doc_id::VARCHAR || ':sample'")} % 1000000 <
         |    CASE lang WHEN 'en' THEN 500000 ELSE 1000000 END),
         |train AS (SELECT doc_id, n_chars FROM kept
         |  WHERE ${md5_60("doc_id::VARCHAR || ':split'")} % 1000000
         |    < 800000),
         |sh AS (SELECT doc_id, n_chars,
         |    ${md5_60("doc_id::VARCHAR || ':shuffle'")} AS h
         |  FROM train),
         |p AS (SELECT doc_id, n_chars, h % 4 AS shard,
         |    row_number() OVER (PARTITION BY h % 4 ORDER BY h, doc_id)
         |      AS pos
         |  FROM sh),
         |cnt AS (SELECT shard, count(*) AS n FROM p GROUP BY 1),
         |off AS (SELECT shard, coalesce(sum(n) OVER (ORDER BY shard
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |  FROM cnt)
         |SELECT p.shard::BIGINT AS "shard",
         |  count(*)::BIGINT AS "n_docs",
         |  sum(n_chars)::BIGINT AS "sum_chars",
         |  min(o + pos - 1)::BIGINT AS "lo_pos",
         |  max(o + pos - 1)::BIGINT AS "hi_pos"
         |FROM p JOIN off ON p.shard = off.shard
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Document chunking: ceil(max(len - overlap, 1)/stride) windows of
    // 200 chars at stride 150 (overlap subtracted first so the last
    // window is never a pure suffix); empty text still yields chunk 0.
    "q_chunk_docs" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |  greatest(ceil(greatest(length(t) - 50, 1)::DOUBLE / 150)
        |    ::BIGINT, 1) AS nc
        |  FROM d),
        |x AS (SELECT doc_id, t,
        |  unnest(generate_series(0, nc - 1)) AS ix FROM n)
        |SELECT doc_id, ix AS "chunk_ix",
        |  substr(t, (ix * 150 + 1)::INT, 200) AS "chunk_text"
        |FROM x ORDER BY doc_id, ix""".stripMargin,

    // Incremental near-dup: construction fixes the expected pair set —
    // every 90%-truncation twin is flagged against its original.
    "q_neardup_against" ->
      """SELECT doc_id + 100000 AS "batch_id", doc_id AS "corpus_id"
        |FROM documents WHERE doc_id < 150 ORDER BY 1""".stripMargin,

    // Split-leakage audit (splitLeakageQ): the planted twin pairs
    // whose members land on opposite sides of the 80/20 salted-bucket
    // split — the same closed-form planted-recall contract as
    // q_neardup_against, with the side assignment recomputed from the
    // identical md5 bucket arithmetic.
    "q_split_leakage" ->
      s"""WITH pairs AS (SELECT doc_id AS orig, doc_id + 100000 AS twin
         |  FROM documents WHERE doc_id < 150),
         |so AS (SELECT orig, (${md5_60("orig::VARCHAR || ':split'")}
         |    % 1000000) >= 800000 AS t FROM pairs),
         |st AS (SELECT twin, (${md5_60("twin::VARCHAR || ':split'")}
         |    % 1000000) >= 800000 AS t FROM pairs)
         |SELECT CASE WHEN so.t THEN orig ELSE twin END AS test_id,
         |  CASE WHEN so.t THEN twin ELSE orig END AS train_id
         |FROM pairs JOIN so USING (orig) JOIN st USING (twin)
         |WHERE so.t <> st.t ORDER BY test_id, train_id""".stripMargin,

    // Index-probed variant: identical planted-recall contract — the
    // persisted (band, id) index must change WHERE signatures come
    // from, never WHAT collides.
    "q_neardup_indexed" ->
      """SELECT doc_id + 100000 AS "batch_id", doc_id AS "corpus_id"
        |FROM documents WHERE doc_id < 150 ORDER BY 1""".stripMargin,

    // Source-level gate: survivors of sources whose mean length >= 300.
    "q_source_filter" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE source IN (SELECT source FROM documents
        |  GROUP BY source HAVING avg(n_chars) >= 300.0)
        |ORDER BY doc_id""".stripMargin,

    // Windowed event dedup: lag over (user, type) ordered by (us, id);
    // keep first-of-key or gap > 60 floor-seconds.
    // Merkle reconciliation (operators/Reconcile.merkleDiff): the
    // oracle states the semantics — distinct keys of the two-way
    // whole-row EXCEPT between orders and the tampered copy — not the
    // digest/bucket mechanics, so any bucketing mistake shows up as a
    // missing or extra key.
    "q_merkle_diff" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 <> 0),
        |onlya AS (SELECT DISTINCT 'a' AS side, o_orderkey FROM
        |  (SELECT * FROM orders EXCEPT SELECT * FROM b)),
        |onlyb AS (SELECT DISTINCT 'b' AS side, o_orderkey FROM
        |  (SELECT * FROM b EXCEPT SELECT * FROM orders))
        |SELECT side, o_orderkey FROM onlya
        |UNION ALL SELECT side, o_orderkey FROM onlyb
        |ORDER BY side, o_orderkey""".stripMargin,

    // SCD2 change history (operators/Events.scd2): null-safe lag
    // collapse of consecutive same-type events, lead-closed validity
    // intervals, open last interval. Epoch-micros event time, ordering
    // totalized by (us, event_id); (user_id, valid_from) is unique in
    // this data (no same-user same-ts events), so the sort is total.
    "q_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (SELECT user_id, event_id, event_type, us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev
        |  FROM ev),
        |ch AS (SELECT user_id, event_id, event_type, us FROM c
        |       WHERE prev IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type, us AS valid_from,
        |    lead(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS valid_to
        |  FROM ch)
        |SELECT user_id, event_type, valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,

    // Stream-static enrichment (streaming/Enrich.decorateStream): a
    // stream-static broadcast join keeps no state, so the AvailableNow
    // run equals this batch left join row for row.
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,

    "q_event_dedup" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000 AS us,
        |  epoch_ns(ts) // 1000000000 AS s FROM events),
        |k AS (SELECT event_id, user_id, event_type, s,
        |  lag(s) OVER (PARTITION BY user_id, event_type
        |               ORDER BY us, event_id) AS p
        |  FROM ev)
        |SELECT event_id, user_id, event_type, s AS "ts_s"
        |FROM k WHERE p IS NULL OR s - p > 60
        |ORDER BY event_id""".stripMargin,

    // Unigram log-prob: per-doc tf, corpus term counts, ln(c/n)
    // weighted by tf, decimal-accumulated mean (BM25's determinism
    // recipe).
    "q_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |tc AS (SELECT term, sum(tf) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM tc),
         |parts AS (SELECT tf.doc_id, tf.tf,
         |    ln(tc.c::DOUBLE / tot.n) * tf.tf AS p
         |  FROM tf JOIN tc USING (term) CROSS JOIN tot)
         |SELECT doc_id, sum(tf)::BIGINT AS "n_tokens",
         |  round(sum(p::DECIMAL(28,12))::DOUBLE / sum(tf), 6)
         |    AS "mean_logp"
         |FROM parts GROUP BY 1 ORDER BY 1""".stripMargin,

    // PSI drift: shared grid from the union's min/max, per-side bin
    // counts, add-1 shares over N + bins, one IEEE (pa-pb)*ln(pa/pb)
    // tree rounded to 9.
    "q_drift" ->
      """WITH a AS (SELECT n_chars FROM documents WHERE doc_id < 250),
        |b AS (SELECT n_chars FROM documents WHERE doc_id >= 250),
        |mm AS (SELECT min(n_chars)::BIGINT AS mn,
        |    ((max(n_chars) - min(n_chars)) // 12 + 1)::BIGINT AS w
        |  FROM (SELECT n_chars FROM a UNION ALL SELECT n_chars FROM b)),
        |na AS (SELECT count(*) AS n FROM a),
        |nb AS (SELECT count(*) AS n FROM b),
        |ba AS (SELECT (n_chars - mn) // w AS bin, count(*) AS n_a
        |  FROM a CROSS JOIN mm GROUP BY 1),
        |bb AS (SELECT (n_chars - mn) // w AS bin, count(*) AS n_b
        |  FROM b CROSS JOIN mm GROUP BY 1),
        |g AS (SELECT generate_series AS bin FROM generate_series(0, 11)),
        |j AS (SELECT g.bin,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM g LEFT JOIN ba ON g.bin = ba.bin
        |         LEFT JOIN bb ON g.bin = bb.bin),
        |p AS (SELECT bin, n_a, n_b,
        |    (n_a + 1)::DOUBLE / (na.n + 12) AS pa,
        |    (n_b + 1)::DOUBLE / (nb.n + 12) AS pb
        |  FROM j CROSS JOIN na CROSS JOIN nb)
        |SELECT bin::BIGINT AS "bin",
        |  (mm.mn + bin * mm.w)::BIGINT AS "lo",
        |  (mm.mn + (bin + 1) * mm.w - 1)::BIGINT AS "hi",
        |  n_a::BIGINT AS "n_a", n_b::BIGINT AS "n_b",
        |  round((pa - pb) * ln(pa / pb), 9) AS "psi"
        |FROM p CROSS JOIN mm ORDER BY bin""".stripMargin,

    // Categorical PSI: per-language counts per side, C = union's
    // distinct categories, add-1 shares over N + C, same rounded
    // (pa-pb)*ln(pa/pb) tree as q_drift. The null filter mirrors
    // Profile.categoricalDrift's `isNotNull` — without it a NULL
    // category row per side survives the FULL OUTER JOIN unmerged
    // (NULL never equi-joins), found by the seeded synthetic replay.
    "q_cat_drift" ->
      """WITH a AS (SELECT lang FROM documents
        |       WHERE doc_id < 250 AND lang IS NOT NULL),
        |b AS (SELECT lang FROM documents
        |      WHERE doc_id >= 250 AND lang IS NOT NULL),
        |ca AS (SELECT lang AS category, count(*) AS n_a
        |       FROM a GROUP BY 1),
        |cb AS (SELECT lang AS category, count(*) AS n_b
        |       FROM b GROUP BY 1),
        |j AS (SELECT coalesce(ca.category, cb.category) AS category,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        |tot AS (SELECT count(*) AS c, sum(n_a) AS na, sum(n_b) AS nb
        |        FROM j)
        |SELECT category, n_a::BIGINT AS "n_a", n_b::BIGINT AS "n_b",
        |  round(((n_a + 1)::DOUBLE / (na + c)
        |         - (n_b + 1)::DOUBLE / (nb + c)) *
        |    ln(((n_a + 1)::DOUBLE / (na + c)) /
        |       ((n_b + 1)::DOUBLE / (nb + c))), 9) AS "psi"
        |FROM j CROSS JOIN tot ORDER BY category""".stripMargin,

    // Key skew: heaviest key via (n DESC, k DESC) head, entropy via
    // ln(N) - sum(n ln n)/N with decimal-accumulated terms.
    "q_key_skew" ->
      """WITH c AS (SELECT l_partkey::VARCHAR AS k, count(*) AS n
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |t AS (SELECT k, n FROM c ORDER BY n DESC, k DESC LIMIT 1),
        |a AS (SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |    sum((n::DOUBLE * ln(n))::DECIMAL(28,12)) AS s FROM c)
        |SELECT n_rows, n_keys, t.k AS "top_key", t.n::BIGINT AS "top_n",
        |  round(t.n::DOUBLE / n_rows, 6) AS "top_share",
        |  round(ln(n_rows::DOUBLE) - s::DOUBLE / n_rows::DOUBLE, 6)
        |    AS "entropy"
        |FROM a CROSS JOIN t""".stripMargin,

    // Hashed tf-idf vectors: md5 bucketing with additive collisions,
    // decimal-accumulated bucket sums and squared norm, rounded 6.
    "q_hashed_vectors" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           WHERE doc_id < 100),
         |ex AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex
         |       GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM d),
         |b AS (SELECT doc_id,
         |    ${md5_60("term")} % 32 AS ix,
         |    sum((tf * (ln((n + 1)::DOUBLE / (df::DOUBLE + 1)) + 1))
         |        ::DECIMAL(28,12))::DOUBLE AS wraw
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn
         |  GROUP BY 1, 2),
         |nrm AS (SELECT doc_id,
         |    sqrt(sum((wraw * wraw)::DECIMAL(28,12))::DOUBLE) AS nrm
         |  FROM b GROUP BY 1)
         |SELECT doc_id, ix::BIGINT AS "ix",
         |  round(wraw / nrm, 6) AS "w"
         |FROM b JOIN nrm USING (doc_id)
         |ORDER BY doc_id, ix""".stripMargin,

    // Passage search: the q_chunk_docs windows feeding the
    // q_sparse_search derivation at dim 64, query = passage 0.
    "q_passage_search" ->
      s"""WITH d0 AS (SELECT doc_id, coalesce(text, '') AS t
         |  FROM documents WHERE doc_id < 50),
         |ncn AS (SELECT doc_id, t,
         |  greatest(ceil(greatest(length(t) - 50, 1)::DOUBLE / 150)
         |    ::BIGINT, 1) AS nc
         |  FROM d0),
         |ch AS (SELECT doc_id * 1000 + ix AS pid,
         |    substr(t, (ix * 150 + 1)::INT, 200) AS text
         |  FROM (SELECT doc_id, t,
         |          unnest(generate_series(0, nc - 1)) AS ix
         |        FROM ncn)),
         |ex AS (SELECT pid, unnest(${toks("text")}) AS term FROM ch),
         |tf AS (SELECT pid, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM ch),
         |b AS (SELECT pid,
         |    ${md5_60("term")} % 64 AS ix,
         |    sum((tf * (ln((n + 1)::DOUBLE / (df::DOUBLE + 1)) + 1))
         |        ::DECIMAL(28,12))::DOUBLE AS wraw
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn
         |  GROUP BY 1, 2),
         |nrm AS (SELECT pid,
         |    sqrt(sum((wraw * wraw)::DECIMAL(28,12))::DOUBLE) AS nrm
         |  FROM b GROUP BY 1),
         |v AS (SELECT pid, ix, round(wraw / nrm, 6) AS w
         |      FROM b JOIN nrm USING (pid)),
         |q AS (SELECT pid AS query_id, ix, w AS qw FROM v
         |      WHERE pid = 0),
         |sc AS (SELECT query_id, v.pid,
         |    round(sum((v.w * qw)::DECIMAL(28,12))::DOUBLE, 6)
         |      AS cosine
         |  FROM v JOIN q USING (ix) GROUP BY 1, 2),
         |r AS (SELECT query_id, pid, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, pid DESC)
         |      AS rn FROM sc)
         |SELECT query_id, rn::BIGINT AS "rank", cosine, pid
         |FROM r WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // Dataset card: each headline number re-derived — the q_drift PSI
    // tree summed, the coverage head, the keySkew entropy, dup rate
    // via the exact-dedup fingerprint, shares over full counts.
    "q_dataset_card" ->
      s"""WITH a AS (SELECT n_chars FROM documents WHERE doc_id < 250),
         |b AS (SELECT n_chars FROM documents WHERE doc_id >= 250),
         |mm AS (SELECT min(n_chars)::BIGINT AS mn,
         |    ((max(n_chars) - min(n_chars)) // 12 + 1)::BIGINT AS w
         |  FROM (SELECT n_chars FROM a UNION ALL SELECT n_chars FROM b)),
         |na AS (SELECT count(*) AS n FROM a),
         |nb AS (SELECT count(*) AS n FROM b),
         |ba AS (SELECT (n_chars - mn) // w AS bin, count(*) AS n_a
         |  FROM a CROSS JOIN mm GROUP BY 1),
         |bb AS (SELECT (n_chars - mn) // w AS bin, count(*) AS n_b
         |  FROM b CROSS JOIN mm GROUP BY 1),
         |j AS (SELECT coalesce(ba.bin, bb.bin) AS bin,
         |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
         |  FROM ba FULL OUTER JOIN bb ON ba.bin = bb.bin),
         |p AS (SELECT round(((n_a + 1)::DOUBLE / (na.n + 12)
         |      - (n_b + 1)::DOUBLE / (nb.n + 12)) *
         |    ln(((n_a + 1)::DOUBLE / (na.n + 12)) /
         |       ((n_b + 1)::DOUBLE / (nb.n + 12))), 9) AS psi
         |  FROM j CROSS JOIN na CROSS JOIN nb),
         |sc AS (SELECT source, count(*) AS cnt,
         |    sum(n_chars)::BIGINT AS wgt
         |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
         |tot AS (SELECT sum(wgt) AS t, sum(cnt) AS nr,
         |    sum((cnt::DOUBLE * ln(cnt))::DECIMAL(28,12)) AS s
         |  FROM sc),
         |top AS (SELECT wgt FROM sc ORDER BY wgt DESC, source DESC
         |        LIMIT 1)
         |SELECT 'en_share' AS "metric",
         |  round(sum(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
         |    / count(*), 6) AS "value"
         |FROM documents
         |UNION ALL SELECT 'exact_dup_rate',
         |  round(1.0 - count(DISTINCT md5(${norm("text")}))::DOUBLE
         |    / count(*), 6) FROM documents
         |UNION ALL SELECT 'length_drift_psi',
         |  (SELECT round(sum(psi::DECIMAL(28,12))::DOUBLE, 6) FROM p)
         |UNION ALL SELECT 'n_docs',
         |  (SELECT count(*)::DOUBLE FROM documents)
         |UNION ALL SELECT 'source_entropy',
         |  (SELECT round(ln(nr::DOUBLE) - s::DOUBLE / nr::DOUBLE, 6)
         |   FROM tot)
         |UNION ALL SELECT 'top_source_share',
         |  (SELECT round(top.wgt::DOUBLE / tot.t, 6)
         |   FROM top CROSS JOIN tot)
         |UNION ALL SELECT 'total_chars',
         |  (SELECT sum(n_chars)::DOUBLE FROM documents)
         |ORDER BY metric""".stripMargin,

    // Sparse cosine search: the hashed-vector derivation feeding an
    // inverted-index self-join on ix, decimal-accumulated dot
    // products of the ROUNDED weights, (cosine, doc_id) desc head.
    "q_sparse_search" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           WHERE doc_id < 100),
         |ex AS (SELECT doc_id, unnest(${toks("text")}) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex
         |       GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM d),
         |b AS (SELECT doc_id,
         |    ${md5_60("term")} % 32 AS ix,
         |    sum((tf * (ln((n + 1)::DOUBLE / (df::DOUBLE + 1)) + 1))
         |        ::DECIMAL(28,12))::DOUBLE AS wraw
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn
         |  GROUP BY 1, 2),
         |nrm AS (SELECT doc_id,
         |    sqrt(sum((wraw * wraw)::DECIMAL(28,12))::DOUBLE) AS nrm
         |  FROM b GROUP BY 1),
         |v AS (SELECT doc_id, ix, round(wraw / nrm, 6) AS w
         |      FROM b JOIN nrm USING (doc_id)),
         |q AS (SELECT doc_id AS query_id, ix, w AS qw FROM v
         |      WHERE doc_id < 5),
         |sc AS (SELECT query_id, v.doc_id,
         |    round(sum((v.w * qw)::DECIMAL(28,12))::DOUBLE, 6)
         |      AS cosine
         |  FROM v JOIN q USING (ix) GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, doc_id DESC)
         |      AS rn FROM sc)
         |SELECT query_id, rn::BIGINT AS "rank", cosine, doc_id
         |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // Log-odds classifier: retrain (per-class token counts, add-1 over
    // the joint vocabulary, rounded to 9) and rescore (tf-weighted
    // decimal-accumulated mean, unknown terms take the 0/0 default).
    "q_logodds" ->
      s"""WITH pt AS (SELECT unnest(${toks("text")}) AS term
         |  FROM documents WHERE lang = 'en'),
         |nt AS (SELECT unnest(${toks("text")}) AS term
         |  FROM documents WHERE lang != 'en'),
         |ca AS (SELECT term, count(*) AS ca FROM pt GROUP BY 1),
         |cb AS (SELECT term, count(*) AS cb FROM nt GROUP BY 1),
         |j AS (SELECT coalesce(ca.term, cb.term) AS term,
         |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         |st AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v
         |       FROM j),
         |model AS (SELECT term,
         |    round(ln((ca + 1)::DOUBLE / (na + v))
         |      - ln((cb + 1)::DOUBLE / (nb + v)), 9) AS lo
         |  FROM j CROSS JOIN st),
         |dflt AS (SELECT round(ln(1::DOUBLE / (na + v))
         |    - ln(1::DOUBLE / (nb + v)), 9) AS d FROM st),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${toks("text")}) AS term
         |        FROM documents)
         |  GROUP BY 1, 2)
         |SELECT doc_id, sum(tf)::BIGINT AS "n_tokens",
         |  round(sum((coalesce(lo, d) * tf)::DECIMAL(28,12))::DOUBLE
         |    / sum(tf), 6) AS "score"
         |FROM tf LEFT JOIN model USING (term) CROSS JOIN dflt
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Equi-depth quartiles: nearest-rank thresholds at ceil(i*n/4)
    // from cumulative counts, then the first-match CASE.
    "q_equidepth" ->
      """WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents
        |  WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cs FROM h),
        |nn AS (SELECT count(*) AS n FROM documents
        |       WHERE n_chars IS NOT NULL),
        |t1 AS (SELECT min(v) AS t FROM cum, nn
        |  WHERE cs >= greatest(ceil(0.25 * n), 1)),
        |t2 AS (SELECT min(v) AS t FROM cum, nn
        |  WHERE cs >= greatest(ceil(0.5 * n), 1)),
        |t3 AS (SELECT min(v) AS t FROM cum, nn
        |  WHERE cs >= greatest(ceil(0.75 * n), 1))
        |SELECT doc_id, n_chars,
        |  (CASE WHEN n_chars IS NULL THEN NULL
        |        WHEN n_chars <= t1.t THEN 0
        |        WHEN n_chars <= t2.t THEN 1
        |        WHEN n_chars <= t3.t THEN 2
        |        ELSE 3 END)::BIGINT AS "bucket"
        |FROM documents CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN t3
        |ORDER BY doc_id""".stripMargin,

    // Source coverage: heaviest-first window with (weight, source)
    // desc ties, shares rounded against the collected total.
    "q_source_coverage" ->
      """WITH s AS (SELECT source, count(*) AS n_rows,
        |    sum(n_chars)::BIGINT AS n_weight
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |tot AS (SELECT sum(n_weight) AS t FROM s)
        |SELECT row_number() OVER (ORDER BY n_weight DESC, source DESC)
        |    ::BIGINT AS "rank",
        |  source, n_rows::BIGINT AS "n_rows", n_weight,
        |  round(n_weight::DOUBLE / t, 6) AS "share",
        |  round((sum(n_weight) OVER (ORDER BY n_weight DESC, source DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |    / t, 6) AS "cum_share"
        |FROM s CROSS JOIN tot ORDER BY 1""".stripMargin,

    // k-anonymity: pure counting, so the oracle is a HAVING clause.
    "q_kanon" ->
      """SELECT lang, source, count(*)::BIGINT AS "n_rows"
        |FROM documents GROUP BY 1, 2 HAVING count(*) < 4
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,

    // Shuffle shards: ':shuffle'-salted 60-bit hash, shard = h % 8,
    // per-shard row_number over (h, id), shard-offset prefix sum.
    "q_shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${md5_60("doc_id::VARCHAR || ':shuffle'")} AS h
         |  FROM documents),
         |sh AS (SELECT doc_id, h, h % 8 AS shard FROM h),
         |p AS (SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |      AS pos
         |  FROM sh),
         |cnt AS (SELECT shard, count(*) AS n FROM sh GROUP BY 1),
         |off AS (SELECT shard, coalesce(sum(n) OVER (ORDER BY shard
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |  FROM cnt)
         |SELECT doc_id, p.shard::BIGINT AS "shard", pos::BIGINT AS "pos",
         |  (o + pos - 1)::BIGINT AS "global_pos"
         |FROM p JOIN off ON p.shard = off.shard
         |ORDER BY doc_id""".stripMargin,

    // RRF hybrid retrieval: the q_bm25 stack headed to 50, the
    // q_ann_brute cosine stack for query vector 0 headed to 50, then
    // sum(1/(60+rank)) decimal-accumulated and re-ranked.
    "q_rrf_fusion" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS len FROM ex GROUP BY 1),
         |st AS (SELECT count(*) AS n, avg(len) AS avglen FROM dl),
         |qt AS (SELECT DISTINCT unnest(t[1:5]) AS term FROM tok
         |       WHERE doc_id = 0),
         |dft AS (SELECT term, count(*) AS df
         |        FROM tf JOIN qt USING (term) GROUP BY 1),
         |parts AS (
         |  SELECT tf.doc_id,
         |    ln((st.n - dft.df + 0.5) / (dft.df + 0.5) + 1) *
         |    (tf.tf * (1.25 + 1)) /
         |    (tf.tf + 1.25 * ((1 - 0.75) + 0.75 * dl.len / st.avglen))
         |      AS part
         |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
         |       JOIN dl USING (doc_id) CROSS JOIN st),
         |sc AS (SELECT doc_id,
         |         round(sum(part::DECIMAL(28,12))::DOUBLE, 6) AS score
         |       FROM parts GROUP BY 1),
         |lex AS (SELECT doc_id, rn AS r FROM (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM sc) WHERE rn <= 50),
         |vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM vec WHERE vec_id = 0),
         |cs AS (SELECT vec_id, round(${cosSql("qv", "v")}, 6) AS cos
         |       FROM vec CROSS JOIN q),
         |sem AS (SELECT vec_id AS doc_id, rn AS r FROM (SELECT vec_id,
         |    row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
         |  FROM cs) WHERE rn <= 50),
         |uni AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
         |fused AS (SELECT doc_id, count(*) AS n_lists,
         |    min(r) AS best_rank,
         |    round(sum((1.0 / (60.0 + r::DOUBLE))::DECIMAL(28,12))
         |          ::DOUBLE, 9) AS rrf
         |  FROM uni GROUP BY 1)
         |SELECT doc_id, n_lists::BIGINT AS "n_lists",
         |  best_rank::BIGINT AS "best_rank", rrf, rn::BIGINT AS "rank"
         |FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id)
         |        AS rn
         |      FROM fused)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin,

    // MAD gate: median and MAD of an integer column are exact dyadic
    // rationals (quantile_cont midpoints) — the comparison needs no
    // tolerance on either engine.
    "q_mad_outliers" ->
      """WITH m AS (SELECT quantile_cont(n_chars, 0.5) AS med
        |  FROM documents),
        |d AS (SELECT quantile_cont(abs(n_chars - m.med), 0.5) AS mad
        |  FROM documents CROSS JOIN m)
        |SELECT doc_id, n_chars FROM documents CROSS JOIN m CROSS JOIN d
        |WHERE abs(n_chars - m.med) <= 3.0 * d.mad
        |ORDER BY doc_id""".stripMargin,

    // Equi-width histogram: integer width (max-min)/bins+1, truncating
    // bin division, inclusive lo/hi — all BIGINT, engine-exact.
    "q_histogram" ->
      """WITH mm AS (SELECT min(n_chars)::BIGINT AS mn,
        |    ((max(n_chars) - min(n_chars)) // 12 + 1)::BIGINT AS w
        |  FROM documents)
        |SELECT ((n_chars - mn) // w)::BIGINT AS "bin",
        |  (mn + ((n_chars - mn) // w) * w)::BIGINT AS "lo",
        |  (mn + ((n_chars - mn) // w + 1) * w - 1)::BIGINT AS "hi",
        |  count(*)::BIGINT AS "n"
        |FROM documents CROSS JOIN mm
        |WHERE n_chars IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    // Bigram log-prob: same add-1-smoothed model both sides — bigrams
    // via adjacent-slot concat (== the 2-shingle kernel), context
    // counts from first-of-pair, V over the >=2-token corpus, decimal
    // accumulation.
    "q_bigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t
         |  FROM documents),
         |t2 AS (SELECT doc_id, t FROM tok WHERE len(t) >= 2),
         |vv AS (SELECT count(DISTINCT term) AS v FROM
         |  (SELECT unnest(t) AS term FROM t2)),
         |bg AS (SELECT doc_id, t[u.i] || ' ' || t[u.i + 1] AS bg
         |  FROM t2, LATERAL unnest(generate_series(1, len(t) - 1))
         |    AS u(i)),
         |bf AS (SELECT doc_id, bg, count(*) AS bf FROM bg GROUP BY 1, 2),
         |bc AS (SELECT bg, sum(bf) AS c_ab FROM bf GROUP BY 1),
         |cc AS (SELECT split_part(bg, ' ', 1) AS a, sum(c_ab) AS c_a
         |  FROM bc GROUP BY 1),
         |parts AS (SELECT bf.doc_id, bf.bf,
         |    ln((bc.c_ab + 1)::DOUBLE / (cc.c_a + vv.v)::DOUBLE) * bf.bf
         |      AS p
         |  FROM bf JOIN bc USING (bg)
         |  JOIN cc ON cc.a = split_part(bf.bg, ' ', 1)
         |  CROSS JOIN vv)
         |SELECT doc_id, sum(bf)::BIGINT AS "n_bigrams",
         |  round(sum(p::DECIMAL(28,12))::DOUBLE / sum(bf), 6)
         |    AS "mean_logp"
         |FROM parts GROUP BY 1 ORDER BY 1""".stripMargin,

    // Percentile length band: same nearest-rank cumulative-histogram
    // thresholds as Curation.rankBounds (rank = ceil(q*n), min 1).
    "q_length_filter" ->
      """WITH h AS (SELECT n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cs FROM h),
        |n AS (SELECT count(*) AS n FROM documents),
        |lo AS (SELECT min(v) AS lo FROM cum, n
        |  WHERE cs >= greatest(ceil(0.05 * n), 1)),
        |hi AS (SELECT min(v) AS hi FROM cum, n
        |  WHERE cs >= greatest(ceil(0.95 * n), 1))
        |SELECT doc_id, n_chars FROM documents, lo, hi
        |WHERE n_chars >= lo AND n_chars <= hi
        |ORDER BY doc_id""".stripMargin
  )
}
