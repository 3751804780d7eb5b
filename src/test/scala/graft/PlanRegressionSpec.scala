package graft

/** Plan-shape regression tests: the scale-critical physical-plan
  * properties (broadcasts on dimension sides, key-equi-joins only in
  * bucketed candidate generation, filters pushed to the parquet scan)
  * asserted as invariants, so a refactor that silently degrades a plan
  * to a cartesian product or a full-corpus shuffle fails CI rather than
  * surfacing as a 100x regression on a real cluster.
  */
class PlanRegressionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    planString(SparkEntry.queries(name)(spark, sfDir))

  /** Bucketed candidate generation must never degenerate into an
    * all-pairs comparison: no cartesian product, no nested-loop join.
    */
  for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_embed_neardup",
      "q_ann_lsh", "q_ann_ivf", "q_ngram_jaccard", "q_char_jaccard",
      "q_neardup_against", "q_neardup_indexed", "q_hard_negatives_ann",
      "q_dedup_groups_star", "q_jaccard_join"))
    test(s"$q: candidate generation is equi-join only") {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }

  test("q_jaccard_join: hashed prefilter present, payload joins never sort the pair stream") {
    val p = plan("q_jaccard_join")
    // stage-1 scores candidates on xxhash64-compressed shingle sets —
    // losing it restores the x100 payload cliff (full string arrays
    // through every verify join; see Dedup.jaccardJoin's staging note)
    assert(p.contains("xxhash64"), "hashed-shingle prefilter missing")
    // the payload sides are hinted SHUFFLE_HASH: a sort-merge payload
    // join sorts the O(candidates) array-carrying stream — measured as
    // pure spill (disk-full) at x100 before the hint
    assert(p.contains("ShuffledHashJoin"),
      "payload joins lost the shuffle_hash hint")
  }

  test("q_mixture_sample: corpus expansion joins by broadcast, never shuffles the corpus") {
    val p = plan("q_mixture_sample")
    // the per-source epochs rate (O(sources) rows) must broadcast to
    // the corpus — a shuffled corpus-side join here is a 100 TB
    // regression. The water-filling subtree's SortMergeJoin FullOuter
    // over per-source aggregates is deliberate and tiny.
    assert(p.contains("BroadcastHashJoin"),
      "expansion join lost the broadcast")
    assert(!p.contains("CartesianProduct"), "cartesian in mixture")
  }

  test("q_ann_brute: corpus side streams, only the query set broadcasts") {
    val p = plan("q_ann_brute")
    // brute force IS a deliberate all-pairs scan — but the corpus must
    // stay partition-local; only the (tiny) query set may broadcast.
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_ri_pipeline: dimension joins broadcast, filters reach the scan") {
    val p = plan("q_ri_pipeline")
    assert(!p.contains("CartesianProduct"))
    // the metadata decorate join resolves to a broadcast hash join
    // (dimension side is small), so the big exploded side never shuffles
    // for it. The mapping join is the fan-out after per-item assembly
    // (`Jobs.assemble`), left unhinted for AQE.
    assert(p.contains("BroadcastHashJoin"))
    // the qty<48 rec filter is pushed into the lineitem parquet scan
    assert(p.contains("PushedFilters: [") &&
      p.contains("LessThan(l_quantity"), "qty filter not pushed to scan")
  }

  test("q_join_mapusers: mapping join needs no cartesian or nested loop") {
    val p = plan("q_join_mapusers")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_assemble_groupby: assembly is a single-shuffle aggregate") {
    val p = plan("q_assemble_groupby")
    // one hash exchange for the groupBy (+ the final orderBy range
    // exchange); a window/max formulation would add a second sort+shuffle
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(p).length
    assert(hashExchanges <= 2, s"$hashExchanges hash exchanges:\n$p")
  }

  test("q_bucketed_join: co-located join is exchange-free") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sfDir)
    val p = planString(df)
    assert(p.contains("SortMergeJoin"))
    // both sides are bucketed on the join key: the join itself must not
    // repartition (the final orderBy's range exchange is the only one)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join shuffled:\n$p")
  }

  test("q_asof_join: the union+window shape contains no join at all") {
    val p = plan("q_asof_join")
    // the as-of decoration is one keyed window pass — any Join operator
    // here means the formulation regressed to a range join
    assert(!p.contains("Join"), s"join operator appeared:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  /** The hot-entity-safe variants exist so no window partitions on the
    * bare user key: every Window's partition spec must carry a second
    * dimension (time bucket / chunk / session), or the hot key
    * re-serializes — exactly the regression these shapes ship to
    * prevent. Also: no cartesian/nested-loop from the carry joins.
    */
  for (q <- Seq("q_sessionize_bucketed", "q_session_prefixes_bucketed",
      "q_asof_join_bucketed"))
    test(s"$q: no event-volume window partitioned by the bare user key") {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
      // the event-carrying windows key on (user_id, __bkt)/(user_id,
      // __chunk) — two partition columns before the order spec. A
      // window whose SECOND element already carries ASC/DESC is
      // partitioned by the bare user key; the only such window allowed
      // is the per-bucket summary carry, recognizable by its __bkt
      // ordering (one row per bucket, never event volume).
      val userWindows = "windowspecdefinition\\(user_id#\\d+L?, ([^,]+)".r
        .findAllMatchIn(p).toList
      assert(userWindows.nonEmpty,
        s"$q: no user-keyed window found — the pin went vacuous")
      for (m <- userWindows) {
        val second = m.group(1)
        val isOrderSpec =
          second.contains(" ASC") || second.contains(" DESC")
        assert(!isOrderSpec || second.startsWith("__bkt"),
          s"$q: event window partitioned by bare user key " +
            s"(order spec `$second`):\n${m.matched}")
      }
    }

  test("q_partition_pruned: the year filter prunes at the directory level") {
    val df = SparkEntry.queries("q_partition_pruned")(spark, sfDir)
    val p = planString(df)
    assert(p.contains("PartitionFilters: [") && p.contains("o_year"),
      s"partition filter missing:\n$p")
    // the filter must NOT degrade to a post-scan data filter
    assert(!p.contains("PartitionFilters: []"), "no pruning happened")
  }

  test("q_topk_group: two aggregate phases, no window sort") {
    val p = plan("q_topk_group")
    // the salted shape is aggregate->aggregate; a window regression
    // would show a per-key sort + rangepartitioning before the filter
    assert(!p.contains("RunningWindowFunction"), s"window appeared:\n$p")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r
      .findAllMatchIn(p).length >= 2)
  }

  test("q_salted_join / q_hash_split: no cartesian, no stray shuffle") {
    assert(!plan("q_salted_join").contains("CartesianProduct"))
    val p = plan("q_hash_split")
    // split assignment is a pure projection: only the presentation
    // orderBy may exchange
    assert(!p.contains("Exchange hashpartitioning"), s"shuffled:\n$p")
  }

  test("q_embed_meanpool: pooling sums are partial/final, never buffered") {
    val p = plan("q_embed_meanpool")
    // the (group, dim) mean must be a map-side-combinable HashAggregate
    // over a decimal sum — an ObjectHashAggregate holding a collect_list
    // of group members would OOM a hot-cluster rollup at scale. The ONLY
    // allowed collect_list is the final dim-reassembly (bounded at `dim`
    // entries per group).
    assert("partial_sum|partial sum|Partial.*sum".r.findFirstIn(p).isDefined
      || p.contains("sum(cast(v"), s"no partial decimal sum:\n$p")
    assert("collect_list".r.findAllMatchIn(p).length <= 2,
      s"group members buffered in an aggregate:\n$p")
  }

  test("q_topk_bounded: one exchange, heap aggregate, no window sort") {
    val p = plan("q_topk_bounded")
    assert(p.contains("bounded_top_k"), s"custom aggregate missing:\n$p")
    assert(!p.contains("RunningWindowFunction"), s"window appeared:\n$p")
    assert(!p.contains("collect_list"),
      s"unbounded collect_list buffer reappeared:\n$p")
    // one hash exchange for the groupBy + the presentation orderBy range
    // exchange — the salted shape's second aggregate pair must not return
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).length == 1,
      s"extra exchange:\n$p")
  }

  test("q_dedup_simhash: sketch subtrees are cached, not recomputed") {
    // The cache knob pins the sketch + banded frames for the span of the
    // plan; losing it silently re-derives the per-token hashing 3x
    // (census + both self-join sides).
    val p = plan("q_dedup_simhash")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQuery"),
      s"no cached subtree in q_dedup_simhash:\n$p")
  }

  test("q_attribution: interval join is key-equi with a range residual") {
    // The view->conversion interval join must hash/merge on user_id with
    // the time bounds as a join residual — a formulation that loses the
    // equi key degenerates to a nested-loop over all (view, conversion)
    // pairs per batch.
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
    assert(p.contains("EqualTo(event_type,view"),
      s"side filter not pushed to scan:\n$p")
  }

  test("q_profile: one scan, melt keys hash-aggregate, never Expand") {
    // The profile must be ONE pass over the input (VERDICT r11): one
    // parquet scan feeding the melted (idx, value) aggregate — not a
    // union of per-column scans (N jobs / N decode passes) and not the
    // Expand plan Catalyst emits for one wide agg with N exact
    // count-distincts (full-width rows replicated N+1 times into a
    // SortAggregate — measured 2x slower at sf0.1).
    val p = plan("q_profile")
    assert(!p.contains("Expand"), s"Expand reappeared:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 scan, got $scans:\n$p")
    // the one scan reads only the profiled columns (file order)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string,o_orderdate:"),
      s"profiled-column pruning lost:\n$p")
    // the melt keys hash-aggregate (the distinct count's heavy phase);
    // only the final idx-grouped rollup may sort, and it runs over the
    // already-distinct (small) table
    assert(p.contains("HashAggregate(keys=[idx"),
      s"melt aggregate not hash-based:\n$p")
  }

  test("q_bm25: corpus never shuffles against the query side") {
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // query terms + their dfs broadcast; corpus-side tf/len aggregate
    assert(p.contains("BroadcastExchange"), s"no broadcast in bm25:\n$p")
  }

  test("q_contamination: benchmark side broadcasts, equi-join only") {
    val p = plan("q_contamination")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), s"shingle join degraded:\n$p")
  }

  test("q_delta_keyed: keyed delta joins on the key, not the payload") {
    val p = plan("q_delta_keyed")
    assert(!p.contains("CartesianProduct"))
    // payload comparison happens via xxhash64 columns, never by shuffling
    // the array<struct> payload as a join key
    assert(p.contains("xxhash64"))
  }

  test("q_unigram_logprob: Zipf-skewed term join broadcasts, never shuffles tf") {
    val p = plan("q_unigram_logprob")
    // a shuffle join on term piles every "the" row on one reducer;
    // the vocabulary table must broadcast instead
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_event_dedup / q_incremental_dedup: no cartesian, no nested loop") {
    for (q <- Seq("q_event_dedup", "q_incremental_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
    }
  }

  test("q_chunk_docs: chunking is a per-row Generate, no data shuffle") {
    val p = plan("q_chunk_docs")
    assert(p.contains("Generate"), p.take(400)) // the explode
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    assert(!p.contains("Window"))
  }

  test("q_length_filter: thresholds are literals, the band filter reaches the scan") {
    val p = plan("q_length_filter")
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    assert(p.contains("DataFilters: [isnotnull(n_chars"), p.take(600))
  }

  test("q_curation_pipeline: the composed chain stays equi-join only") {
    val p = plan("q_curation_pipeline")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_keep_best: keeper is a struct-min aggregate, never a window sort") {
    val p = plan("q_keep_best")
    // a row_number() formulation would sort every cluster on one
    // reducer; the struct-min shape (min over (score-is-null,
    // -score, id) — r12's id-type-generic tie order) is a running
    // minimum with MAP-SIDE PARTIALS (partial_min before the group-key
    // exchange), immune to a million-member cluster. Struct ordering
    // forces SortAggregate — the sort is per-partition by group key,
    // not per-cluster by score.
    assert(!p.contains("Window"), p.take(400))
    assert(p.contains("partial_min"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_stratified_sample: the keep predicate is a scan-side filter, no shuffle") {
    val p = plan("q_stratified_sample")
    // per-stratum sampling is a per-row predicate evaluated AT the
    // scan (DataFilters carries the md5 expression); the only exchange
    // allowed is the presentation sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    assert(!p.contains("Window"))
    // the salted-md5 keep predicate itself reaches the scan (concat
    // absorbs the null check, so no isnotnull precedes it)
    assert("""DataFilters: \[.{0,160}md5""".r.findFirstIn(p).isDefined,
      p.take(600))
  }

  test("q_tfidf: tf and df collapse before their term join, no cartesian") {
    val p = plan("q_tfidf")
    // the term join must carry one row per distinct (doc, term) /
    // (term) — i.e. both sides aggregate (with map-side partials)
    // below the join — never raw exploded tokens
    assert(p.contains("partial_count"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window")) // head comes from salted top-k, not row_number
  }

  test("q_bigram_logprob: model joins broadcast, Zipf keys never shuffle-join") {
    val p = plan("q_bigram_logprob")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_session_prefixes: the window chain reuses one user-key shuffle") {
    val p = plan("q_session_prefixes")
    // sessionize's lag/sum windows and the prefix window all run off
    // hash(user) — ClusteredDistribution(user, session) is satisfied
    // by the coarser key, so only the partition exchange and the
    // presentation sort's range exchange may appear
    val exchanges = "(?m)Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_fuzzy_join: signature-gram equi-join carries the long path, no cartesian") {
    val p = plan("q_fuzzy_join")
    // the only nested-loop allowed is the short-string fallback (a
    // broadcast pass over a tiny bounded set); the long path must be
    // a hash join on signature grams
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("levenshtein"), p.take(400)) // exact verify present
  }

  test("q_dup_passages: fingerprint-key self-join only, no cartesian") {
    val p = plan("q_dup_passages")
    // candidate generation must stay bucketed on the (fp, id) short
    // keys — an all-pairs comparison would be a CartesianProduct or a
    // BroadcastNestedLoopJoin
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoop"), p.take(400))
  }

  test("q_dedup_bloom: bloom probe at the scan, anti-join only for positives") {
    val p = plan("q_dedup_bloom")
    // the codegen'd prefilter must appear as a plain Filter predicate
    // (not a UDF) and the exact verification as a LeftAnti hash join;
    // bloom-negative rows bypass the join via the union branch
    assert(p.contains("bloom_might_contain"), p.take(600))
    assert(p.contains("LeftAnti"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("q_seq_pack: one shuffle to streams, running-frame window, no sort spill trap") {
    val p = plan("q_seq_pack")
    // exactly one exchange: the partition-by-stream; the prefix sum is
    // a running frame over it (the final orderBy is the test harness's
    // presentation sort, which AQE plans as a range exchange — allow 2)
    val exchanges = "(?m)Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges in q_seq_pack:\n" +
      p.take(600))
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_shuffle_shards: per-shard windows, offsets broadcast back") {
    val p = plan("q_shuffle_shards")
    // the shard-count offsets table re-enters via broadcast — the
    // corpus-sized side must never shuffle for that join
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("ScalaUDF"))
  }

  test("q_budget_select: per-bucket windows, offsets broadcast, no global window") {
    val p = plan("q_budget_select")
    // the corpus-sized running sum must window per score bucket; an
    // unpartitioned window over the full input is the one-reducer sort
    // this operator exists to avoid. The only single-partition window
    // allowed is the one over the tiny per-bucket offsets table, which
    // re-enters via broadcast.
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("Window"))
    val specs = "windowspecdefinition\\(([^,)]+)".r
      .findAllMatchIn(p).toList
    assert(specs.nonEmpty, p.take(600))
    for (m <- specs) {
      val first = m.group(1)
      // a first element already carrying ASC/DESC means NO partition
      // columns — only the tiny offsets window (ordered by __bkt) may
      // be shaped that way
      val isOrderSpec = first.contains(" ASC") || first.contains(" DESC")
      assert(!isOrderSpec || first.startsWith("__bkt"),
        s"corpus-sized window lost its bucket partitioning " +
          s"(spec head `$first`):\n${m.matched}")
    }
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("ScalaUDF"))
  }

  test("q_semantic_dedup: cell-key self-join only, assignment is codegen'd") {
    val p = plan("q_semantic_dedup")
    // pair generation must key on the cell — never an all-pairs scan —
    // and centroid assignment is a plain projection (no UDF)
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("ScalaUDF"))
  }

  test("q_zvalue / q_rrf_fusion: pure codegen projections, no UDFs") {
    for (q <- Seq("q_zvalue", "q_rrf_fusion")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"UDF in $q")
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
    }
  }

  test("q_sparse_search / q_logodds: bucket/vocab equi-joins only, no all-pairs") {
    for (q <- Seq("q_sparse_search", "q_logodds")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in $q")
      assert(!p.contains("ScalaUDF"), s"UDF in $q")
    }
  }

  test("round-20 operators: decontaminate broadcasts the eval set; " +
      "BPE stays UDF-free codegen") {
    // decontaminate: the eval shingle-hash set is the broadcast side —
    // a shuffle of the Zipf-skewed corpus shingles by key would be the
    // 100 TB regression this pin guards against
    val pd = plan("q_decontaminate")
    assert(pd.contains("BroadcastHashJoin"), pd.take(600))
    assert(!pd.contains("ScalaUDF"), "UDF in decontaminate")
    assert(!pd.contains("CartesianProduct"))
    // bpe apply/train surfaces: native expressions, never UDFs;
    // q_bpe_tokens is projection-only (its single exchange is the
    // display orderBy)
    for (q <- Seq("q_bpe_tokens", "q_budget_select_bpe",
        "q_token_percentiles_bpe")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"UDF in $q")
      assert(p.contains("bpe_segment") || p.contains("BpeSegment") ||
        p.contains("bpesegment"), s"native expression missing in $q")
    }
    val pb = plan("q_bpe_tokens")
    assert("Exchange".r.findAllIn(pb).size <= 1,
      s"q_bpe_tokens grew a shuffle beyond the display sort:\n$pb")
  }

  test("round-20 second wave: eval/CF/BFS plans stay equi-join + " +
      "window-limit shaped") {
    // item-CF: the user-key self-join and the support joins are all
    // equi-joins (an all-pairs fallback here is THE item-CF scale
    // cliff), and the per-item top-N is WindowGroupLimit-prunable so
    // the rank exchange moves O(items x N) rows, not every pair
    val pcf = plan("q_item_cf")
    assert(!pcf.contains("CartesianProduct"), "cartesian in q_item_cf")
    assert(!pcf.contains("BroadcastNestedLoopJoin"),
      "nested loop in q_item_cf")
    assert(pcf.contains("WindowGroupLimit"),
      "top-N window lost its group-limit pruning")
    // rank metrics: the only data-sized join (recs x truth) must stay
    // an equi hash/merge join; the cutoff fan-out is a deliberate
    // broadcast of the tiny k table, so nested-loop IS expected —
    // cartesian of two data-sized sides is not
    val prm = plan("q_rank_metrics")
    assert(!prm.contains("CartesianProduct"), "cartesian in q_rank_metrics")
    // IPS: the policy table joins by broadcast (context-space-sized
    // dimension); shuffling the log against it would be the regression
    val pips = plan("q_ips_eval")
    assert(pips.contains("BroadcastHashJoin"),
      "policy join lost its broadcast")
    assert(!pips.contains("CartesianProduct"), "cartesian in q_ips_eval")
    // BFS: every hop is a keyed equi-join of edges x distances
    val pbfs = plan("q_graph_bfs")
    assert(!pbfs.contains("CartesianProduct"), "cartesian in q_graph_bfs")
    assert(!pbfs.contains("BroadcastNestedLoopJoin"),
      "nested loop in q_graph_bfs")
    // compaction: the packing window must stay partitioned by the
    // table-partition key — losing it silently serializes the whole
    // manifest through one partition
    val pcp = plan("q_compaction_plan")
    assert(pcp.contains("hashpartitioning(source"),
      s"packing window lost its source partitioning:\n${pcp.take(600)}")
  }

  test("q_dataset_card: text scanned once, aggregates read the cached " +
      "narrow frame") {
    val p = plan("q_dataset_card")
    // the wide `text` column is scanned once, into the persisted narrow
    // frame; the five metric subtrees each read an InMemoryTableScan of
    // it (the plan string reprints the one cached child scan under each
    // of the five cache reads, so text-scan mentions <= cache reads).
    // Un-cached regression = six independent wide scans, zero
    // InMemoryTableScans — what this pin guards against.
    val imts = "InMemoryTableScan".r.findAllIn(p).size
    val textScans = "ReadSchema:[^\\n]*text".r.findAllIn(p).size
    assert(imts >= 5, s"expected >=5 cached reads, got $imts")
    assert(textScans <= imts,
      s"$textScans text scans exceed $imts cached reads — text is " +
        "being re-scanned outside the derived frame")
  }
}
