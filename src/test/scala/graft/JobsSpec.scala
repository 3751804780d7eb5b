package graft

import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.JobConfig
import graft.etl.Ops
import graft.io.{Readers, StateTable, Writers}
import graft.jobs.Jobs
import graft.schema.Schemas

/** Golden end-to-end test of the full job dataflow: read -> split ->
  * explode -> decorate -> assemble -> [fan out] -> [delta] -> stamp ->
  * write -> state, against a reference-shaped jobRoot layout.
  */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixtures(root: String): Unit = {
    // Batch inference output: 2 ok with recs, 1 ok with null recs, 1 error.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p2"]}}""",
      """{"input":{"itemId":"i3"},"output":{"recommendedItems":null}}""",
      """{"input":{"itemId":"i4"},"error":"SIMULATED"}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    // User-item mapping: i1 -> two users (fan-out), i2/i3 -> one.
    Seq(("u1", "i1"), ("u2", "i1"), ("u1", "i2"), ("u3", "i3"))
      .toDF("USER_ID", "ITEM_ID").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .csv(s"$root/input/user_item_mapping")
    // Item metadata for p1 only: p2 is a decorate miss.
    Seq("""{"id":"p1","brand":"B1","price":"9.99"}""").toDF("value")
      .coalesce(1).write.mode("overwrite")
      .text(s"$root/input/item_metadata")
  }

  /** The reference's related-items order (`related_items_etl.py:159-172`,
    * then `:202-214`): join the mapping first, explode carrying the user,
    * then decorate and assemble once per (item, user). `Jobs.assemble`
    * assembles once per item and fans out afterwards; the differential
    * tests below compare the two.
    */
  private def mapUsersFirst(ok: DataFrame, mapping: DataFrame,
      meta: Option[DataFrame], fields: Seq[String]): DataFrame = {
    val exploded = Ops.explodeRecs(Ops.mapUsers(ok, mapping), "input.itemId",
      "queryItemId", Seq("USER_ID" -> "userId"))
    Ops.assembleRecommendations(Ops.decorate(exploded, meta, fields),
      Seq("queryItemId", "userId"))
  }

  private def config(root: String, delta: Boolean) = JobConfig.parse(
    s"""{"batchInferencePath": "$root/input/batch",
       |"performDeltaCheck": $delta,
       |"saveBatchInferenceErrors": true,
       |"connectors": {"braze": {"itemMetadataFields": ["brand"],
       |  "attributePrefix": "rec_",
       |  "otherAttributes": {"country": "US"}}}}""".stripMargin)

  test("related-items job end-to-end: layout, decoration, stamping") {
    val root = tmpDir("job")
    writeFixtures(root)
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val result = Jobs.run(spark, Jobs.RelatedItems, root, "ri_job",
      config(root, delta = false), clock)

    // Errors written to the run-partitioned errors dir.
    assert(result.errorsDir.exists(_.endsWith(
      "errors/related_items/year=2024/month=01/day=02/time=030405")))
    assert(spark.read.json(result.errorsDir.get).count() == 1)

    // Connector output: one row per (queryItemId, userId) group.
    val out = result.connectors.head
    assert(out.outputDir.endsWith(
      "output/braze/year=2024/month=01/day=02/time=030405"))
    val df = spark.read.json(out.outputDir)
    assert(out.rowsWritten == 4) // (i1,u1)(i1,u2)(i2,u1)(i3,u3)
    // Decoration: p1 carries brand B1, p2 exists with null brand (miss).
    val i1u1 = df.where(col("queryItemId") === "i1" && col("userId") === "u1")
      .select(explode(col("recommendations")).as("r"))
      .select("r.itemId", "r.brand").orderBy("itemId").collect()
    assert(i1u1.map(_.getString(0)).toSeq == Seq("p1", "p2"))
    assert(i1u1(0).getString(1) == "B1" && i1u1(1).isNullAt(1))
    // Null-rec parent keeps an empty recommendations array.
    assert(df.where(col("queryItemId") === "i3")
      .select(size(col("recommendations"))).as[Int].collect().head == 0)
    // Stamps.
    val stamp = df.select("jobInfo.name", "jobInfo.runDateTime",
      "syncDirectives.attributePrefix", "syncDirectives.country")
      .distinct().collect()
    assert(stamp.toSeq == Seq(
      org.apache.spark.sql.Row("ri_job", "2024-01-02T03:04:05.000",
        "rec_", "US")))
  }

  test("related-items output equals the map-users-first formulation") {
    val root = tmpDir("jobdiff")
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      // two batch lines for i2
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p3","p1"]}}""",
      """{"input":{"itemId":"i3"},"output":{"recommendedItems":null}}""",
      """{"input":{"itemId":"i4"},"output":{"recommendedItems":[]}}""",
      """{"input":{"itemId":"i5"},"error":"SIMULATED"}""",
      // no mapping rows for i6
      """{"input":{"itemId":"i6"},"output":{"recommendedItems":["p1"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    // (u1,i1) listed twice, an empty USER_ID twice for i1 and once for
    // i2, and i9 mapped with no batch line.
    Seq("USER_ID,ITEM_ID", "u1,i1", "u2,i1", "u1,i1", ",i1", ",i1",
      "u1,i2", "u3,i2", ",i2", "u3,i3", "u4,i4", "u5,i9")
      .toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/user_item_mapping")
    // p2 is a decorate miss.
    Seq("""{"id":"p1","brand":"B1","price":"9.99"}""",
      """{"id":"p3","brand":"B3","price":"1.50"}""").toDF("value")
      .coalesce(1).write.mode("overwrite")
      .text(s"$root/input/item_metadata")
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"brand": {"itemMetadataFields": ["brand"],
         |  "attributePrefix": "rec_", "otherAttributes": {"c": "US"}},
         |  "all": {}}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val result = Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock)

    val (ok, _) = Ops.splitErrors(Readers.jsonl(spark,
      s"$root/input/batch", Schemas.relatedItemsBatchInference))
    val mapping = Readers.csv(spark, s"$root/input/user_item_mapping",
      Schemas.userItemMapping)
    val meta = Readers.jsonlInferIfExists(spark, s"$root/input/item_metadata")
    for (out <- result.connectors) {
      val cc = cfg.connectors(out.connector)
      val old = mapUsersFirst(ok, mapping, meta, cc.itemMetadataFields)
      val oldDir = Writers.connectorOutput(
        Ops.stampJobInfo(old, "j", Jobs.runDateTimeFmt.format(clock),
          Some((cc.attributePrefix, cc.otherAttributes))),
        s"$root/old_output", out.connector, clock)
      val got = spark.read.text(out.outputDir)
      val want = spark.read.text(oldDir)
      // (i1,u1) (i1,u2) (i1,null) (i2,u1) (i2,u3) (i2,null) (i3,u3) (i4,u4)
      assert(out.rowsWritten == 8 && want.count() == 8)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"${out.connector}: Jobs.run output differs from the old order")
    }
    val i1u1 = spark.read.json(result.connectors.head.outputDir)
      .where(col("queryItemId") === "i1" && col("userId") === "u1")
      .select(col("recommendations.itemId")).as[Seq[String]].collect()
    assert(i1u1.toSeq == Seq(Seq("p1", "p1", "p2", "p2")))
  }

  test("riPipeline equals the map-users-first formulation on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val (ok, _) = Ops.splitErrors(Queries.riBatch(spark, dir))
    val old = mapUsersFirst(ok, Queries.riMapping(spark, dir),
      Some(Queries.partMetadata(spark, dir)), Seq("p_brand"))
    val want = Queries.flattenRecs(old, Seq("queryItemId", "userId"))
      .withColumn("jobName", lit("related_items_job"))
      .withColumn("runDateTime", lit(Queries.RunTs))
    val got = Queries.riPipeline(spark, dir)
    assert(!got.isEmpty)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "riPipeline differs from the map-users-first formulation")
  }

  test("delta check across runs: second unchanged run emits zero rows") {
    val root = tmpDir("jobdelta")
    writeFixtures(root)
    val cfg = config(root, delta = true)
    val r1 = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    assert(r1.connectors.head.rowsWritten == 4) // no state yet: full sync
    val r2 = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, 2, 0, 0, 0))
    assert(r2.connectors.head.rowsWritten == 0) // nothing changed
    // State still holds the full snapshot after the empty delta run.
    assert(spark.read.json(s"$root/output/braze/state").count() == 4)
  }

  test("keyed state format: O(delta) syncs with upserts and tombstones") {
    val root = tmpDir("jobkeyed")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"performDeltaCheck": true,
         |"stateFormat": "keyed",
         |"connectors": {"braze": {"itemMetadataFields": ["brand"]}}}"""
        .stripMargin)
    def runAt(day: Int) = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, day, 0, 0, 0))

    assert(runAt(1).connectors.head.rowsWritten == 4) // cold: full sync

    // i2's recs change, i3 disappears, i1 untouched.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p9"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    assert(runAt(2).connectors.head.rowsWritten == 1) // only (i2,u1)

    // Current state = i1's two rows + updated i2; i3 tombstoned out.
    val stateDir = s"$root/output/braze/state_keyed"
    val st = graft.io.StateTable.readLatest(spark, stateDir,
      Seq("queryItemId", "userId"))
    assert(st.count() == 3)
    assert(st.where(col("queryItemId") === "i3").count() == 0)

    // i3 reappears with its original payload: the tombstone (not some
    // stale row) is what the delta compares against, so it re-emits.
    writeFixtures(root)
    assert(runAt(3).connectors.head.rowsWritten == 2) // i3 back, i2 revert
    assert(graft.io.StateTable.versions(spark, stateDir).size == 3)
  }

  test("keyed state WITHOUT delta check still tombstones removed keys") {
    val root = tmpDir("jobkeyednodelta")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"performDeltaCheck": false,
         |"stateFormat": "keyed",
         |"connectors": {"braze": {"itemMetadataFields": ["brand"]}}}"""
        .stripMargin)
    def runAt(day: Int) = Jobs.run(spark, Jobs.RelatedItems, root, "j",
      cfg, LocalDateTime.of(2024, 1, day, 0, 0, 0))

    assert(runAt(1).connectors.head.rowsWritten == 4)

    // i3 disappears from the source; with the check off, every sync is a
    // full snapshot — but state must still DROP the vanished key, exactly
    // as the snapshot format (wholesale rewrite) would.
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1","p2"]}}""",
      """{"input":{"itemId":"i2"},"output":{"recommendedItems":["p2"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    assert(runAt(2).connectors.head.rowsWritten == 3) // full re-sync

    val st = graft.io.StateTable.readLatest(spark,
      s"$root/output/braze/state_keyed", Seq("queryItemId", "userId"))
    assert(st.count() == 3)
    assert(st.where(col("queryItemId") === "i3").count() == 0)
    // The unchanged keys already hold their payload: the second version
    // is the tombstone alone.
    val v1 = spark.read.parquet(s"$root/output/braze/state_keyed/v=1")
    assert(v1.count() == 1)
    assert(v1.where(col("queryItemId") === "i3" && col(StateTable.DeletedCol))
      .count() == 1)
  }

  private def writeBatch(root: String, lines: Seq[String]): Unit =
    lines.toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")

  private def deltaConfig(root: String, format: String) = JobConfig.parse(
    s"""{"batchInferencePath": "$root/input/batch",
       |"performDeltaCheck": true, "stateFormat": "$format",
       |"connectors": {"braze": {}}}""".stripMargin)

  test("a null key matches its state row in both state formats") {
    for (format <- Seq("snapshot", "keyed")) {
      val root = tmpDir(s"jobnullkey$format")
      writeBatch(root, Seq(
        """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1"]}}"""))
      // i1 maps to u1 and to an empty USER_ID, which reads as null
      Seq("USER_ID,ITEM_ID", "u1,i1", ",i1").toDF("value").coalesce(1)
        .write.mode("overwrite").text(s"$root/input/user_item_mapping")
      val written = (1 to 4).map(day => Jobs.run(spark, Jobs.RelatedItems,
        root, "j", deltaConfig(root, format),
        LocalDateTime.of(2024, 1, day, 0, 0, 0)).connectors.head.rowsWritten)
      assert(written == Seq(2L, 0L, 0L, 0L), s"$format rowsWritten")
      if (format == "keyed")
        assert(StateTable.readLatest(spark, s"$root/output/braze/state_keyed",
          Jobs.RelatedItems.groupKeys).count() == 2)
    }
  }

  test("keyed state equals the snapshot format's EXCEPT over a sequence") {
    val (keyedRoot, snapRoot) = (tmpDir("jobdiffkeyed"), tmpDir("jobdiffsnap"))
    def line(item: String, recs: String*) =
      s"""{"input":{"itemId":"$item"},"output":{"recommendedItems":[""" +
        recs.map(r => s""""$r"""").mkString(",") + "]}}"
    // Empty USER_IDs (null keys) for i1 and i4.
    for (root <- Seq(keyedRoot, snapRoot))
      Seq("USER_ID,ITEM_ID", "u1,i1", "u2,i1", ",i1", "u1,i2", "u3,i3",
        ",i4", "u4,i4").toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/user_item_mapping")
    val batches = Seq(
      Seq(line("i1", "p1", "p2"), line("i2", "p2"), line("i3", "p3")),
      // i1 changed, i3 departed, i4 new (with a null user)
      Seq(line("i1", "p2", "p1"), line("i2", "p2"), line("i4", "p4")),
      // i2 departed, i3 reappears unchanged, i4 changed
      Seq(line("i1", "p2", "p1"), line("i3", "p3"), line("i4", "p5")),
      // i1 back to its first list, i2 reappears
      Seq(line("i1", "p1", "p2"), line("i2", "p2"), line("i3", "p3"),
        line("i4", "p5")),
      // nothing changed
      Seq(line("i1", "p1", "p2"), line("i2", "p2"), line("i3", "p3"),
        line("i4", "p5")))
    val sorted = (df: DataFrame) => df.select(df.columns.sorted.map(col): _*)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val snapStateDir = s"$snapRoot/output/braze/state"
    def snapStateLines(): Seq[String] =
      if (!Readers.pathExists(spark, snapStateDir)) Nil
      else spark.read.text(snapStateDir).as[String].collect().toSeq
    val written = batches.zipWithIndex.map { case (batch, i) =>
      val clock = LocalDateTime.of(2024, 1, i + 1, 0, 0, 0)
      val stateBefore = snapStateLines()
      val Seq(keyed, snap) = Seq(keyedRoot -> "keyed", snapRoot -> "snapshot")
        .map { case (root, format) =>
          writeBatch(root, batch)
          Jobs.run(spark, Jobs.RelatedItems, root, "j",
            deltaConfig(root, format), clock).connectors.head
        }
      assert(keyed.rowsWritten == snap.rowsWritten, s"run ${i + 1}")
      if (snap.rowsWritten > 0) {
        assert(same(sorted(spark.read.json(keyed.outputDir)),
          sorted(spark.read.json(snap.outputDir))), s"run ${i + 1} output")
        // the same lines, byte for byte: one column order in both formats
        assert(same(spark.read.text(keyed.outputDir),
          spark.read.text(snap.outputDir)), s"run ${i + 1} output lines")
      }
      val latest = sorted(StateTable.readLatest(spark,
        s"$keyedRoot/output/braze/state_keyed", Jobs.RelatedItems.groupKeys))
      val snapState = sorted(Readers.jsonl(spark, snapStateDir,
        latest.schema))
      assert(same(latest, snapState), s"run ${i + 1} state")
      // The reference's delta, EXCEPT of this snapshot against the last
      // one, is the oracle for the rows the snapshot format sends.
      val parse = (lines: Seq[String]) =>
        spark.read.schema(latest.schema).json(lines.toDS())
      val oracle = Ops.deltaCheck(snapState, parse(stateBefore))
      assert(oracle.count() == snap.rowsWritten, s"run ${i + 1} EXCEPT rows")
      if (snap.rowsWritten > 0)
        assert(same(spark.read.schema(oracle.schema).json(snap.outputDir),
          oracle), s"run ${i + 1} output = EXCEPT")
      snap.rowsWritten
    }
    // i1 x 3 + i2 + i3; i1 x 3 changed + i4 x 2 new; i3 back + i4 x 2
    // changed; i1 x 3 changed back + i2 back; nothing
    assert(written == Seq(5L, 5L, 3L, 4L, 0L))
  }

  test("a keyed resync with the delta check reads its state once") {
    val users = 1000
    val root = tmpDir("jobstatescan")
    def batch(changed: String) = writeBatch(root, (1 to users).map(i =>
      s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":""" +
        s"""["a$i","${if (i == 1) changed else s"b$i"}"]}}"""))
    def cfg(delta: Boolean, writeState: Boolean) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"performDeltaCheck": $delta, "writeStateAfterSync": $writeState,
         |"stateFormat": "keyed", "connectors": {"braze": {}}}""".stripMargin)
    def runAt(day: Int, c: JobConfig) = Jobs.run(spark,
      Jobs.UserPersonalization, root, "j", c,
      LocalDateTime.of(2024, 1, day, 0, 0, 0))
    batch("b1")
    runAt(1, cfg(delta = true, writeState = true)) // primes the state
    batch("c1")
    // The same sync without touching the state: no delta check, no append.
    val noState = recordsReadDuring(
      runAt(2, cfg(delta = false, writeState = false)))
    val resync = recordsReadDuring(
      assert(runAt(3, cfg(delta = true, writeState = true))
        .connectors.head.rowsWritten == 1))
    val stateReads = resync - noState
    assert(stateReads < (users * 1.5).toLong,
      s"keyed resync read $stateReads state records for $users live rows")
  }

  /** Runs `body` with `listener` registered, then polls the async
    * listener bus until `acc`, which the listener feeds, goes quiet.
    */
  private def countedDuring(acc: AtomicLong, listener: SparkListener)(
      body: => Unit): Long = {
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var prev = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = acc.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      acc.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Total external+cached records read by tasks while `body` runs. */
  private def recordsReadDuring(body: => Unit): Long = {
    val acc = new AtomicLong
    countedDuring(acc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    })(body)
  }

  /** Spark jobs submitted while `body` runs. */
  private def jobsDuring(body: => Unit): Long = {
    val acc = new AtomicLong
    countedDuring(acc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        acc.incrementAndGet()
    })(body)
  }

  test("a sync submits a pinned number of Spark jobs") {
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    // Related-items, two field lists, snapshot state, one error record.
    val ri = (1 to 3).map { i =>
      val root = tmpDir(s"jobcountri$i")
      writeFixtures(root)
      val cfg = JobConfig.parse(
        s"""{"batchInferencePath": "$root/input/batch",
           |"connectors": {"a": {"itemMetadataFields": ["brand"]},
           |  "b": {"itemMetadataFields": ["price"]}}}""".stripMargin)
      jobsDuring(Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock))
    }
    // User-personalization, keyed state with the delta check: a cold run,
    // then a resync against its state with one changed user.
    val up = (1 to 3).map { i =>
      val root = tmpDir(s"jobcountup$i")
      val cfgs = Seq("p1", "p2").map { u2 =>
        Seq(
          """{"input":{"userId":"u1"},"output":{"recommendedItems":["p1"]}}""",
          s"""{"input":{"userId":"u2"},"output":{"recommendedItems":["$u2"]}}""")
          .toDF("value").coalesce(1).write.mode("overwrite")
          .text(s"$root/input/batch_$u2")
        JobConfig.parse(
          s"""{"batchInferencePath": "$root/input/batch_$u2",
             |"performDeltaCheck": true, "stateFormat": "keyed",
             |"connectors": {"braze": {}}}""".stripMargin)
      }
      jobsDuring(cfgs.zipWithIndex.foreach { case (cfg, day) =>
        Jobs.run(spark, Jobs.UserPersonalization, root, "j", cfg,
          clock.plusDays(day))
      })
    }
    // A change that adds a job (an extra scan, an eager count, a cache
    // materialized twice) moves these counts.
    assert(ri == Seq.fill(3)(17L), s"related-items sync jobs: $ri")
    assert(up == Seq.fill(3)(15L), s"keyed resync jobs: $up")
  }

  test("connector loop shares ONE scan of the batch input across connectors") {
    // Sizeable input so a per-connector re-scan would be visible in the
    // task input metrics: 500 users, 2 recs each.
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      (1 to 500).map(i =>
        s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":["a$i","b$i"]}}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      root
    }
    def cfg(root: String, connectors: String) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {$connectors}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val root1 = fixture("share1")
    val rr1 = recordsReadDuring {
      Jobs.run(spark, Jobs.UserPersonalization, root1, "j",
        cfg(root1, """"a": {}"""), clock)
    }
    val root2 = fixture("share2")
    val rr2 = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, root2, "j",
        cfg(root2, """"a": {}, "b": {}"""), clock)
      assert(r.connectors.map(_.rowsWritten) == Seq(500L, 500L))
    }
    // The second connector must reuse the persisted upstream: it may read
    // the (small) cached assembled frame again, but NOT re-scan the batch
    // input and rebuild the chain — which would roughly double the reads.
    assert(rr2 < (rr1 * 1.6).toLong,
      s"two-connector run read $rr2 records vs $rr1 for one connector")
  }

  test("related-items connectors share ONE scan of the user-item mapping") {
    // 500 items x 4 users: a per-field-list re-read of the mapping CSV
    // would add 2000 records to the second connector's reads.
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      (1 to 500).map(i =>
        s"""{"input":{"itemId":"i$i"},"output":{"recommendedItems":["a$i","b$i"]}}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      (for (i <- 1 to 500; u <- 1 to 4) yield (s"u$u", s"i$i"))
        .toDF("USER_ID", "ITEM_ID").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$root/input/user_item_mapping")
      (1 to 50).map(i => s"""{"id":"a$i","brand":"B$i","price":"$i"}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/item_metadata")
      root
    }
    def cfg(root: String, connectors: String) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {$connectors}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val root1 = fixture("mapshare1")
    val rr1 = recordsReadDuring {
      Jobs.run(spark, Jobs.RelatedItems, root1, "j",
        cfg(root1, """"a": {"itemMetadataFields": ["brand"]}"""), clock)
    }
    val root2 = fixture("mapshare2")
    val rr2 = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.RelatedItems, root2, "j",
        cfg(root2, """"a": {"itemMetadataFields": ["brand"]},
          |"b": {"itemMetadataFields": ["price"]}""".stripMargin), clock)
      assert(r.connectors.map(_.rowsWritten) == Seq(2000L, 2000L))
    }
    assert(rr2 < (rr1 * 1.6).toLong,
      s"two-connector run read $rr2 records vs $rr1 for one connector")
  }

  test("errors gate adds no input scan on a clean (zero-errors) run") {
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      (1 to 500).map(i =>
        s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":["a$i","b$i"]}}""")
        .toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      root
    }
    def cfg(root: String, save: Boolean) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": $save,
         |"connectors": {"a": {}}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val rootOff = fixture("errgateoff")
    val rrOff = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, rootOff, "j",
        cfg(rootOff, save = false), clock)
      assert(r.errorsDir.isEmpty)
    }
    val rootOn = fixture("errgateon")
    val rrOn = recordsReadDuring {
      val r = Jobs.run(spark, Jobs.UserPersonalization, rootOn, "j",
        cfg(rootOn, save = true), clock)
      assert(r.errorsDir.isEmpty)
    }
    // The emptiness gate runs over the pinned parsed batch, so its pass
    // fills the cache the connector then reads: enabling the errors sink
    // on a clean run must NOT re-scan the batch input. A gate over the
    // unpinned input would re-read all 500 records to prove emptiness.
    assert(rrOn < rrOff + 250,
      s"clean run with errors sink enabled read $rrOn records vs $rrOff " +
        "with it disabled — the emptiness gate is scanning the input")
  }

  test("a sync with error records reads its batch input once") {
    // 500 good lines and 50 error lines: a second pass over the input for
    // the errors write would add all 550 records to the reads.
    def fixture(tag: String): String = {
      val root = tmpDir(tag)
      val good = (1 to 500).map(i =>
        s"""{"input":{"userId":"u$i"},"output":{"recommendedItems":["a$i"]}}""")
      val bad = (1 to 50).map(i => s"""{"input":{"userId":"e$i"},"error":"E$i"}""")
      (good ++ bad).toDF("value").coalesce(1).write.mode("overwrite")
        .text(s"$root/input/batch")
      root
    }
    def cfg(root: String, save: Boolean) = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": $save,
         |"connectors": {"a": {}}}""".stripMargin)
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

    val rootOff = fixture("errscanoff")
    val rrOff = recordsReadDuring {
      Jobs.run(spark, Jobs.UserPersonalization, rootOff, "j",
        cfg(rootOff, save = false), clock)
    }
    val rootOn = fixture("errscanon")
    var errorsDir: Option[String] = None
    val rrOn = recordsReadDuring {
      errorsDir = Jobs.run(spark, Jobs.UserPersonalization, rootOn, "j",
        cfg(rootOn, save = true), clock).errorsDir
    }
    assert(spark.read.json(errorsDir.get).count() == 50)
    assert(rrOn < rrOff + 275,
      s"sync with the errors sink read $rrOn records vs $rrOff without " +
        "it — the errors write is scanning the batch input again")
  }

  test("errors survive a mid-loop connector failure") {
    // Two connectors, sorted "a" then "zz_broken"; a plain FILE squats on
    // zz_broken's output dir so its write throws AFTER connector "a"
    // succeeded. The error records — the diagnostics for debugging the
    // crashed run — must already be on disk (reference writes errors
    // before any connector send, related_items_etl.py:114-132).
    val root = tmpDir("joberrmid")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": true,
         |"connectors": {"a": {}, "zz_broken": {}}}""".stripMargin)
    new java.io.File(s"$root/output").mkdirs()
    assert(new java.io.File(s"$root/output/zz_broken").createNewFile())
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    intercept[Exception] {
      Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock)
    }
    val errDir =
      s"$root/errors/related_items/year=2024/month=01/day=02/time=030405"
    assert(spark.read.json(errDir).count() == 1,
      "mid-loop connector failure lost the error records")
  }

  test("errors survive a failure of the FIRST connector write") {
    // The only connector write fails: the errors write, which runs
    // before the connector loop, must already have landed.
    val root = tmpDir("joberrfirst")
    writeFixtures(root)
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"saveBatchInferenceErrors": true,
         |"connectors": {"only": {}}}""".stripMargin)
    new java.io.File(s"$root/output").mkdirs()
    assert(new java.io.File(s"$root/output/only").createNewFile())
    val clock = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    intercept[Exception] {
      Jobs.run(spark, Jobs.RelatedItems, root, "j", cfg, clock)
    }
    val errDir =
      s"$root/errors/related_items/year=2024/month=01/day=02/time=030405"
    assert(spark.read.json(errDir).count() == 1,
      "first-connector failure lost the error records")
  }

  test("an unparseable batch line goes to errors with its raw text") {
    val root = tmpDir("jobmalformed")
    val bad = """{"input":"""
    writeBatch(root, Seq(
      """{"input":{"userId":"u1"},"output":{"recommendedItems":["p1"]}}""",
      """{"input":{"userId":"u2"},"output":{"recommendedItems":["p2"]}}""",
      bad))
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"braze": {}}}""".stripMargin)
    val r = Jobs.run(spark, Jobs.UserPersonalization, root, "up", cfg,
      LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    assert(r.connectors.head.rowsWritten == 2)
    val errs = spark.read.json(r.errorsDir.get)
    assert(errs.select("rawLine").as[String].collect().toSeq == Seq(bad))
  }

  test("user-personalization spec: no mapping, keyed by queryUserId") {
    val root = tmpDir("jobup")
    Seq(
      """{"input":{"userId":"u1"},"output":{"recommendedItems":["p1"]}}""",
      """{"input":{"userId":"u2"},"output":{"recommendedItems":["p1","p2"]}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite")
      .text(s"$root/input/batch")
    val cfg = JobConfig.parse(
      s"""{"batchInferencePath": "$root/input/batch",
         |"connectors": {"braze": {}}}""".stripMargin)
    val result = Jobs.run(spark, Jobs.UserPersonalization, root, "up",
      cfg, LocalDateTime.of(2024, 1, 1, 0, 0, 0))
    val df = spark.read.json(result.connectors.head.outputDir)
    assert(result.connectors.head.rowsWritten == 2)
    assert(df.columns.contains("queryUserId"))
    assert(df.where(col("queryUserId") === "u2")
      .select(size(col("recommendations"))).as[Int].collect().head == 2)
  }
}
