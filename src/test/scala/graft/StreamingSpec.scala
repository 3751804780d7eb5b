package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured-Streaming semantics of the event operators: the same
  * windowed aggregation as the batch shape, under a watermark, with
  * append-mode emission of only CLOSED windows.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  test("windowed agg under watermark emits only closed windows (append)") {
    val dir = tmpDir("stream")
    // File 1: events in hour 0. File 2: events 10 hours later — its
    // arrival advances the watermark past hour 0, closing those windows.
    Seq("""{"user_id":1,"ts":"2024-01-01T00:10:00.000Z","value":1.0}""",
      """{"user_id":2,"ts":"2024-01-01T00:40:00.000Z","value":2.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"user_id":1,"ts":"2024-01-01T10:00:00.000Z","value":5.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")

    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .json(s"$dir/in")
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName("win_agg")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("win_agg")
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // Hour-0 window closed (watermark reached 09:00) and emitted once;
    // the hour-10 window is still open, so append mode holds it back.
    assert(out.toSeq == Seq(("00:00", 2L, 3.0)))
  }

  test("drift monitor: null metrics drop, score emits the full grid") {
    import graft.streaming.DriftMonitor
    // windowedBins on a batch frame (watermark is a no-op in batch):
    // the null-valued row must not form a (window, NULL-bin) count
    // (ADVICE r10)
    val src = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), Some(5.0)),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), None),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), Some(35.0))
    ).toDF("user_id", "ts", "value")
    val wb = DriftMonitor.windowedBins(src, "ts", "value", "1 hour",
      "0 seconds", mn = 0L, binWidth = 10L)
    assert(wb.where(col("bin").isNull).isEmpty)
    assert(wb.agg(sum("n")).as[Long].head() == 2L) // null row excluded
    // score fills the unoccupied grid bins with n = 0 and scores them
    // (full-grid PSI, ADVICE r10): bins 0 and 3 occupied, 1 and 2 not
    val baseline = Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 5L))
      .toDF("bin", "n_base")
    val scored = DriftMonitor.score(wb, baseline, bins = 4)
      .orderBy("bin")
      .select("bin", "n", "psi").as[(Long, Long, Double)].collect()
    assert(scored.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val empties = scored.filter(_._2 == 0L)
    // window share 1/6 vs baseline share 6/24: unequal -> nonzero psi
    assert(empties.map(_._1).toSeq == Seq(1L, 2L) &&
      empties.forall(_._3 != 0.0))

    // Out-of-grid occupancy clamps into the edge bins (ADVICE r11):
    // a value past the baseline's max (bin 9 on a 4-bin grid) and one
    // below mn (bin -1) must fold into bins 3 and 0 — counted in the
    // window's shares as edge drift, never emitted as undefined rows.
    val wild = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 95.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), -10.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 15.0)
    ).toDF("user_id", "ts", "value")
    val wbWild = DriftMonitor.windowedBins(wild, "ts", "value",
      "1 hour", "0 seconds", mn = 0L, binWidth = 10L)
    assert(wbWild.select("bin").as[Long].collect().toSet ==
      Set(-1L, 1L, 9L))
    val sWild = DriftMonitor.score(wbWild, baseline, bins = 4)
      .orderBy("bin").select("bin", "n").as[(Long, Long)].collect()
    assert(sWild.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(sWild.toSeq == Seq((0L, 1L), (1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("stateful sessionizer closes sessions by gap and by timeout") {
    import graft.streaming.{SessionEvent, Sessionizer}
    val dir = tmpDir("sess")
    // User 1: two events 5 min apart (one session), then one event
    // 2 hours later (second session). User 2: one event. File 2's
    // late-hour event advances the watermark far enough to time out
    // and flush every open session.
    Seq(
      """{"user_id":1,"ts":"2024-01-01T00:00:00.000Z","event_id":1}""",
      """{"user_id":1,"ts":"2024-01-01T00:05:00.000Z","event_id":2}""",
      """{"user_id":1,"ts":"2024-01-01T02:05:00.000Z","event_id":3}""",
      """{"user_id":2,"ts":"2024-01-01T00:30:00.000Z","event_id":4}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"user_id":9,"ts":"2024-01-02T00:00:00.000Z","event_id":9}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")

    val evSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_id", LongType)))
    val src = spark.readStream.schema(evSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").json(s"$dir/in")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("userId"), col("ts"),
        (unix_timestamp(col("ts"))).as("tsSec"),
        col("event_id").as("eventId"))
      .as[SessionEvent]
    val q = Sessionizer.sessionize(src, gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.table("sessions")
      .orderBy("userId", "sessionSeq")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 300L),  // gap-closed: 2 events, 5 min duration
      (1L, 2L, 1L, 0L),    // timeout-flushed second session
      (2L, 1L, 1L, 0L)))   // timeout-flushed single-event session
    // User 9's session stays OPEN: the final watermark never passes its
    // lastTs+gap, so append mode correctly withholds it for a next run.
  }

  test("late rows behind the watermark are dropped") {
    val dir = tmpDir("late")
    // File sink: supports checkpoint recovery across runs (memory sink
    // does not), so the second run resumes the first run's watermark.
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").json(s"$dir/in")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "HH:mm").as("ws"), col("n"))
        .writeStream.format("json").option("path", s"$dir/out")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq("""{"user_id":1,"ts":"2024-01-01T00:10:00.000Z","value":1.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"user_id":1,"ts":"2024-01-01T10:00:00.000Z","value":5.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    runOnce() // watermark ends at 09:00; hour-0 window closed, emitted
    // File 3 arrives with hour-0 data — behind the checkpointed
    // watermark, so it must be dropped, not re-open the closed window.
    Seq("""{"user_id":9,"ts":"2024-01-01T00:20:00.000Z","value":9.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f3")
    runOnce()
    val out = spark.read.json(s"$dir/out")
      .select("ws", "n").collect().map(r => (r.getString(0), r.getLong(1)))
    // Exactly the run-1 emission; the late row changed nothing.
    assert(out.toSeq == Seq(("00:00", 1L)))
  }

  test("stream-stream interval join emits view->purchase attributions") {
    val dir = tmpDir("ssjoin")
    val evSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("kind", StringType),
      StructField("event_id", LongType)))
    // user 1: view v1 then purchase p1 20 min later (attributed);
    // user 2: purchase p2 with no view inside the hour (dropped by the
    // inner interval join); a late view outside the window never joins.
    Seq(
      """{"user_id":1,"ts":"2024-01-01T00:00:00.000Z","kind":"view","event_id":10}""",
      """{"user_id":1,"ts":"2024-01-01T00:20:00.000Z","kind":"purchase","event_id":11}""",
      """{"user_id":2,"ts":"2024-01-01T02:00:00.000Z","kind":"purchase","event_id":20}""",
      """{"user_id":2,"ts":"2024-01-01T05:00:00.000Z","kind":"view","event_id":21}""",
      """{"user_id":9,"ts":"2024-01-01T12:00:00.000Z","kind":"view","event_id":90}"""
    ).toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    val src = spark.readStream.schema(evSchema)
      .option("recursiveFileLookup", "true").json(s"$dir/in")
    val views = src.where(col("kind") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val purchases = src.where(col("kind") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    // attribution: purchase within [view_ts, view_ts + 1 hour]
    val joined = graft.streaming.Attribution.viewConversionJoin(
      views, "user_id", "view_ts", purchases, "p_user", "p_ts",
      windowSpec = "1 HOUR", delay = "2 hours")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("ssjoin").select("view_id", "purchase_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 11L)))
  }

  test("streaming dedup drops in-watermark duplicate content") {
    import graft.streaming.StreamingDedup
    val dir = tmpDir("sdedup")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    // Batch 1: two distinct docs. Batch 2 (separate micro-batch): a
    // duplicate of doc 1 modulo case/whitespace, plus a fresh doc.
    Seq("""{"doc_id":1,"ts":"2024-01-01T00:00:00.000Z","text":"Hello  World"}""",
      """{"doc_id":2,"ts":"2024-01-01T00:01:00.000Z","text":"other"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"doc_id":3,"ts":"2024-01-01T00:02:00.000Z","text":"hello world"}""",
      """{"doc_id":4,"ts":"2024-01-01T00:03:00.000Z","text":"fresh"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val src = spark.readStream.schema(docSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").json(s"$dir/in")
    val q = StreamingDedup.dedupByContent(src, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("sdedup").select("doc_id").as[Long]
      .collect().toSet
    // doc 3 deduped against doc 1's fingerprint held in streaming state
    assert(ids == Set(1L, 2L, 4L))
  }

  test("streaming minhash equals batch banding on event-time order (batch mode)") {
    import graft.streaming.StreamingDedup
    import graft.functions.{HashFunctions => H, TextFunctions => T}
    // Differential pin: on a BATCH frame (flatMapGroupsWithState runs
    // batch too; watermark 0, lease never expires) the per-doc flag
    // must equal ground truth computed straight from the same band
    // expressions — dup(d) iff some strictly (ts, id)-earlier doc
    // shares >= 1 band. Twins planted at +100 with one trailing word
    // dropped; ids 5/6 share text AND timestamp, so the docId
    // tie-break decides: 5 original, 6 dup.
    val base = Seq(
      (1L, 0L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, 10L, "one two three four five six seven eight nine ten"),
      (3L, 20L, "red orange yellow green blue indigo violet pink"),
      (5L, 30L, "north south east west up down left right center mid"),
      (6L, 30L, "north south east west up down left right center mid"))
    val twins = base.take(3).map { case (i, ts, t) =>
      (i + 100, ts + 100, t.split(" ").dropRight(1).mkString(" ")) }
    val df = (base ++ twins).toDF("doc_id", "tsl", "text")
      .withColumn("ts", timestamp_seconds(col("tsl"))).drop("tsl")
    val out = StreamingDedup.nearDupByMinhash(df, "doc_id", "text",
        "ts", ttlMs = 3600000L, shingleWidth = 3, numHashes = 32,
        bands = 16)
      .toDF().groupBy("docId").agg(max("dup").as("dup"))
    val got = out.as[(Long, Boolean)].collect().toMap
    // ground truth from the identical band expressions, batch-joined
    val banded = df.select(col("doc_id"),
      unix_micros(col("ts")).as("us"),
      explode(H.bandKeys(H.minhashSignature(
        H.wordShingles(T.tokens(col("text")), 3), 32), 16, 2)).as("b"))
    val expected = banded.alias("a").join(banded.alias("l"),
        col("a.b") === col("l.b") &&
          (col("l.us") < col("a.us") ||
            (col("l.us") === col("a.us") &&
              col("l.doc_id") < col("a.doc_id"))))
      .select(col("a.doc_id")).distinct()
      .as[Long].collect().toSet
    assert(got.size == base.size + twins.size)
    assert(got.filter(_._2).keySet == expected,
      s"flag mismatch: got ${got.filter(_._2).keySet}, want $expected")
    // the planted structure itself: twins + the tie-break loser are
    // dup, the originals are not (fails loudly if the fixture ever
    // degenerates into accidental cross-collisions)
    assert(expected == Set(101L, 102L, 103L, 6L))
  }

  test("streaming minhash: cross-batch flag, partner id, lease expiry") {
    import graft.streaming.StreamingDedup
    val dir = tmpDir("sminhash")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textA2 = "the quick brown fox jumps over the lazy dog"   // near-dup
    val other = "completely different words about storage engines here"
    // f1 @T0: original A + unrelated B. f2 @T0+30m: near-dup of A —
    // inside the 1 h lease, must flag with A as partner. f3 @T0+5h:
    // watermark pusher. f4 @T0+6h: another near-dup of A — the lease
    // (last band activity T0+30m + 1 h) expired long before, so it
    // re-emits as FRESH (the bounded-state trade, enforced by the
    // read-side lease check even where the data-less timeout batch
    // never ran for its bands).
    Seq(s"""{"doc_id":1,"ts":"2024-01-01T00:00:00.000Z","text":"$textA"}""",
      s"""{"doc_id":2,"ts":"2024-01-01T00:00:00.000Z","text":"$other"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq(s"""{"doc_id":3,"ts":"2024-01-01T00:30:00.000Z","text":"$textA2"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    Seq(s"""{"doc_id":4,"ts":"2024-01-01T05:00:00.000Z","text":"totally unrelated sentence pushing the watermark forward now"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f3")
    Seq(s"""{"doc_id":5,"ts":"2024-01-01T06:00:00.000Z","text":"$textA2"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f4")
    val src = spark.readStream.schema(docSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").json(s"$dir/in")
      .withWatermark("ts", "1 hour")
    val q = StreamingDedup.nearDupByMinhash(src, "doc_id", "text", "ts",
        ttlMs = 3600000L)
      .toDF().writeStream.format("memory").queryName("sminhash_spec")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val verdicts = spark.table("sminhash_spec")
      .groupBy("docId").agg(max("dup").as("dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(!verdicts(1L) && !verdicts(2L) && !verdicts(4L))
    assert(verdicts(3L), "in-lease near-dup not flagged across batches")
    assert(!verdicts(5L),
      "doc past the state lease still flagged — lease check broken")
    // every flagged band of doc 3 names doc 1 as the band's original
    val partners = spark.table("sminhash_spec")
      .where(col("docId") === 3L && col("dup"))
      .select("partnerId").as[Long].collect().toSet
    assert(partners == Set(1L), s"wrong partner(s): $partners")
  }

  test("streaming minhash: a straggler far behind the watermark " +
      "degrades to fresh instead of crashing the query") {
    import graft.streaming.StreamingDedup
    val dir = tmpDir("sminhash_late")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("text", StringType)))
    // ADVICE r18: flatMapGroupsWithState never drops late rows, so a
    // straggler more than ttl older than the watermark computes a
    // lease timeout BELOW the watermark — setTimeoutTimestamp throws
    // IllegalArgumentException for that, which (uncaught) killed the
    // whole query on ONE late event. The fix clamps the timeout to
    // wm+1: the straggler processes, its band memory expires at the
    // next watermark advance, the query lives.
    // f1 @T0+10h drives the watermark to ~T0+9h; f2 is a straggler at
    // T0 — 9 h behind, far past the 1 h ttl.
    Seq(s"""{"doc_id":1,"ts":"2024-01-01T10:00:00.000Z","text":"completely different words about storage engines here"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq(s"""{"doc_id":2,"ts":"2024-01-01T00:00:00.000Z","text":"the quick brown fox jumps over the lazy dog tonight"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val src = spark.readStream.schema(docSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").json(s"$dir/in")
      .withWatermark("ts", "1 hour")
    val q = StreamingDedup.nearDupByMinhash(src, "doc_id", "text", "ts",
        ttlMs = 3600000L)
      .toDF().writeStream.format("memory").queryName("sminhash_late")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination() // pre-fix: StreamingQueryException (IAE) here
    val verdicts = spark.table("sminhash_late")
      .groupBy("docId").agg(max("dup").as("dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(verdicts.keySet == Set(1L, 2L))
    assert(!verdicts(2L), "a straggler with no prior band must be fresh")
  }

  test("left-outer interval join: eviction emits unconverted views") {
    import graft.streaming.Attribution
    val dir = tmpDir("outerj")
    // user 1 converts inside the 1-day window; user 2 never converts;
    // user 3 converts OUTSIDE the window. The null rows for 2 and 3
    // can only be emitted when the watermark passes the end of their
    // join windows — which the file-2 sentinels (both stream sides,
    // 10 days later) force before the stream drains.
    Seq(
      """{"event_id":10,"user_id":1,"ts":"2024-01-01T00:00:00.000Z","event_type":"view"}""",
      """{"event_id":11,"user_id":1,"ts":"2024-01-01T05:00:00.000Z","event_type":"purchase"}""",
      """{"event_id":20,"user_id":2,"ts":"2024-01-01T00:00:00.000Z","event_type":"view"}""",
      """{"event_id":30,"user_id":3,"ts":"2024-01-01T00:00:00.000Z","event_type":"view"}""",
      """{"event_id":31,"user_id":3,"ts":"2024-01-03T00:00:00.000Z","event_type":"purchase"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq(
      """{"event_id":-1,"user_id":-1,"ts":"2024-01-11T00:00:00.000Z","event_type":"view"}""",
      """{"event_id":-2,"user_id":-1,"ts":"2024-01-11T00:00:00.000Z","event_type":"purchase"}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val src = spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .json(s"$dir/in")
    val views = src.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val convs = src.where(col("event_type") === "purchase")
      .select(col("user_id").as("conv_user"), col("ts").as("conv_ts"),
        col("event_id").as("conv_id"))
    val table =
      "outerj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Attribution.viewConversionJoin(views, "user_id", "view_ts",
        convs, "conv_user", "conv_ts", windowSpec = "1 DAY",
        delay = "1 hour", joinType = "left_outer")
      .select(col("user_id"), col("view_id"), col("conv_id"))
      .writeStream.format("memory").queryName(table)
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(table).where(col("user_id") =!= -1L)
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(got == Set(
      (1L, 10L, Some(11L)), // in-window conversion
      (2L, 20L, None),      // never converted: emitted by eviction
      (3L, 30L, None)))     // converted too late: still a null row
  }

  test("streaming HLL registers: bounded state, bit-equal to batch") {
    import graft.operators.Sketches
    val dir = tmpDir("shll")
    // two micro-batches slicing the groups differently: register max
    // is order-insensitive, so the final state must equal batch
    Seq("""{"k":"a","v":1}""", """{"k":"a","v":2}""",
      """{"k":"b","v":1}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"k":"a","v":3}""", """{"k":"b","v":9}""",
      """{"k":"b","v":1}""") // v=1 again: idempotent re-observe
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    val src = spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .json(s"$dir/in")
    val table =
      "shll_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Sketches.hllRegisters(src, Seq("k"), "v", p = 4)
      .writeStream.format("memory").queryName(table)
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(table)
    // state bound: at most 2^p = 16 register rows per group
    assert(streamed.count() <= 32)
    val batch = Sketches.hllRegisters(
      Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L), ("b", 9L),
        ("b", 1L)).toDF("k", "v"), Seq("k"), "v", p = 4)
    assert(streamed.orderBy("k", "j").collect().toSeq ==
      batch.orderBy("k", "j").collect().toSeq)
    // and the merged estimates agree bit-for-bit
    val se = Sketches.hllMergeEstimate(streamed, Seq("k"), p = 4)
      .orderBy("k").collect().toSeq
    val be = Sketches.hllMergeEstimate(batch, Seq("k"), p = 4)
      .orderBy("k").collect().toSeq
    assert(se == be)
  }

  test("streaming CMS cells: bounded state, sum-equal to batch") {
    import graft.operators.Sketches
    val dir = tmpDir("scms")
    // two micro-batches slicing values arbitrarily: cell merge is a
    // SUM (commutative + associative), so the complete-mode streamed
    // cells must equal the direct batch sketch exactly
    Seq("""{"v":1}""", """{"v":1}""", """{"v":2}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"v":2}""", """{"v":3}""", """{"v":1}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val sch = StructType(Seq(StructField("v", LongType)))
    val src = spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .json(s"$dir/in")
    val table =
      "scms_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Sketches.cmsCells(src, "v", d = 2, w = 16)
      .writeStream.format("memory").queryName(table)
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(table)
    // state bound: at most d x w touched cells, forever
    assert(streamed.count() <= 32)
    val batch = Sketches.cmsCells(
      Seq(1L, 1L, 2L, 2L, 3L, 1L).toDF("v"), "v", d = 2, w = 16)
    assert(streamed.orderBy("r", "c").collect().toSeq ==
      batch.orderBy("r", "c").collect().toSeq)
    // and point lookups off the streamed cells read the true counts
    // (wide regime: w=16 >> 3 distinct values, min kills collisions)
    val probes = Seq(1L, 2L, 3L).toDF("v")
    val freqs = Sketches.cmsLookup(streamed, probes, "v", d = 2, w = 16)
      .as[(Long, Long)].collect().toMap
    assert(freqs == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("streaming quantile sample: bounded state, min-equal to batch") {
    import graft.operators.Quantiles
    val dir = tmpDir("squant")
    // two micro-batches: the per-bucket struct-min is order-insensitive
    // and idempotent (v=5 re-observed), so streamed state == batch
    Seq("""{"id":1,"v":10.5}""", """{"id":2,"v":3.25}""",
      """{"id":5,"v":7.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"id":3,"v":8.75}""", """{"id":4,"v":1.5}""",
      """{"id":5,"v":7.0}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val src = spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .json(s"$dir/in")
      .withColumn("g", lit("all"))
    val table =
      "squant_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Quantiles.bucketMinSample(src, Seq("g"), "v", "id",
        buckets = 8)
      .writeStream.format("memory").queryName(table)
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(table)
    // state bound: at most `buckets` rows per group, forever
    assert(streamed.count() <= 8)
    val batch = Quantiles.bucketMinSample(
      Seq((1L, 10.5), (2L, 3.25), (5L, 7.0), (3L, 8.75), (4L, 1.5),
        (5L, 7.0)).toDF("id", "v").withColumn("g", lit("all")),
      Seq("g"), "v", "id", buckets = 8)
    assert(streamed.orderBy("j").collect().toSeq ==
      batch.orderBy("j").collect().toSeq)
    // and the nearest-rank reads agree bit-for-bit
    val sq = Quantiles.quantiles(streamed, Seq("g"), "v", Seq(500))
      .collect().toSeq
    val bq = Quantiles.quantiles(batch, Seq("g"), "v", Seq(500))
      .collect().toSeq
    assert(sq == bq)
  }

  test("decorateStream: stateless batch-equal enrich, null passthrough") {
    import graft.streaming.Enrich
    val dir = tmpDir("enrich")
    // key 3 is MISSING from the dim: the left-outer contract must pass
    // the event through with null metadata, in-stream like any other
    Seq("""{"event_id":1,"user_id":1}""",
      """{"event_id":2,"user_id":2}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f1")
    Seq("""{"event_id":3,"user_id":3}""",
      """{"event_id":4,"user_id":1}""")
      .toDF("value").coalesce(1).write.text(s"$dir/in/f2")
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType)))
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("k", "seg")
    val src = spark.readStream.schema(sch)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1") // force TWO micro-batches
      .json(s"$dir/in")
    val table =
      "enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Enrich.decorateStream(src, "user_id", dim, "k", Seq("seg"))
      .writeStream.format("memory").queryName(table)
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // no state store was ever created: a stream-static join is
    // stateless, so nothing survives between the two micro-batches
    assert(q.lastProgress.stateOperators.isEmpty)
    val got = spark.table(table)
      .select("event_id", "user_id", "seg")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got == Set(
      (1L, 1L, Some("GOLD")), (2L, 2L, Some("SILVER")),
      (3L, 3L, None), (4L, 1L, Some("GOLD"))))
  }
}
