package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Bucketing, Readers, StateTable, Writers}
import graft.schema.Schemas

/** Source/sink specs (SURVEY.md §2.1-§2.2): schema backfill, codec
  * transparency, existence gating, run-time-partitioned layout.
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("withBackfill adds missing top-level and nested columns as nulls") {
    val df = Seq("1").toDF("x")
      .select(struct(col("x").as("itemId")).as("input"))
    val out = Readers.withBackfill(df, Schemas.relatedItemsBatchInference)
    // names+types must match exactly; nullability may tighten
    assert(out.schema.simpleString ==
      Schemas.relatedItemsBatchInference.simpleString)
    val r = out.collect().head
    assert(r.getStruct(0) == org.apache.spark.sql.Row("1"))
    assert(r.isNullAt(1) || r.getStruct(1).isNullAt(0)) // output backfilled
    assert(r.isNullAt(2))                               // error backfilled
  }

  test("withBackfill keeps present nested fields and drops extras") {
    val df = Seq(("1", "keep", "extra")).toDF("a", "b", "c")
      .select(struct(col("a").as("itemId"), col("c").as("junk")).as("input"),
        col("b").as("error"))
    val out = Readers.withBackfill(df, Schemas.relatedItemsBatchInference)
    assert(out.select("input.itemId").as[String].collect().head == "1")
    assert(out.select("input.*").columns.toSeq == Seq("itemId"))
  }

  test("jsonl reads gzip transparently and recursively") {
    val dir = tmpDir("gz")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").option("compression", "gzip")
      .json(s"$dir/nested/deeper")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val out = Readers.jsonl(spark, dir, schema)
    assert(out.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("jsonl returns the declared schema with nulls for absent fields") {
    val dir = tmpDir("declared")
    // no line has `error`, one lacks `output`, one lacks the nested
    // `recommendedItems`, and one carries a field the schema omits
    Seq(
      """{"input":{"itemId":"i1"},"output":{"recommendedItems":["p1"]}}""",
      """{"input":{"itemId":"i2"}}""",
      """{"input":{"itemId":"i3","junk":1},"output":{}}"""
    ).toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val out = Readers.jsonl(spark, dir, Schemas.relatedItemsBatchInference)
    assert(out.schema.simpleString ==
      Schemas.relatedItemsBatchInference.simpleString)
    val rows = out.orderBy("input.itemId").collect()
    assert(rows.map(_.getStruct(0)).toSeq ==
      Seq("i1", "i2", "i3").map(org.apache.spark.sql.Row(_)))
    assert(rows(0).getStruct(1).getSeq[String](0) == Seq("p1"))
    assert(rows(1).isNullAt(1))
    assert(rows(2).getStruct(1).isNullAt(0))
    assert(rows.forall(_.isNullAt(2)))
    assert(out.where(col("error").isNull).count() == 3)
  }

  test("inferred read unions ragged field types across files to string") {
    val dir = tmpDir("ragged")
    // Same field, different JSON types per file (Glue "choice type"):
    // price is a number in one batch and a string in another.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part1.json"),
      """{"id":"p1","price":9.99}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part2.json"),
      """{"id":"p2","price":"19.50"}""".getBytes("UTF-8"))
    val out = Readers.jsonlInferIfExists(spark, dir).get
    assert(out.schema("price").dataType == StringType) // unioned, not lost
    assert(out.orderBy("id").select("price").as[String].collect().toSeq ==
      Seq("9.99", "19.50"))
  }

  test("jsonlInferIfExists gates on path existence and emptiness") {
    val dir = tmpDir("gate")
    assert(Readers.jsonlInferIfExists(spark, s"$dir/nope").isEmpty)
    // an existing but empty prefix is as absent as a missing one
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty"))
    assert(Readers.jsonlInferIfExists(spark, s"$dir/empty").isEmpty)
    // so is an export with no records: `_SUCCESS` plus an empty part file
    Seq.empty[Long].toDF("k").coalesce(1).write.json(s"$dir/blank")
    assert(Readers.pathExists(spark, s"$dir/blank"))
    assert(Readers.jsonlInferIfExists(spark, s"$dir/blank").isEmpty)
    Seq(1L).toDF("k").write.mode("overwrite").json(s"$dir/yes")
    val yes = Readers.jsonlInferIfExists(spark, s"$dir/yes")
    assert(yes.map(_.select("k").as[Long].collect().toSeq) == Some(Seq(1L)))
  }

  test("csv reads header/quoted files with explicit schema") {
    val dir = tmpDir("csv")
    Seq(("u,1", "i\"2")).toDF("USER_ID", "ITEM_ID")
      .write.mode("overwrite").option("header", "true")
      .option("quoteAll", "true").csv(dir)
    val out = Readers.csv(spark, dir, Schemas.userItemMapping).collect().head
    assert(out.getString(0) == "u,1" && out.getString(1) == "i\"2")
  }

  test("connectorOutput writes the run-time-partitioned layout") {
    val dir = tmpDir("sink")
    val clock = LocalDateTime.of(2024, 3, 7, 14, 5, 9)
    val written = Writers.connectorOutput(Seq(1L).toDF("k"), dir, "braze",
      clock)
    assert(written ==
      s"$dir/braze/year=2024/month=03/day=07/time=140509")
    assert(spark.read.json(written).count() == 1)
  }

  test("errors sink writes only when enabled and non-empty") {
    val dir = tmpDir("err")
    val clock = LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    val empty = Seq.empty[Long].toDF("k")
    val some = Seq(1L).toDF("k")
    assert(Writers.errors(empty, dir, "ri", clock, enabled = true).isEmpty)
    assert(Writers.errors(some, dir, "ri", clock, enabled = false).isEmpty)
    assert(Writers.errors(some, dir, "ri", clock, enabled = true).isDefined)
  }

  test("idempotentConnectorOutput collapses in-batch key twins") {
    val dir = tmpDir("idem-twins")
    val clock = LocalDateTime.of(2024, 5, 1, 0, 0, 0)
    // key 1 appears twice WITHIN the first batch; only one delivery
    // may reach the output (ADVICE r10 — the manifest alone cannot
    // absorb twins inside the batch it is about to record)
    val batch = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "v")
    val fresh = Writers.idempotentConnectorOutput(batch, s"$dir/out",
      "conn", clock, Seq("k"), s"$dir/manifest")
    try assert(fresh.count() == 2) finally fresh.unpersist()
    val delivered = spark.read.option("recursiveFileLookup", "true")
      .json(s"$dir/out/conn")
    assert(delivered.count() == 2)
    assert(delivered.groupBy("k").count()
      .where(col("count") > 1).isEmpty)
    // and the cross-batch replay path still holds
    val replay = Writers.idempotentConnectorOutput(batch, s"$dir/out",
      "conn", clock.plusHours(1), Seq("k"), s"$dir/manifest")
    try assert(replay.isEmpty) finally replay.unpersist()
  }

  test("StateTable.append: interleaved concurrent appends lose nothing") {
    // two writers, 8 appends each, racing for version slots — the
    // atomic-rename claim must serialize them into 16 DISTINCT versions
    // with every key batch surviving (the reference allows
    // MaxConcurrentRuns: 2; the old errorifexists write could
    // interleave two writers' files into one v=N dir)
    import java.util.concurrent.Executors
    val dir = tmpDir("state-cas")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = (0 until 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = (0 until 8).map { i =>
            StateTable.append(
              Seq((w * 1000L + i, s"w$w-b$i")).toDF("k", "val"), dir)
          }
        })
      }
      val claimed = futs.flatMap(_.get())
      assert(claimed.distinct.size == 16, s"version collision: $claimed")
      assert(StateTable.versions(spark, dir) == claimed.sorted)
      val state = StateTable.readLatest(spark, dir, Seq("k"))
      assert(state.count() == 16) // no lost update, no duplicated key
      assert(state.select("k").distinct().count() == 16)
    } finally pool.shutdown()
  }

  test("state write-back overwrites the previous snapshot") {
    val dir = tmpDir("state")
    Writers.state(Seq(1L).toDF("k"), dir, "braze")
    val p = Writers.state(Seq(2L, 3L).toDF("k"), dir, "braze")
    assert(spark.read.json(p).count() == 2) // overwrite, not append
  }

  test("writeRangeSorted: per-file spans are disjoint and internally sorted") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rangesort-").toString
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1L to 1000L).toVector).map(i => (i, s"p$i"))
    Bucketing.writeRangeSorted(rows.toDF("k", "payload"), dir, "k",
      nFiles = 3)
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(back.length == 1000) // lossless
    val byFile = back.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byFile.size == 3)
    // sorted within each file (read-back preserves in-file row order)
    byFile.values.foreach(ks => assert(ks.sameElements(ks.sorted)))
    // disjoint [min, max] spans across files
    val spans = byFile.values.map(ks => (ks.min, ks.max)).toSeq
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) => assert(hiA < loB)
      case _ =>
    }
  }

  test("zValue matches a bit-loop reference and orders 2-D locality") {
    import graft.io.ZOrder
    // reference: interleave bit i of x at 2i, bit i of y at 2i+1
    def ref(x: Long, y: Long): Long =
      (0 until 31).foldLeft(0L) { (z, i) =>
        z | ((x >> i & 1L) << (2 * i)) | ((y >> i & 1L) << (2 * i + 1))
      }
    val pts = for (x <- 0L to 40L; y <- 0L to 40L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == ref(x, y), s"($x,$y)") }
    // large values cluster by their low 31 bits instead of overflowing
    val big = Seq((Long.MaxValue, Long.MaxValue)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"))).as[Long].collect()
    assert(big.head == ref(0x7FFFFFFFL, 0x7FFFFFFFL) && big.head > 0)
  }

  test("writeZOrdered: files are z-disjoint and bound BOTH columns") {
    import graft.io.ZOrder
    val dir = java.nio.file.Files
      .createTempDirectory("graft-zorder-").toString
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle(
      (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toVector)
    ZOrder.writeZOrdered(rows.toDF("x", "y"), dir, "x", "y", nFiles = 4)
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("x"), col("y"),
        ZOrder.zValue(col("x"), col("y")).as("z"))
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(back.length == 64 * 64) // lossless, z column not written
    assert(spark.read.parquet(dir).columns.toSeq == Seq("x", "y"))
    val byFile = back.groupBy(_._1).values.toSeq
    assert(byFile.size == 4)
    // z-spans disjoint across files
    val spans = byFile.map(rs => (rs.map(_._4).min, rs.map(_._4).max))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) => assert(hiA < loB)
      case _ =>
    }
    // the 2-D payoff: every file's bounding box on x AND y is a strict
    // subset of the global domain, so a predicate on either column can
    // prune files — a single-column sort leaves the other dimension's
    // per-file span at the full domain width
    byFile.foreach { rs =>
      val (xs, ys) = (rs.map(_._2), rs.map(_._3))
      assert(xs.max - xs.min < 63L || ys.max - ys.min < 63L)
    }
    // and a concrete corner probe skips at least one file on stats
    val hit = byFile.count { rs =>
      val (xs, ys) = (rs.map(_._2), rs.map(_._3))
      xs.min <= 3 && 0 <= xs.max && ys.min <= 3 && 0 <= ys.max
    }
    assert(hit < 4, "corner box should not intersect every file's stats")
  }

  test("StateTable.maybeCompact fires only past the version threshold") {
    import graft.io.StateTable
    val dir = tmpDir("autocompact") + "/tbl"
    StateTable.append(Seq((1L, "a")).toDF("k", "p"), dir)
    StateTable.append(Seq((2L, "b")).toDF("k", "p"), dir)
    assert(StateTable.maybeCompact(spark, dir, Seq("k"), 2).isEmpty)
    assert(StateTable.versions(spark, dir).size == 2) // untouched
    StateTable.append(Seq((1L, "a2")).toDF("k", "p"), dir)
    assert(StateTable.maybeCompact(spark, dir, Seq("k"), 2).nonEmpty)
    assert(StateTable.versions(spark, dir).size == 1) // folded
    assert(StateTable.readLatest(spark, dir, Seq("k"))
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")))
  }

  test("StateTable: upserts, tombstones, and compaction preserve state") {
    import graft.io.StateTable
    val dir = tmpDir("statetbl") + "/tbl"
    val v0 = StateTable.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload"), dir)
    val v1 = StateTable.append(
      Seq((2L, "b2", false), (3L, "c", true)).toDF("k", "payload",
        StateTable.DeletedCol), dir)
    assert(v0 == 0 && v1 == 1)
    def state() = StateTable.readLatest(spark, dir, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(state() == Set((1L, "a"), (2L, "b2"))) // 3 tombstoned
    val vc = StateTable.compact(spark, dir, Seq("k"))
    assert(StateTable.versions(spark, dir) == Seq(vc)) // chain folded
    assert(state() == Set((1L, "a"), (2L, "b2"))) // same state after
    StateTable.append(Seq((4L, "d")).toDF("k", "payload"), dir)
    assert(state() == Set((1L, "a"), (2L, "b2"), (4L, "d")))
  }
}
