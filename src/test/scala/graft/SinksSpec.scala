package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.connector.Sinks
import graft.connector.Sinks.{QueueMessage, QueueTransport, RestTransport}

/** Fan-out sink specs K3/K4: batch sizing, retry, dead-lettering. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("queueSink batches at most 10 messages per send") {
    import scala.jdk.CollectionConverters._
    val name = s"q-${java.util.UUID.randomUUID()}"
    val dead = spark.sparkContext.collectionAccumulator[String]("dl0")
    val sizes = spark.sparkContext.collectionAccumulator[Int]("sizes")
    val recording = new QueueTransport {
      def send(batch: Seq[QueueMessage]): Seq[String] = {
        sizes.add(batch.size)
        Sinks.InMemoryQueueTransport(name).send(batch)
      }
    }
    val df = (1 to 23).map(_.toString).toDF("userId").repartition(1)
    Sinks.queueSink(df, recording, "userId", dead)
    val got = Sinks.InMemoryQueues.drain(name)
    assert(sizes.value.asScala.toSeq == Seq(10, 10, 3))
    assert(dead.isZero)
    assert(got.size == 23)
    assert(got.forall(_.body.contains("userId")))
  }

  test("queueSink dead-letters ids the transport rejects") {
    val dead = spark.sparkContext.collectionAccumulator[String]("dl")
    object FailEven extends QueueTransport {
      def send(batch: Seq[QueueMessage]): Seq[String] =
        batch.filter(_.id.endsWith("-2")).map(_.id)
    }
    val df = Seq("1", "2", "3").toDF("userId").repartition(1)
    Sinks.queueSink(df, FailEven, "userId", dead)
    assert(dead.value.size == 1 && dead.value.get(0).endsWith("-2"))
  }

  test("restSink groups 75 per POST and retries before dead-lettering") {
    val posts = spark.sparkContext.longAccumulator("posts")
    val rows = spark.sparkContext.longAccumulator("rows")
    val transport = new RestTransport {
      def post(objs: Seq[String]): Boolean = {
        posts.add(1); rows.add(objs.size); true
      }
    }
    val df = (1 to 160).map(_.toString).toDF("external_id").repartition(1)
    Sinks.restSink(df, transport)
    assert(posts.value == 3) // 75 + 75 + 10
    assert(rows.value == 160)
  }

  test("validateDequeue accepts either id spelling, rejects bad rows") {
    import org.apache.spark.sql.functions._
    // (queryUserId, userId, n recs): q-only, fallback-to-userId, empty
    // qid (Python-falsy -> reject, reference main.py:57-58), no id,
    // empty recommendations.
    val df = Seq(
      (Some("q1"), None: Option[String], 2),
      (None: Option[String], Some("u2"), 1),
      (Some(""), Some("u3"), 1),
      (None: Option[String], None: Option[String], 1),
      (Some("q5"), None: Option[String], 0)
    ).toDF("queryUserId", "userId", "n")
      .select(col("queryUserId"), col("userId"),
        expr("slice(transform(sequence(1, 2), " +
          "i -> named_struct('itemId', concat('p', CAST(i AS STRING)))), " +
          "1, n)").as("recommendations"))
    val (valid, rejected) = Sinks.validateDequeue(df)
    assert(valid.select("external_id").as[String].collect().sorted.toSeq ==
      Seq("q1", "u2"))
    assert(rejected.count() == 3)
  }

  test("dequeueToRest dead-letters rejects and posts the valid pivot") {
    import org.apache.spark.sql.functions._
    val dead = spark.sparkContext.collectionAccumulator[String]("dl3")
    val posted = spark.sparkContext.collectionAccumulator[String]("posted")
    val transport = new RestTransport {
      def post(objs: Seq[String]): Boolean = { objs.foreach(posted.add); true }
    }
    val df = Seq(
      ("u1", 2),  // valid
      ("u2", 0)   // empty recommendations -> dead letter
    ).toDF("userId", "n")
      .select(col("userId"),
        expr("slice(transform(sequence(1, 2), " +
          "i -> named_struct('itemId', concat('p', CAST(i AS STRING)))), " +
          "1, n)").as("recommendations"))
    Sinks.dequeueToRest(df, transport,
      v => graft.etl.Ops.pivotAttributes(v, "external_id", Seq("itemId"),
        "rec_", Map.empty),
      deadLetters = Some(dead))
    assert(posted.value.size == 1 && posted.value.get(0).contains("u1"))
    assert(dead.value.size == 1 && dead.value.get(0).contains("u2"))
  }

  test("dequeueToRest evaluates its upstream exactly once") {
    import org.apache.spark.sql.functions._
    val evals = spark.sparkContext.longAccumulator("upstream_evals")
    val dead = spark.sparkContext.collectionAccumulator[String]("dl4")
    val ok = new RestTransport {
      def post(objs: Seq[String]): Boolean = true
    }
    // Instrumented upstream: counts one per row per evaluation. The
    // operator runs two actions (reject scan + REST post); its internal
    // span-persist must make them share ONE evaluation.
    val base = Seq("u1", "u2", "").toDS()
      .map { u => evals.add(1); u }
      .toDF("userId")
      .select(col("userId"),
        when(col("userId") =!= "",
          array(struct(lit("p1").as("itemId")))).as("recommendations"))
    Sinks.dequeueToRest(base, ok,
      v => graft.etl.Ops.pivotAttributes(v, "external_id", Seq("itemId"),
        "rec_", Map.empty),
      deadLetters = Some(dead))
    assert(dead.value.size == 1) // the empty-id row rejected
    assert(evals.value == 3,
      s"upstream evaluated ${evals.value} row-passes for 3 rows — " +
        "the two sink actions are not sharing one evaluation")
  }

  test("pivotAttributesPerRecord honors each record's own directives") {
    import org.apache.spark.sql.functions._
    import graft.etl.Ops
    // Three wire shapes through ONE pivot: r1 = reference nested shape
    // (own prefix + nested otherAttributes, whose external_id must be
    // stripped); r2 = flattened scalar shape, no prefix (default
    // applies); r3 = no syncDirectives at all.
    val df = Seq(("u1", "a"), ("u2", "b"), ("u3", "c"))
      .toDF("userId", "item")
      .select(col("userId"),
        array(struct(col("item").as("itemId"))).as("recommendations"))
      .withColumn("syncDirectives",
        when(col("userId") === "u1",
          struct(lit("rx_").as("attributePrefix"),
            struct(lit("US").as("country"),
              lit("EVIL").as("external_id")).as("otherAttributes"),
            lit(null).cast("string").as("tier")))
          .when(col("userId") === "u2",
            struct(lit(null).cast("string").as("attributePrefix"),
              lit(null).cast("struct<country:string,external_id:string>")
                .as("otherAttributes"),
              lit("gold").as("tier"))))
    val out = Ops.pivotAttributesPerRecord(df, "userId", Seq("itemId"))
      .orderBy("external_id", "attr")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(
      ("u1", "country", "US"),
      ("u1", "rx_itemId", """["a"]"""),
      ("u2", "recommendation_itemId", """["b"]"""),
      ("u2", "tier", "gold"),
      ("u3", "recommendation_itemId", """["c"]""")))
  }

  test("pivotAttributesPerRecord resolves a rec/other key collision instead of throwing") {
    import org.apache.spark.sql.functions._
    import graft.etl.Ops
    // Empty prefix + an other-attribute literally named "itemId": the
    // pivoted rec key collides with the directive attr. Under the
    // default mapKeyDedupPolicy=EXCEPTION a map-built pivot fails the
    // whole job at runtime; the long form must instead drop the loser
    // deterministically — rec wins, matching the reference's dict
    // build order (main.py:67-81 assigns rec fields last).
    val df = Seq(("u1", "a")).toDF("userId", "item")
      .select(col("userId"),
        array(struct(col("item").as("itemId"))).as("recommendations"))
      .withColumn("syncDirectives",
        struct(lit("").as("attributePrefix"),
          lit("sneaky").as("itemId")))
    val out = Ops.pivotAttributesPerRecord(df, "userId", Seq("itemId"))
      .orderBy("attr").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(("u1", "itemId", """["a"]""")))
  }

  test("mixed-job queue end-to-end: per-record directives survive the drain") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    import graft.etl.Ops
    // Both job types feed ONE queue: related-items records stamped with
    // their connector's "ri_" prefix + country, user-personalization
    // records with no syncDirectives at all. The drain must validate
    // (either id spelling), then pivot each record by ITS directives.
    val qname = s"mixed-${java.util.UUID.randomUUID()}"
    val qt = Sinks.InMemoryQueueTransport(qname)
    val ri = Ops.stampJobInfo(
      Seq(("i1", "u1")).toDF("queryItemId", "userId")
        .withColumn("recommendations", expr(
          "array(named_struct('itemId', 'p1'), named_struct('itemId', 'p2'))")),
      "ri_job", "2024-01-01T00:00:00.000",
      Some(("ri_", Map("country" -> "US"))))
    val up = Ops.stampJobInfo(
      Seq("u2").toDF("queryUserId")
        .withColumn("recommendations",
          expr("array(named_struct('itemId', 'p9'))")),
      "up_job", "2024-01-01T00:00:00.000", None)
    val dead = spark.sparkContext.collectionAccumulator[String]("mdead")
    Sinks.queueSink(ri, qt, "userId", dead)
    Sinks.queueSink(up, qt, "queryUserId", dead)
    assert(dead.isZero)

    val drained = spark.read.json(Sinks.drainToDF(spark, qname))
    val posted = spark.sparkContext.collectionAccumulator[String]("mposts")
    val rest = new RestTransport {
      def post(objs: Seq[String]): Boolean = { objs.foreach(posted.add); true }
    }
    Sinks.dequeueToRest(drained, rest,
      v => Ops.pivotAttributesPerRecord(v, "external_id", Seq("itemId")))

    val got = posted.value.asScala.toSet
    def has(uid: String, attr: String, frag: String) =
      got.exists(s => s.contains(s""""external_id":"$uid"""") &&
        s.contains(s""""attr":"$attr"""") && s.contains(frag))
    assert(got.size == 3, s"posted: $got")
    assert(has("u1", "ri_itemId", "p1"), s"posted: $got")
    assert(has("u1", "country", "US"), s"posted: $got")
    assert(has("u2", "recommendation_itemId", "p9"), s"posted: $got")
  }

  test("restSink dead-letters a batch after maxAttempts failures") {
    val dead = spark.sparkContext.collectionAccumulator[String]("dl2")
    val attempts = spark.sparkContext.longAccumulator("attempts")
    val alwaysFail = new RestTransport {
      def post(objs: Seq[String]): Boolean = { attempts.add(1); false }
    }
    val df = Seq("1", "2").toDF("external_id").repartition(1)
    Sinks.restSink(df, alwaysFail, deadLetters = Some(dead))
    // tried exactly the reference's 5 receives (`template.yaml:337`)
    assert(Sinks.RestMaxAttempts == 5)
    assert(attempts.value == 5)
    assert(dead.value.size == 2) // whole batch dead-lettered
  }
}
