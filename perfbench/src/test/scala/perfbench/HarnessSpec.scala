package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own guarantees: seeded inputs are reproducible, the
  * output checks catch a wrong count, the transport stubs give the same
  * delivered and dead-letter counts whatever the batch composition, and
  * the metrics reported are the ones BENCHMARK.json declares. Spark-free,
  * so it runs in seconds.
  */
class HarnessSpec extends AnyFunSuite {

  private val ri = Gen.RiSpec(queryItems = 300, recs = 25, catalog = 2000,
    userPool = 5000, hotFrac = 0.02, hotMin = 20, hotMax = 50, coldMax = 6,
    errFrac = 0.02, missFrac = 0.02, extraMapped = 20, files = 3)
  private val up = Gen.UpSpec(users = 2000, recs = 10, catalog = 500,
    changeFrac = 0.05, departFrac = 0.01, newFrac = 0.01, errFrac = 0.005,
    files = 2)
  private val fan = Gen.FanSpec(users = 500, recs = 5, catalog = 300,
    missingIdFrac = 0.04, emptyRecsFrac = 0.04, files = 3)

  private def tmp(): Path = Files.createTempDirectory("perfbench-test-")

  /** Relative path -> file bytes, for every file under `root`. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap

  private def generateAll(root: Path, seed: Long) =
    (Gen.writeRi(root.resolve("ri"), seed, ri),
      Gen.writeUp(root.resolve("up"), seed, up),
      Gen.writeFan(root.resolve("fan"), seed, fan))

  test("same seed gives byte-identical files and bookkeeping") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      val ea = generateAll(a, 7)
      val eb = generateAll(b, 7)
      val ec = generateAll(c, 8)
      assert(ea == eb)
      assert(snapshot(a) == snapshot(b))
      assert(snapshot(a) != snapshot(c))
    } finally Seq(a, b, c).foreach(Fs.deleteTree)
  }

  test("bookkeeping matches the generated files") {
    val root = tmp()
    try {
      val (r, u, f) = generateAll(root, 3)
      val lines = (p: String) => JsonlCounts.of(root.resolve(p)).lines
      assert(lines("ri/input/batch_inference") == r.inputLines)
      // one header line per mapping part file
      assert(lines("ri/input/user_item_mapping") == r.mappingPairs + ri.files)
      assert(r.errorLines > 0 && r.decorateMisses > 0)
      assert(r.outputRows < r.mappingPairs)
      assert(lines("up/gen0") == u.gen0Lines && lines("up/gen1") == u.gen1Lines)
      assert(u.gen1Lines == u.liveAfter + u.errorLines)
      assert(u.changed > 0 && u.departed > 0 && u.added > 0)
      assert(lines("fan/output") == f.lines)
      assert(f.validUsers + f.invalidRows == f.lines && f.invalidRows > 0)
    } finally Fs.deleteTree(root)
  }

  test("output counts see planted misses, and a wrong count fails its check") {
    val out =
      """{"userId":"u1","recommendations":[{"itemId":"i000001","name":"a"},{"itemId":"x000002"}]}
        |{"userId":"u2","recommendations":[{"itemId":"x000003"},{"itemId":"i000004"}]}
        |""".stripMargin.getBytes("UTF-8")
    val c = JsonlCounts.ofBytes(out)
    assert(c == JsonlCounts(lines = 2, bareMisses = 2, bareHits = 1))
    val checks = Seq(Check("rows", 2, c.lines),
      Check("decorate_misses", 2, c.bareMisses))
    assert(Check.failures(checks).isEmpty)
    // planted wrong count: one row short of the bookkeeping
    val bad = Check.failures(checks :+ Check("rows", 3, c.lines))
    assert(bad == Seq("rows expected 3 got 2"))
  }

  test("reported metrics are the ones BENCHMARK.json declares") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(
      new String(Files.readAllBytes(java.nio.file.Paths.get("../BENCHMARK.json"))))
    def declared(key: String): Seq[(String, String)] =
      (root \ key).children.map(m =>
        ((m \ "name").values.toString, (m \ "unit").values.toString))
    assert(declared("end_to_end") == Main.EndToEnd)
    assert(declared("per_layer") == Main.PerLayer)
    assert((root \ "workloads").children.map(w => (w \ "name").values) ==
      Main.Workloads)
  }

  test("REST stub delivers the same users whatever the batching") {
    val users = (0 until 2000).map(u => Gen.user(u))
    val objs = users.map(u => s"""{"external_id":"$u","recommendation_itemId":["i1"]}""")
    def deliver(name: String, order: Seq[String], batch: Int) = {
      val rest = Stubs.FlakyRest(name, seed = 11, oneIn = 20)
      val dead = order.grouped(batch).count(b => !(1 to 5).exists(_ => rest.post(b)))
      val c = Stubs.rest(name)
      val out = (c.delivered.asScala.toSet, dead, c.posts.sum(), c.okPosts.sum())
      Stubs.release(name)
      out
    }
    val (d1, dead1, posts1, ok1) = deliver("a", objs, 75)
    val (d2, dead2, _, _) = deliver("b", new Random(5).shuffle(objs), 75)
    val (d3, dead3, _, _) = deliver("c", objs.reverse, 13)
    assert(d1 == users.toSet && d2 == d1 && d3 == d1)
    assert(dead1 == 0 && dead2 == 0 && dead3 == 0)
    // some posts fail transiently, and every failed post succeeds on retry
    val flaky = users.count(Stubs.flaky(_, 11, 20))
    assert(flaky > 0 && posts1 > ok1 && ok1 == objs.grouped(75).size)
  }
}
