package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded workload generator. Every file is a pure function of the seed
  * and the size spec (same seed, byte-identical files), written on the
  * calling thread before any timing starts. Each writer returns the
  * bookkeeping the output checks need, so no check has to recompute an
  * expected answer with a second engine.
  */
object Gen {

  /** Related-items cold sync input.
    *
    * @param queryItems batch-inference lines (one per query item)
    * @param catalog items in the metadata catalog (`i000000`..)
    * @param userPool distinct user ids the mapping draws from
    * @param hotFrac share of query items that map to hotMin..hotMax users
    *   (the Zipf head that skews `Ops.mapUsers`), spread evenly over that
    *   range; the rest map to 1..coldMax users in rotation
    * @param missFrac share of rec slots naming an item absent from the
    *   catalog (`x......`), the planted decorate misses
    * @param extraMapped mapped items that have no batch-inference line
    */
  final case class RiSpec(queryItems: Int, recs: Int, catalog: Int,
      userPool: Int, hotFrac: Double, hotMin: Int, hotMax: Int,
      coldMax: Int, errFrac: Double, missFrac: Double, extraMapped: Int,
      files: Int)

  /** What a correct related-items sync of [[RiSpec]] input produces. */
  final case class RiExpect(inputLines: Long, errorLines: Long,
      mappingPairs: Long, outputRows: Long, decorateMisses: Long)

  /** User-personalization input: generation 0 primes keyed state,
    * generation 1 is the resync (changed recs, departed users, new
    * users). Error lines use `e.......` ids that never reach state, so
    * they cannot turn into tombstones.
    */
  final case class UpSpec(users: Int, recs: Int, catalog: Int,
      changeFrac: Double, departFrac: Double, newFrac: Double,
      errFrac: Double, files: Int)

  final case class UpExpect(users: Long, gen0Lines: Long, gen1Lines: Long,
      errorLines: Long, changed: Long, departed: Long, added: Long,
      liveAfter: Long) {
    def emitted: Long = changed + added
  }

  /** Pre-written connector output for the fan-out path, with planted
    * invalid rows: half of the `missingIdFrac` rows omit the user id, the
    * other half carry an empty one; `emptyRecsFrac` rows have `[]` recs.
    */
  final case class FanSpec(users: Int, recs: Int, catalog: Int,
      missingIdFrac: Double, emptyRecsFrac: Double, files: Int)

  final case class FanExpect(lines: Long, validUsers: Long,
      invalidRows: Long, files: Int)

  val Connector = "braze"
  val FanRunTime = "2026-01-01T00:00:00.000"

  // --- ids and shared pieces -------------------------------------------

  def item(i: Int): String = f"i$i%06d"
  def missItem(i: Int): String = f"x$i%06d"
  def user(u: Int): String = f"u$u%07d"
  def errUser(u: Int): String = f"e$u%07d"

  private val Colors = Array("red", "green", "blue", "black", "white",
    "silver", "gold", "navy")

  /** One independent stream per (seed, purpose, index). */
  private def rng(seed: Long, stream: Long, idx: Long = 0L)
      : SplittableRandom =
    new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ idx)

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      UTF_8), 1 << 20)
  }

  /** Write `n` lines round-robin over `files` part files under `dir`. */
  private def parts(dir: Path, files: Int, ext: String,
      header: Option[String])(body: (Int => BufferedWriter) => Unit)
      : Unit = {
    val ws = (0 until files).map(k =>
      writer(dir.resolve(f"part-$k%05d.$ext")))
    header.foreach(h => ws.foreach { w => w.write(h); w.write('\n') })
    try body(k => ws(k % files))
    finally ws.foreach(_.close())
  }

  /** `n` labels in a seeded random order: exactly `counts(k)` of label
    * k + 1, the rest 0. Exact counts keep every seed's input the same
    * size, so seeds change content, not the amount of work.
    */
  private def labels(r: SplittableRandom, n: Int, counts: Int*): Array[Int] = {
    val a = new Array[Int](n)
    var i = 0
    for ((c, k) <- counts.zipWithIndex; _ <- 0 until c) { a(i) = k + 1; i += 1 }
    for (j <- n - 1 to 1 by -1) {
      val x = r.nextInt(j + 1)
      val t = a(j); a(j) = a(x); a(x) = t
    }
    a
  }

  private def count(n: Int, frac: Double): Int = math.round(n * frac).toInt

  private def recsJson(items: Array[String]): String =
    items.mkString("[\"", "\",\"", "\"]")

  /** `recs` catalog draws, each a planted miss with probability
    * `missFrac`; returns the ids and how many are misses.
    */
  private def drawRecs(r: SplittableRandom, recs: Int, catalog: Int,
      missFrac: Double): (Array[String], Int) = {
    var misses = 0
    val out = Array.tabulate(recs) { _ =>
      if (r.nextDouble() < missFrac) { misses += 1; missItem(r.nextInt(catalog)) }
      else item(r.nextInt(catalog))
    }
    (out, misses)
  }

  /** Six-field catalog, one line per item `i000000..`. */
  def writeMetadata(dir: Path, seed: Long, catalog: Int): Unit =
    parts(dir, 2, "jsonl", None) { w =>
      val r = rng(seed, 1)
      for (i <- 0 until catalog) {
        val price = 1 + r.nextInt(50000)
        w(i).write(s"""{"id":"${item(i)}","name":"Item $i","category":"c${r.nextInt(40)}","brand":"b${r.nextInt(300)}","price":${price / 100}.${f"${price % 100}%02d"},"color":"${Colors(r.nextInt(Colors.length))}","rating":${1 + r.nextInt(5)}}""")
        w(i).write('\n')
      }
    }

  // --- related items -----------------------------------------------------

  /** Writes `input/{batch_inference,user_item_mapping,item_metadata}`. */
  def writeRi(root: Path, seed: Long, s: RiSpec): RiExpect = {
    val input = root.resolve("input")
    writeMetadata(input.resolve("item_metadata"), seed, s.catalog)
    val r = rng(seed, 2)
    // query items: 1 = hot (hotMin..hotMax users, evenly spread), 2 = error
    // line; everything else maps to 1..coldMax users in rotation
    val hot = count(s.queryItems, s.hotFrac)
    val kind = labels(r, s.queryItems, hot, count(s.queryItems, s.errFrac))
    var hotSeen, coldSeen = 0
    val usersOf = Array.tabulate(s.queryItems + s.extraMapped) { q =>
      if (q < s.queryItems && kind(q) == 1) {
        hotSeen += 1
        s.hotMin + (hotSeen - 1) * (s.hotMax - s.hotMin) / math.max(1, hot - 1)
      } else { coldSeen += 1; 1 + (coldSeen - 1) % s.coldMax }
    }
    var errors, outRows, misses, pairs = 0L
    parts(input.resolve("user_item_mapping"), s.files, "csv",
        Some("USER_ID,ITEM_ID")) { w =>
      for (q <- usersOf.indices) {
        val seen = new java.util.HashSet[Integer]()
        while (seen.size < usersOf(q)) {
          val u = r.nextInt(s.userPool)
          if (seen.add(u)) {
            w(q).write(user(u)); w(q).write(','); w(q).write(item(q))
            w(q).write('\n')
          }
        }
        pairs += usersOf(q)
      }
    }
    parts(input.resolve("batch_inference"), s.files, "jsonl", None) { w =>
      for (q <- 0 until s.queryItems) {
        if (kind(q) == 2) {
          errors += 1
          w(q).write(s"""{"input":{"itemId":"${item(q)}"},"error":"Item not found"}""")
        } else {
          val (recs, m) = drawRecs(r, s.recs, s.catalog, s.missFrac)
          outRows += usersOf(q)
          misses += usersOf(q).toLong * m
          w(q).write(s"""{"input":{"itemId":"${item(q)}"},"output":{"recommendedItems":${recsJson(recs)}},"error":null}""")
        }
        w(q).write('\n')
      }
    }
    RiExpect(s.queryItems, errors, pairs, outRows, misses)
  }

  // --- user personalization ----------------------------------------------

  /** Writes `gen0/` and `gen1/` batch-inference dirs plus
    * `item_metadata/` under `root`.
    */
  def writeUp(root: Path, seed: Long, s: UpSpec): UpExpect = {
    writeMetadata(root.resolve("item_metadata"), seed, s.catalog)
    def recsOf(u: Int): Array[String] =
      drawRecs(rng(seed, 3, u), s.recs, s.catalog, 0.0)._1
    def line(id: String, recs: Array[String]) =
      s"""{"input":{"userId":"$id"},"output":{"recommendedItems":${recsJson(recs)}}}"""
    def errLine(e: Int) =
      s"""{"input":{"userId":"${errUser(e)}"},"error":"User not found"}"""
    // 0 = unchanged, 1 = changed, 2 = departed
    val kind = labels(rng(seed, 4), s.users, count(s.users, s.changeFrac),
      count(s.users, s.departFrac))
    val errs = count(s.users, s.errFrac)
    val added = count(s.users, s.newFrac)
    var g0, g1 = 0L
    parts(root.resolve("gen0"), s.files, "jsonl", None) { w =>
      for (u <- 0 until s.users) { w(u).write(line(user(u), recsOf(u))); w(u).write('\n'); g0 += 1 }
      for (e <- 0 until errs) { w(e).write(errLine(e)); w(e).write('\n'); g0 += 1 }
    }
    parts(root.resolve("gen1"), s.files, "jsonl", None) { w =>
      for (u <- 0 until s.users if kind(u) != 2) {
        val recs = recsOf(u)
        if (kind(u) == 1) {
          // replace one slot with a different item: the payload changes
          val c = rng(seed, 5, u)
          val p = c.nextInt(s.recs)
          val old = recs(p)
          while (recs(p) == old) recs(p) = item(c.nextInt(s.catalog))
        }
        w(u).write(line(user(u), recs)); w(u).write('\n'); g1 += 1
      }
      for (a <- 0 until added) {
        val u = s.users + a
        w(u).write(line(user(u), recsOf(u))); w(u).write('\n'); g1 += 1
      }
      for (e <- 0 until errs) {
        w(e).write(errLine(s.users + e)); w(e).write('\n'); g1 += 1
      }
    }
    val changed = kind.count(_ == 1).toLong
    val departed = kind.count(_ == 2).toLong
    UpExpect(s.users, g0, g1, errs, changed, departed, added,
      s.users - departed + added)
  }

  // --- fan-out -------------------------------------------------------------

  /** Writes connector output the way `Writers.connectorOutput` lays it
    * out: `<connector>/year=/month=/day=/time=/part-*.json`.
    */
  def fanDir(root: Path): Path =
    root.resolve(s"output/$Connector/year=2026/month=01/day=01/time=000000")

  def writeFan(root: Path, seed: Long, s: FanSpec): FanExpect = {
    val r = rng(seed, 6)
    val catalogRng = rng(seed, 1)
    val names = Array.tabulate(s.catalog) { i =>
      s""""name":"Item $i","category":"c${catalogRng.nextInt(40)}""""
    }
    // 1 = no user id, 2 = empty user id, 3 = empty recs
    val missing = count(s.users, s.missingIdFrac)
    val kind = labels(rng(seed, 7), s.users, missing / 2, missing - missing / 2,
      count(s.users, s.emptyRecsFrac))
    var lines, valid, invalid = 0L
    val tail = s""","jobInfo":{"name":"bench_sync","runDateTime":"$FanRunTime"},"syncDirectives":{"attributePrefix":"recommendation_","channel":"email"}}"""
    parts(fanDir(root), s.files, "json", None) { w =>
      for (u <- 0 until s.users) {
        val recs = Array.fill(s.recs) {
          val i = r.nextInt(s.catalog)
          s"""{"itemId":"${item(i)}",${names(i)}}"""
        }.mkString("[", ",", "]")
        val row = kind(u) match {
          case 1 => s"""{"recommendations":$recs$tail"""
          case 2 => s"""{"queryUserId":"","recommendations":$recs$tail"""
          case 3 => s"""{"queryUserId":"${user(u)}","recommendations":[]$tail"""
          case _ => s"""{"queryUserId":"${user(u)}","recommendations":$recs$tail"""
        }
        if (kind(u) == 0) valid += 1 else invalid += 1
        w(u).write(row); w(u).write('\n'); lines += 1
      }
    }
    FanExpect(lines, valid, invalid, s.files)
  }
}
