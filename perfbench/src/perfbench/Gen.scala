package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

/** Seeded SBS-1 input generator.
  *
  * The input is a sequence of slots. Each slot holds one tile of the
  * reference capture (`adsb_message_stream.txt`, 2,070 lines, 84
  * aircraft over 1.65 s), one tile of the golden landings fixture
  * (`adsb_golden_landings.txt`, four aircraft), and a fixed set of
  * planted lines:
  *
  *  - `fields`: the faulty fixture's MSG7 cut to 19 fields;
  *  - `regex`: a valid line whose hexident is lowercase;
  *  - `millis`: a valid line with 2-digit milliseconds;
  *  - `date`: a valid line dated February 30;
  *  - two inadmissible messages: the faulty fixture's MSG7 at -25 ft
  *    and its MSG3 at -1000 ft, each for an aircraft not otherwise
  *    seen, so the state machine drops them at admission.
  *
  * Every aircraft gets a hexident unique to its slot; each golden
  * aircraft keeps its own message timing but starts at a seeded
  * offset into the slot. Slots start `spacingSec` apart (plus a seeded
  * jitter below 20 s), so no slot overlaps the next in event time.
  *
  * The expected counts are computed here, from the fixture lines alone,
  * by a small fold written for this purpose (admission, position
  * append); Spark plays no part in them.
  */
object Gen {

  val GoldenIds: Seq[String] = Seq("AAA111", "BBB222", "CCC333", "DDD444")

  /** The reference's golden events per golden aircraft, in time order:
    * (kind, runway). FIXTURES.md §1 and the golden fixture comments. */
  val GoldenEvents: Map[String, Seq[(String, String)]] = Map(
    "AAA111" -> Seq("landing" -> "21"),
    "BBB222" -> Seq("landing" -> "03"),
    "CCC333" -> Seq("takeoff" -> "03"),
    "DDD444" -> Seq("landing" -> "21", "landing" -> "21"))

  /** Lines the parser must reject, per slot, by rule. The 2-digit
    * millis rule is left out of the generated input: the parser admits
    * such lines (see [[ruleProbes]]), and one in every slot would fail
    * every check of every run instead of showing as one standing
    * failure. */
  val RejectedPerSlot: Map[String, Int] =
    Map("fields" -> 1, "regex" -> 1, "date" -> 1)
  private val Planted = RejectedPerSlot.keySet + "inadmissible"
  /** Parsed lines the state machine must drop at admission, per slot. */
  val InadmissiblePerSlot = 2

  private val fmtDate = DateTimeFormatter.ofPattern("yyyy/MM/dd")
  private val fmtTime = DateTimeFormatter.ofPattern("HH:mm:ss.SSS")

  private def resource(name: String): Vector[String] = {
    val in = getClass.getResourceAsStream(s"/adsb/$name")
    require(in != null, s"missing fixture $name on the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }

  private def epochMs(date: String, time: String): Long =
    LocalDateTime.parse(s"${date.replace('/', '-')}T$time")
      .toInstant(ZoneOffset.UTC).toEpochMilli

  /** One fixture line split into fields, with its times relative to a
    * base instant. */
  private final case class Src(f: Array[String], genRel: Long, logRel: Long)

  private def load(name: String): Vector[Src] = {
    val raw = resource(name).map(_.split(",", -1))
    val base = raw.map(f => epochMs(f(6), f(7))).min
    raw.map(f => Src(f, epochMs(f(6), f(7)) - base,
      epochMs(f(8), f(9)) - base))
  }

  private lazy val capture = load("adsb_message_stream.txt")
  private lazy val golden = load("adsb_golden_landings.txt")
  private lazy val faulty = resource("adsb_messages_faulty.txt")
    .map(_.split(",", -1))
  private lazy val captureIds = capture.map(_.f(4)).distinct

  /** Flights and positions the state machine opens and appends for one
    * set of fixture lines, folded per aircraft in (time, line) order. */
  private def foldCounts(lines: Seq[Src]): (Int, Int) = {
    var flights = 0
    var positions = 0
    lines.zipWithIndex.groupBy(_._1.f(4)).values.foreach { ms =>
      var open = false
      ms.sortBy { case (s, i) => (s.genRel, i) }.foreach { case (s, _) =>
        val f = s.f
        val t = f(1)
        val alt = f(11)
        if (!open && (t == "2" || (t == "3" && alt.nonEmpty &&
            alt.toInt > -1000 && alt.toInt < 100000))) {
          open = true; flights += 1
        }
        if (open && f(14).nonEmpty && f(15).nonEmpty &&
            (t == "2" || (t == "3" && alt.nonEmpty))) positions += 1
      }
    }
    (flights, positions)
  }

  /** Expected output of the program over `slots` slots. */
  final case class Expected(slots: Int, lines: Long, accepted: Long,
      flights: Long, positions: Long, landings: Long, takeoffs: Long) {
    def events: Long = landings + takeoffs
  }

  lazy val perSlot: Expected = {
    val (fc, pc) = foldCounts(capture)
    val (fg, pg) = foldCounts(golden)
    val planted = RejectedPerSlot.values.sum + InadmissiblePerSlot
    val lines = capture.size + golden.size + planted
    val ev = GoldenEvents.values.flatten.toSeq
    Expected(1, lines, lines - RejectedPerSlot.values.sum, fc + fg,
      pc + pg, ev.count(_._1 == "landing"), ev.count(_._1 == "takeoff"))
  }

  def expected(slots: Int): Expected = {
    val p = perSlot
    Expected(slots, p.lines * slots, p.accepted * slots,
      p.flights * slots, p.positions * slots, p.landings * slots,
      p.takeoffs * slots)
  }

  /** A generated input: its slots' lines, and for every slot the
    * hexident each golden aircraft was given. */
  final case class Input(seed: Long, slots: Vector[Array[String]],
      golden: Vector[Map[String, String]], startMs: Long, endMs: Long,
      mask: Int) {
    def lineCount: Long = slots.iterator.map(_.length.toLong).sum
    def expected: Expected = Gen.expected(slots.size)
    /** golden hexident → original golden id, over all slots. */
    lazy val goldenOf: Map[String, String] =
      golden.iterator.flatMap(_.iterator.map(_.swap)).toMap
    def crc: Long = {
      val c = new java.util.zip.CRC32
      slots.foreach(_.foreach { l =>
        c.update(l.getBytes("US-ASCII")); c.update('\n')
      })
      c.getValue
    }
  }

  private def stamp(gen: Long): (String, String) = {
    val t = LocalDateTime.ofEpochSecond(Math.floorDiv(gen, 1000L),
      (Math.floorMod(gen, 1000L) * 1000000L).toInt, ZoneOffset.UTC)
    (t.format(fmtDate), t.format(fmtTime))
  }

  /** `f` with hexident `id` and its two times moved to `gen`/`log`. */
  private def moved(f: Array[String], id: String, gen: Long,
      log: Long): Array[String] = {
    val c = f.clone()
    c(4) = id
    val (gd, gt) = stamp(gen); c(6) = gd; c(7) = gt
    val (ld, lt) = stamp(log); c(8) = ld; c(9) = lt
    c
  }

  /** One line per parse rule and two inadmissible messages, each for a
    * fresh aircraft from `id` at a time from `time`: (rule, line). */
  private def planted(id: () => String, time: () => Long): Seq[(String, String)] = {
    def at(f: Array[String]) = { val t = time(); moved(f, id(), t, t) }
    val msg7 = faulty.find(f => f(1) == "7" && f(11) == "-25").get
    val msg3 = faulty.find(f => f(1) == "3").get
    val valid = msg3.updated(11, "900")
    val fields = at(faulty.find(f => f(1) == "7" && f(11) == "-1000").get)
      .take(19)
    val lower = at(valid)
    lower(4) = "ab" + lower(4).drop(2).toLowerCase
    val millis = at(valid)
    millis(7) = millis(7).dropRight(1)
    val date = at(valid)
    date(6) = date(6).take(5) + "02/30"
    Seq("fields" -> fields, "regex" -> lower, "millis" -> millis,
      "date" -> date, "inadmissible" -> at(msg7),
      "inadmissible" -> at(msg3.updated(11, "-1000")))
      .map { case (k, f) => k -> f.mkString(",") }
  }

  /** A hexident no slot uses: the one of the last slot number, which
    * `generate` never reaches. */
  def sentinelId(in: Input): String = f"${((1 << 24) - 1) ^ in.mask}%06X"

  /** A valid ground MSG2 for the sentinel aircraft `afterSec` seconds
    * after the input's last slot: its watermark closes every session. */
  def sentinel(in: Input, afterSec: Int): String = {
    val t = in.endMs + afterSec * 1000L
    moved(golden.find(_.f(1) == "2").get.f, sentinelId(in), t, t)
      .mkString(",")
  }

  /** Fixed lines, independent of any seed: one per parse rule, each of
    * which the parser must reject, plus a valid control line. */
  lazy val ruleProbes: Seq[(String, String)] = {
    val t0 = epochMs("2019/10/20", "12:00:00.000")
    var k = 0
    val ps = planted(() => { k += 1; f"FB$k%04X" }, () => t0 + k * 1000L)
      .filter(_._1 != "inadmissible")
    ps :+ ("control" -> moved(golden.head.f, "FB0000", t0, t0).mkString(","))
  }

  /** Generate `slots` slots, the first starting at `t0`. */
  def generate(seed: Long, slots: Int, spacingSec: Int,
      t0: Instant): Input = {
    require(slots < (1 << 17), "hexident space holds 2^17 slots")
    val rnd = new java.util.SplittableRandom(seed)
    val mask = rnd.nextInt(1 << 24)
    def hex(slot: Int, k: Int) = f"${((slot << 7) | k) ^ mask}%06X"
    val captureIdx = captureIds.zipWithIndex.toMap
    val out = Vector.newBuilder[Array[String]]
    val goldenIds = Vector.newBuilder[Map[String, String]]
    var lastMs = 0L
    for (s <- 0 until slots) {
      val start = t0.toEpochMilli + s * spacingSec * 1000L +
        rnd.nextInt(20000)
      val rows = ArrayBuffer.empty[String]
      capture.foreach { src =>
        rows += moved(src.f, hex(s, captureIdx(src.f(4))),
          start + src.genRel, start + src.logRel).mkString(",")
      }
      // each golden aircraft keeps its own timing from a seeded offset
      val gmap = GoldenIds.zipWithIndex.map { case (g, i) =>
        g -> hex(s, captureIds.size + i)
      }.toMap
      GoldenIds.foreach { g =>
        val own = golden.filter(_.f(4) == g)
        val off = start + rnd.nextInt(2000) - own.map(_.genRel).min
        own.foreach { src =>
          insert(rows, rnd, moved(src.f, gmap(g), off + src.genRel,
            off + src.logRel).mkString(","))
        }
      }
      var k = captureIds.size + GoldenIds.size
      planted(() => { k += 1; hex(s, k) }, () => start + rnd.nextInt(1600))
        .collect { case (rule, l) if Planted.contains(rule) => l }
        .foreach(insert(rows, rnd, _))
      lastMs = math.max(lastMs, start + 30000L)
      out += rows.toArray
      goldenIds += gmap
    }
    Input(seed, out.result(), goldenIds.result(), t0.toEpochMilli, lastMs,
      mask)
  }

  private def insert(rows: ArrayBuffer[String],
      rnd: java.util.SplittableRandom, l: String): Unit =
    rows.insert(rnd.nextInt(rows.size + 1), l)

  /** Write all slots to one text file. */
  def writeOne(in: Input, path: java.nio.file.Path): Long =
    write(in.slots.iterator.flatMap(_.iterator), path)

  def write(lines: Iterator[String], path: java.nio.file.Path): Long = {
    val w = java.nio.file.Files.newBufferedWriter(path,
      java.nio.charset.StandardCharsets.US_ASCII)
    var n = 0L
    try lines.foreach { l => w.write(l); w.write('\n'); n += 1 }
    finally w.close()
    n
  }
}
