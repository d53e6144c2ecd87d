package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.temporal.ChronoUnit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.adsb.Meta
import graft.operators.{Histogram, Paths, PeakHour}
import graft.queries.AdsbQueries

/** `frontend`: one client runs the reference frontend's calls, with
  * seeded parameters, against a warehouse built by the backfill code
  * path during set-up. The warehouse spans four Europe/Paris local
  * days, 25-28 October 2019, across the end of summer time. Each
  * round makes five calls: a landings histogram in hour bins, a
  * takeoffs histogram in day bins, `PeakHour.peakHoursAll`, the
  * GeoJSON path of one flight and `AdsbQueries.eventDetails`. A call's
  * time includes collecting its result. */
object Frontend extends Workload {

  val Zone: ZoneId = ZoneId.of("Europe/Paris")
  val T0: Instant = Instant.parse("2019-10-24T22:00:00Z") // 25 Oct, 00:00 Paris
  val SpacingSec = 3600
  val Slots = 97 // 97 local hours
  val WarmSeconds = 18.0
  val Families: Seq[String] = Seq("histogram", "peak_hour", "flight_path",
    "event_details")
  val CallsPerRound = 5

  /** One call: its family, parameters, time, task totals (traced runs)
    * and collected result. */
  final case class Call(family: String, params: Map[String, String],
      ms: Double, c: Counters, rows: Array[Row])

  /** What the calls need from the warehouse, read once in set-up. */
  final class Base(r: Run, val tables: Warehouse.Tables, in: Gen.Input) {
    private val spark = r.spark
    val events: DataFrame = spark.read.parquet(tables.events)
    val positions: DataFrame = spark.read.parquet(tables.positions)
    val out = Warehouse.taggedOut(spark, tables)
    val airlines: DataFrame = Meta.loadAirlines(spark)
    val countries: DataFrame = Meta.loadCountries(spark)
    /** (hexident, session_start, n_positions) of every flight. */
    val flights: Array[(String, java.sql.Timestamp, Long)] =
      spark.read.parquet(tables.flights)
        .select(col("hexident"), col("session_start"), col("n_positions"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
        .sortBy(f => (f._1, f._2.getTime))
    /** (kind, epoch micros) of every event. */
    val eventTimes: Array[(String, Long)] = events
      .select(col("kind"), unix_micros(col("time")))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    /** The local days the input covers. */
    val days: Seq[LocalDate] = {
      val first = Instant.ofEpochMilli(in.startMs).atZone(Zone).toLocalDate
      val last = Instant.ofEpochMilli(in.endMs).atZone(Zone).toLocalDate
      Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(last)).toSeq
    }
  }

  /** Two consecutive local days from a seeded start, so every call of
    * a family does the same amount of work whatever the seed. */
  private def dayRange(rnd: java.util.SplittableRandom,
      days: Seq[LocalDate]): (LocalDate, LocalDate) = {
    val a = days(rnd.nextInt(math.max(1, days.size - 1)))
    (a, a.plusDays(1))
  }

  /** The UTC `day` partitions that can hold local days [a, b]. */
  private def pruned(df: DataFrame, a: LocalDate, b: LocalDate): DataFrame =
    df.where(col("day").between(lit(a.minusDays(1).toString).cast("date"),
      lit(b.plusDays(1).toString).cast("date")))

  /** The five calls of round `round`, timed. */
  def round(b: Base, t: Trace, seed: Long, round: Int): Seq[Call] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + round)
    def call(family: String, params: Map[String, String])(
        body: => Array[Row]): Call = {
      val (rows, c, s) = t.measure(s"query.$family")(body)
      Call(family, params, s * 1000, c, rows)
    }
    val (h1, h2) = dayRange(rnd, b.days)
    val (k1, k2) = dayRange(rnd, b.days)
    val (p1, p2) = dayRange(rnd, b.days)
    val (e1, e2) = dayRange(rnd, b.days)
    val (fh, fs, _) = b.flights(rnd.nextInt(b.flights.length))
    def histogram(kind: String, bin: String, a: LocalDate, z: LocalDate) =
      call("histogram", Map("kind" -> kind, "bin" -> bin,
          "from" -> a.toString, "to" -> z.toString)) {
        Histogram.eventsHistogram(
          pruned(b.events, a, z).where(col("kind") === kind), col("time"),
          unix_micros(col("time")), s"$a 00:00:00", s"$z 00:00:00", bin,
          Some(Zone.getId)).collect()
      }
    def identity(kind: String) = pruned(b.events, p1, p2)
      .where(col("kind") === kind)
      .select(col("hexident"), col("session_start"), col("time"))
    Seq(
      histogram("landing", "hour", h1, h2),
      histogram("takeoff", "day", k1, k2),
      call("peak_hour", Map("from" -> p1.toString, "to" -> p2.toString)) {
        PeakHour.peakHoursAll(identity("landing"), identity("takeoff"),
          col("time"), p1.toString, p2.toString, Zone.getId).collect()
      },
      call("flight_path", Map("hexident" -> fh,
          "session_start" -> fs.getTime.toString)) {
        Paths.pathGeoJson(
          b.positions.where(col("hexident") === fh &&
            col("session_start") === lit(fs)),
          concat_ws("/", col("hexident"),
            unix_micros(col("session_start").cast("timestamp"))),
          col("time"), struct(col("lon"), col("lat")), col("lon"),
          col("lat")).collect()
      },
      call("event_details", Map("from" -> e1.toString, "to" -> e2.toString)) {
        val lo = e1.atStartOfDay(Zone).toInstant
        val hi = e2.plusDays(1).atStartOfDay(Zone).toInstant
        AdsbQueries.eventDetails(
          b.out.where(col("kind") === "flight" ||
            (col("time") >= lit(java.sql.Timestamp.from(lo)) &&
              col("time") < lit(java.sql.Timestamp.from(hi)))),
          b.airlines, b.countries).collect()
      })
  }

  /** `rounds` rounds of calls. */
  def calls(r: Run, t: Trace, tables: Warehouse.Tables, in: Gen.Input,
      rounds: Int): Seq[Call] = {
    val b = new Base(r, tables, in)
    (0 until rounds).flatMap(round(b, t, r.args.seed, _))
  }

  // ---- checks: brute force over the warehouse's event times ----

  private def local(us: Long): LocalDateTime =
    LocalDateTime.ofInstant(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L), Zone)

  private def utc(l: LocalDateTime): LocalDateTime =
    LocalDateTime.ofInstant(l.atZone(Zone).toInstant, ZoneOffset.UTC)

  /** Expected (datetime, events) rows of a gap-filled local histogram
    * with the reference's 23 h end extension. */
  def histogramExpected(times: Seq[Long], bin: String, a: LocalDate,
      z: LocalDate): Seq[(LocalDateTime, Option[Long])] = {
    val unit = if (bin == "hour") ChronoUnit.HOURS else ChronoUnit.DAYS
    val first = a.atStartOfDay
    val last = z.atStartOfDay.plusHours(23).truncatedTo(unit)
    val counts = times.map(us => local(us).truncatedTo(unit))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    Iterator.iterate(first)(_.plus(1, unit)).takeWhile(!_.isAfter(last))
      .map(l => utc(l) -> counts.get(l)).toSeq
  }

  /** Expected (peak_hour, events) rows: per local day, the highest
    * trailing-hour event count, latest label first on ties. */
  def peakExpected(times: Seq[Long], a: LocalDate,
      z: LocalDate): Seq[(LocalDateTime, Long)] = {
    val half = 1800L * 1000000L
    def micros(d: LocalDate) = {
      val i = d.atStartOfDay(Zone).toInstant
      i.getEpochSecond * 1000000L + half
    }
    val in = times.filter(t => t >= micros(a) && t < micros(z)).sorted
    val counted = in.map { t =>
      val n = in.count(u => u >= t - 2 * half && u <= t)
      val label = LocalDateTime.ofEpochSecond(Math.floorDiv(t - half, 1000000L), 0,
        ZoneOffset.UTC).truncatedTo(ChronoUnit.MINUTES)
      (label, n.toLong)
    }
    counted.groupBy { case (l, _) =>
      LocalDateTime.ofInstant(l.toInstant(ZoneOffset.UTC), Zone).toLocalDate
    }.values.map(_.maxBy { case (l, n) => (n, l.toEpochSecond(ZoneOffset.UTC)) })
      .toSeq.sortBy { case (l, n) => (-n, -l.toEpochSecond(ZoneOffset.UTC)) }
  }

  private def ntz(v: Any): LocalDateTime = v match {
    case l: LocalDateTime => l
    case t: java.sql.Timestamp => t.toLocalDateTime
  }

  /** Airline name by ICAO code, read from the bundled CSV directly. */
  private lazy val airlineNames: Map[String, String] = {
    val src = scala.io.Source.fromFile(Meta.resourcePath("airlines.csv"), "UTF-8")
    try src.getLines().drop(1).map(_.split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1))
      .filter(_.length > 4)
      .map(f => f(4).trim.stripPrefix("\"").stripSuffix("\"") ->
        f(1).trim.stripPrefix("\"").stripSuffix("\""))
      .toSeq.groupBy(_._1).collect { case (k, Seq(v)) => k -> v._2 }
    finally src.close()
  }

  /** The mismatch of one call, if any. */
  def check(b: Base, c: Call): Option[String] = {
    def kindTimes(k: String) = b.eventTimes.collect { case (`k`, t) => t }.toSeq
    val p = c.params
    c.family match {
      case "histogram" =>
        val want = histogramExpected(kindTimes(p("kind")), p("bin"),
          LocalDate.parse(p("from")), LocalDate.parse(p("to")))
        val got = c.rows.map(r => ntz(r.get(0)) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
        if (got == want) None else Some(s"histogram $p: ${got.size} bins " +
          s"differ from ${want.size} expected")
      case "peak_hour" =>
        val want = peakExpected(b.eventTimes.map(_._2).toSeq,
          LocalDate.parse(p("from")), LocalDate.parse(p("to")))
        val got = c.rows.map(r => ntz(r.get(0)) -> r.getLong(1)).toSeq
        if (got == want) None else Some(s"peak hours $p: $got != $want")
      case "flight_path" =>
        val n = b.flights.find(f => f._1 == p("hexident") &&
          f._2.getTime.toString == p("session_start")).map(_._3).getOrElse(-1L)
        val points = c.rows.headOption.map(_.getString(1))
          .map(_.split("\\],\\[").length.toLong).getOrElse(0L)
        if (points == n) None else Some(s"path $p: $points points, n_positions $n")
      case "event_details" =>
        val lo = LocalDate.parse(p("from")).atStartOfDay(Zone).toInstant
        val hi = LocalDate.parse(p("to")).plusDays(1).atStartOfDay(Zone).toInstant
        def us(i: Instant) = i.getEpochSecond * 1000000L
        val want = b.eventTimes.count(e => e._2 >= us(lo) && e._2 < us(hi))
        val airlines = c.rows.count { r =>
          val cs = Option(r.getAs[String]("callsign")).map(_.take(3))
          cs.flatMap(airlineNames.get) == Option(r.getAs[String]("airline"))
        }
        if (c.rows.length == want && airlines == want) None
        else Some(s"event details $p: ${c.rows.length} rows " +
          s"($airlines with their airline), $want events")
    }
  }

  def run(r: Run, t: Trace, sessionS: Double): Outcome = {
    val a = r.args
    val input = r.path("frontend.txt")
    var in: Gen.Input = null
    var tables: Warehouse.Tables = null
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime
      in = Gen.generate(a.seed, Slots, SpacingSec, T0)
      Gen.writeOne(in, input)
      tables = Warehouse.build(r.spark, input.toString, r.fresh("warehouse"))
      (System.nanoTime - t0) / 1e9
    }
    Main.log(s"frontend: ${in.lineCount} lines, crc ${in.crc}, " +
      s"set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    val ops = new Ops
    val whBad = Warehouse.check(r.spark, tables, in)
    whBad.foreach(w => Main.log(s"frontend warehouse: $w"))
    val b = new Base(r, tables, in)
    // warm-up rounds, with other parameters
    val warmEnd = System.nanoTime + (WarmSeconds * 1e9).toLong
    var w = 0
    while (w < 1 || System.nanoTime < warmEnd) { round(b, t, a.seed + 1, w); w += 1 }
    t.drain()
    val c0 = t.tasks.snapshot
    val host0 = HostCpu.sample()
    val rounds = ArrayBuffer.empty[Seq[Call]]
    t.span("frontend.window") {
      while (rounds.map(_.map(_.ms).sum).sum < a.seconds * 1000)
        rounds += round(b, t, a.seed, rounds.size)
    }
    val cs = rounds.flatten
    t.drain()
    val window = t.tasks.snapshot - c0
    val foreign = HostCpu.sample().foreignSince(host0)
    cs.foreach { c =>
      val bad = if (whBad.nonEmpty) Some("warehouse") else check(b, c)
      bad.foreach(x => Main.log(s"frontend check: $x"))
      ops.record(bad.isEmpty, s"frontend ${c.family}")
    }
    val ms = cs.map(_.ms).toSeq
    val pages = rounds.map(_.map(_.ms).sum).toSeq
    Main.log("frontend: p50 by family " + Families.map(f =>
      f"$f ${Stats.median(cs.filter(_.family == f).map(_.ms).toSeq)}%.0f").mkString(", ") + " ms")
    Main.log(f"frontend: ${pages.size} rounds, " +
      pages.map(p => f"$p%.0f").mkString(" ") + " ms")
    Main.log(f"frontend: ${ms.size} calls, p50 ${Stats.median(ms)}%.1f ms" +
      Stats.tail(ms).fold("")(x => f", p${x._1} ${x._2}%.1f ms") +
      f", host.foreign_cpu_s $foreign%.2f")
    val e2e = Seq(
      Metric("setup_s", sessionS + Stats.median(setups), "s"),
      Metric("op_ms_p50", Stats.median(pages), "ms"),
      Metric("sink_bytes", r.bytesUnder(tables.root).toDouble, "bytes"))
    val layers = if (!t.enabled) Nil else
      Layers.queries(cs.toSeq) ++ Layers.host(window, foreign) ++
        Layers.sides(r, t, in, input.toString, Set("query"), tables)
    Outcome(ops, e2e, layers)
  }
}
