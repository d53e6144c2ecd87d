package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.adsb.{AdsbPipeline, Sbs}
import graft.streaming.AdsbStream

/** `live`: the reference's live path, `AdsbStream.startJdbc` into an
  * embedded Derby store. One slot file arrives per trigger
  * (`maxFilesPerTrigger` 1) and the loop is closed: the trigger is
  * `ProcessingTime(0)`, so the next trigger starts when the previous
  * commit ends, and the feeder keeps two files waiting so the stream
  * never idles. */
object Live extends Workload {

  val SpacingSec = 320
  val T0: Instant = Instant.parse("2019-10-24T22:00:00Z")
  /** Triggers and seconds of warm-up before the window: the JIT
    * compiler keeps over a core busy for the stream's first ~20 s. */
  val WarmTriggers = 6
  val WarmSeconds = 12.0

  /** The three live tables of one epoch, as `startJdbc` projects them
    * (without its `batch_id`). */
  def tables(out: DataFrame): Map[String, DataFrame] = Map(
    "flights_live" -> out.where(col("kind") === "flight")
      .select(col("hexident"), col("session_start"), col("first_seen"),
        col("last_seen"), col("callsign"), col("n_positions")),
    "positions_live" -> out.where(col("kind") === "position")
      .select(col("hexident"), col("session_start"), col("time"),
        col("lon"), col("lat"), col("alt_m"), col("onground")),
    "events_live" -> out.where(col("kind") === "landing" ||
        col("kind") === "takeoff")
      .select(col("kind"), col("hexident"), col("session_start"),
        col("time"), col("runway")))

  def shutdownDerby(url: String): Unit = {
    val db = url.stripPrefix("jdbc:derby:").takeWhile(_ != ';')
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 means shut down
  }

  /** Write the first `n` slots of `in`, one file per slot, with
    * modification times one second apart in slot order (the file
    * source takes the oldest file first). */
  def stage(r: Run, in: Gen.Input, n: Int): Path = {
    val dir = r.fresh("live-staging")
    val base = System.currentTimeMillis
    in.slots.take(n).zipWithIndex.foreach { case (s, i) =>
      val p = dir.resolve(f"slot-$i%06d.txt")
      Gen.write(s.iterator, p)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    dir
  }

  final case class Drive(warmTriggers: Int, warmSeconds: Double = 0,
      seconds: Double = Double.MaxValue, maxTriggers: Int = Int.MaxValue,
      sentinels: Boolean = false)

  /** A driven stream: the measured triggers, the task totals over the
    * window and how many slots went in. */
  final case class Driven(measured: Seq[StreamingQueryProgress],
      counters: Counters, slots: Int, url: String, foreignS: Double)

  def drive(r: Run, t: Trace, in: Gen.Input, d: Drive,
      staged: Option[Path] = None): Driven = {
    val spark = r.spark
    val total = math.min(in.slots.size,
      if (d.maxTriggers == Int.MaxValue) in.slots.size
      else d.warmTriggers + d.maxTriggers)
    val staging = staged.getOrElse(stage(r, in, total))
    val files = Files.list(staging).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.getFileName.toString).take(total)
    val inDir = r.fresh("live-in")
    val url = s"jdbc:derby:${r.fresh("live-derby").resolve("db")};create=true"
    val q = t.span("stream.start") {
      AdsbStream.startJdbc(
        spark.readStream.option("maxFilesPerTrigger", "1").text(inDir.toString),
        url, "app", "app", r.fresh("live-checkpoint").toString,
        Trigger.ProcessingTime(0L))
    }
    var placed = 0
    def put(p: Path): Unit =
      Files.move(p, inDir.resolve(p.getFileName), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    def done: Int = q.recentProgress.count(_.numInputRows > 0)
    def alive(): Unit = q.exception.foreach(e => throw e)
    /** Keep two files waiting until `until` holds, then let the
      * stream drain what was placed. */
    def feed(until: => Boolean): Unit = {
      while (!until && placed < files.length) {
        while (placed - done < 2 && placed < files.length) {
          put(files(placed)); placed += 1
        }
        alive()
        Thread.sleep(2)
      }
      while (done < placed) { alive(); Thread.sleep(2) }
    }
    try {
      val warmEnd = System.currentTimeMillis + (d.warmSeconds * 1000).toLong
      feed(done >= d.warmTriggers && System.currentTimeMillis >= warmEnd)
      val warmIds = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId).toSet
      val placed0 = placed
      val host0 = HostCpu.sample()
      t.drain()
      val c0 = t.tasks.snapshot
      val w0 = System.currentTimeMillis
      val wEnd = if (d.seconds == Double.MaxValue) Long.MaxValue
        else w0 + (d.seconds * 1000).toLong
      t.span("stream.window") {
        feed(System.currentTimeMillis >= wEnd ||
          placed - placed0 >= d.maxTriggers)
      }
      t.drain()
      val c = t.tasks.snapshot - c0
      val foreign = HostCpu.sample().foreignSince(host0)
      val measured = q.recentProgress.toSeq.filter(p => p.numInputRows > 0 &&
        !warmIds(p.batchId) && Instant.parse(p.timestamp).toEpochMilli < wEnd)
      if (d.sentinels) Seq(1200, 1300).zipWithIndex.foreach { case (s, i) =>
        val p = staging.resolve(s"sentinel-$i.txt")
        Gen.write(Iterator(Gen.sentinel(in, s)), p)
        put(p)
        q.processAllAvailable()
      }
      Driven(measured, c, placed, url, foreign)
    } finally {
      q.stop()
      alive()
    }
  }

  /** Derby tables against the batch fold over the same slots, with the
    * generator's counts; returns the mismatches. */
  def check(r: Run, in: Gen.Input, d: Driven): Seq[String] = {
    val spark = r.spark
    import spark.implicits._
    // strings land as CLOB, which Derby cannot compare: filter in Spark
    def read(table: String) = spark.read.format("jdbc").option("url", d.url)
      .option("dbtable", table).option("user", "app")
      .option("password", "app").option("pushDownPredicate", "false").load()
    val lines = in.slots.take(d.slots).flatten.toSeq.toDF("value")
      .withColumn("seq", xxhash64(col("value")))
    val out = AdsbPipeline.process(Sbs.messages(lines)).toDF().cache()
    val exp = Gen.expected(d.slots)
    val want = Map("flights_live" -> exp.flights,
      "positions_live" -> exp.positions, "events_live" -> exp.events)
    val sentinel = Gen.sentinelId(in)
    try tables(out).toSeq.flatMap { case (name, b) =>
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val s = rows(read(name).drop("batch_id")
        .where(col("hexident") =!= sentinel).select(b.columns.map(col): _*))
      val fold = rows(b)
      (if (s != fold) Seq(s"$name: ${s.diff(fold).size} rows not in the " +
        s"batch fold, ${fold.diff(s).size} missing") else Nil) ++
        (if (s.size != want(name)) Seq(s"$name: ${s.size} rows, expected ${want(name)}")
        else Nil)
    } finally out.unpersist()
  }

  def run(r: Run, t: Trace, sessionS: Double): Outcome = {
    val a = r.args
    val slots = math.ceil((WarmSeconds + a.seconds) * 4).toInt + 10
    var in: Gen.Input = null
    var staged: Path = null
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime
      in = Gen.generate(a.seed, slots, SpacingSec, T0)
      staged = stage(r, in, slots)
      (System.nanoTime - t0) / 1e9
    }
    Main.log(s"live: $slots slots staged, crc ${in.crc}")
    Main.log("live: starting the stream")
    val d = drive(r, t, in, Drive(WarmTriggers, WarmSeconds, a.seconds,
      sentinels = true), Some(staged))
    if (d.slots >= slots) Main.log("live: ran out of staged slots")
    val ms = d.measured.map(p => p.durationMs.get("triggerExecution").doubleValue)
    val rows = d.measured.map(_.numInputRows).sum
    Main.log(f"live: ${ms.size} triggers, p50 ${Stats.median(ms)}%.1f ms" +
      Stats.tail(ms).fold("")(x => f", p${x._1} ${x._2}%.1f ms") +
      f", host.foreign_cpu_s ${d.foreignS}%.2f")
    val ops = new Ops
    Main.log("live: checking")
    val bad = check(r, in, d)
    bad.foreach(b => Main.log(s"live check: $b"))
    (1 to d.slots).foreach(_ => ops.record(bad.isEmpty, "live trigger output"))
    val e2e = Seq(
      Metric("setup_s", sessionS + Stats.median(setups), "s"),
      Metric("op_ms_p50", Stats.median(ms), "ms"),
      Metric("stream_msgs_per_s", rows / (ms.sum / 1000.0), "msgs/s"))
    val layers = if (!t.enabled) Nil else {
      val input = r.path("live-all.txt")
      Gen.writeOne(in, input)
      Layers.stream(d.measured, d.counters) ++
        Layers.host(d.counters, d.foreignS) ++
        Layers.sides(r, t, in, input.toString, Set("stream"),
          Warehouse.build(r.spark, input.toString, r.fresh("live-warehouse")))
    }
    shutdownDerby(d.url)
    Outcome(ops, e2e, layers)
  }
}
