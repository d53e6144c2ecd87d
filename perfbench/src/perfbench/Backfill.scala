package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.adsb.Sbs

/** `backfill`: a scaled capture runs in batch through the warehouse
  * build (`Sbs.messages` → `AdsbPipeline.process` → three tables), one
  * pass after another. No query runs; parse and the sort-fold
  * sessionizer do most of the work.
  *
  * A round is one pass plus the four parse-rule probes of
  * [[Gen.ruleProbes]]. The probes run on fixed lines after the timed
  * region; the 2-digit millis probe fails in every round, because
  * `Sbs.parse` admits such lines, and counts in `failed`. */
object Backfill extends Workload {

  val Slots = 192
  val SpacingSec = 320
  val T0: Instant = Instant.parse("2019-10-24T22:00:00Z")
  val WarmSlots = 24
  val WarmSeconds = 14.0

  /** Rule → whether the parser handled that probe line right: rejected
    * it, or for "control", the valid line, accepted it. */
  def probe(r: Run): Map[String, Boolean] = {
    val spark = r.spark
    import spark.implicits._
    val ps = Gen.ruleProbes
    val accepted = Sbs.messages(ps.map(_._2).zipWithIndex
        .map { case (l, i) => (l, i.toLong) }.toDF("value", "seq"))
      .select(col("seq")).as[Long].collect().toSet
    ps.zipWithIndex.map { case ((rule, _), i) =>
      rule -> (if (rule == "control") accepted(i.toLong) else !accepted(i.toLong))
    }.toMap
  }

  def run(r: Run, t: Trace, sessionS: Double): Outcome = {
    val a = r.args
    val spark = r.spark
    val input = r.path("backfill.txt")
    var in: Gen.Input = null
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime
      in = Gen.generate(a.seed, Slots, SpacingSec, T0)
      Gen.writeOne(in, input)
      (System.nanoTime - t0) / 1e9
    }
    val lines = in.lineCount
    Main.log(s"backfill: $lines lines, crc ${in.crc}")

    // warm-up: passes over a small prefix, then full passes until the
    // JIT compiler has had WarmSeconds
    val warm = r.path("backfill-warm.txt")
    Gen.write(in.slots.take(WarmSlots).iterator.flatMap(_.iterator), warm)
    val warmEnd = System.nanoTime + (WarmSeconds * 1e9).toLong
    (1 to 3).foreach(_ => Warehouse.build(spark, warm.toString, r.fresh("warm")))
    while (System.nanoTime < warmEnd)
      Warehouse.build(spark, input.toString, r.fresh("warm"))

    t.drain()
    val c0 = t.tasks.snapshot
    val host0 = HostCpu.sample()
    val passes = ArrayBuffer.empty[(Double, Warehouse.Tables)]
    t.span("backfill.window") {
      while (passes.map(_._1).sum < a.seconds) {
        val out = r.fresh("warehouse")
        val t0 = System.nanoTime
        val tables = t.span("backfill")(Warehouse.build(spark, input.toString, out))
        passes += ((System.nanoTime - t0) / 1e9 -> tables)
      }
    }
    t.drain()
    val window = t.tasks.snapshot - c0
    val foreign = HostCpu.sample().foreignSince(host0)

    // checks, outside the timed region
    val ops = new Ops
    val accepted = Sbs.messages(spark.read.text(input.toString)).count()
    val acceptedOk = accepted == in.expected.accepted
    if (!acceptedOk) Main.log(s"backfill check: $accepted rows accepted, " +
      s"expected ${in.expected.accepted}")
    passes.foreach { case (_, tables) =>
      val bad = Warehouse.check(spark, tables, in)
      bad.foreach(b => Main.log(s"backfill check: $b"))
      ops.record(acceptedOk && bad.isEmpty, "backfill pass output")
      probe(r).foreach { case (rule, ok) => ops.probe(ok, s"parse rule $rule") }
    }
    val secs = passes.map(_._1).toSeq
    Main.log(f"backfill: ${secs.size} passes, " +
      secs.map(s => f"$s%.3f").mkString(" ") + f" s, host.foreign_cpu_s $foreign%.2f")
    val e2e = Seq(
      Metric("setup_s", sessionS + Stats.median(setups), "s"),
      Metric("op_ms_p50", Stats.median(secs) * 1000, "ms"),
      Metric("sink_bytes", r.bytesUnder(passes.last._2.root).toDouble, "bytes"))
    val layers = if (!t.enabled) Nil else
      Layers.host(window, foreign) ++
        Layers.sides(r, t, in, input.toString, Set.empty, passes.head._2)
    Outcome(ops, e2e, layers)
  }
}
