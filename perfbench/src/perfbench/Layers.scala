package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.adsb.{AdsbMsg, AdsbPipeline, FlightStateMachine, Sbs}
import graft.sources.Sinks

/** Per-layer metrics of a traced run. A workload measures the layers
  * it runs through in its own traced run; the rest are measured here
  * at a fixed size over the workload's input, so that every traced run
  * reports every layer. */
object Layers {

  private def m(name: String, value: Double, unit: String) = Metric(name, value, unit)

  /** `Sbs`, `AdsbPipeline` and the parquet half of `Sinks`: three
    * parse-only passes and three traced backfills; the medians count. */
  def batch(r: Run, t: Trace, input: String, lines: Long): Seq[Metric] = {
    val spark = r.spark
    def median(xs: Seq[(Counters, Double)]) = xs.sortBy(_._2).apply(xs.size / 2)
    val (cp, parseS) = median((1 to 3).map { _ =>
      val (_, c, s) = t.measure("sbs.parse") {
        Sbs.messages(spark.read.text(input)).write.format("noop")
          .mode("overwrite").save()
      }
      (c, s)
    })
    val rowsOut = Sbs.messages(spark.read.text(input)).count()
    val steps = mutable.Map.empty[String, Seq[(Counters, Double)]]
    var out: java.nio.file.Path = null
    (1 to 3).foreach { _ =>
      out = r.fresh("layers-warehouse")
      t.span("backfill") {
        Warehouse.build(spark, input, out, name => body => {
          val (_, c, s) = t.measure(name)(body)
          steps(name) = steps.getOrElse(name, Nil) :+ (c -> s)
        })
      }
    }
    val (cpp, spp) = median(steps("pipeline"))
    val (cw, sw) = median(steps("sinks"))
    Seq(
      m("sbs.parse_s", parseS, "s"),
      m("sbs.cpu_s", cp.cpuS, "s"),
      m("sbs.lines_in", lines.toDouble, "count"),
      m("sbs.rows_out", rowsOut.toDouble, "count"),
      m("sbs.accept_ratio", rowsOut.toDouble / lines, "ratio"),
      m("sbs.jobs", cp.jobs.toDouble, "count"),
      m("sbs.tasks", cp.tasks.toDouble, "count"),
      m("pipeline.self_s", spp - parseS, "s"),
      m("pipeline.cpu_s", cpp.cpuS - cp.cpuS, "s"),
      m("pipeline.gc_s", cpp.gcMs / 1000.0, "s"),
      m("pipeline.shuffle_write_bytes", cpp.shuffleWrite.toDouble, "bytes"),
      m("pipeline.shuffle_read_bytes", cpp.shuffleRead.toDouble, "bytes"),
      m("pipeline.spill_bytes", cpp.spill.toDouble, "bytes"),
      m("pipeline.tasks", cpp.tasks.toDouble, "count"),
      m("pipeline.task_skew", cpp.skew, "ratio"),
      m("sinks.write_s", sw, "s"),
      m("sinks.bytes_written", r.bytesUnder(out).toDouble, "bytes"),
      m("sinks.files_written", r.filesUnder(out, ".parquet").toDouble, "count"),
      m("sinks.jobs", cw.jobs.toDouble, "count"))
  }

  /** Parsed messages of the first `slots` slots, in input order. */
  private def messages(r: Run, in: Gen.Input, slots: Int): Array[AdsbMsg] = {
    val spark = r.spark
    import spark.implicits._
    val lines = in.slots.take(slots).flatten.toSeq
    Sbs.messages(lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }
      .toDF("value", "seq")).collect().sortBy(_.seq)
  }

  /** `FlightStateMachine`: the single-threaded `processSorted` fold over
    * a pre-sorted slice of 32 slots, repeated for a second. */
  def fsm(r: Run, t: Trace, in: Gen.Input): Seq[Metric] = {
    val msgs = messages(r, in, 32).sortBy(m =>
      (m.hexident, FlightStateMachine.micros(m.gen_date_time), m.seq))
    val runs = msgs.groupBy(_.hexident).values.map(_.sortBy(m =>
      (FlightStateMachine.micros(m.gen_date_time), m.seq))).toArray
    def fold(): Long = runs.iterator.map(run =>
      FlightStateMachine.processSorted(run.iterator).size.toLong).sum
    fold() // warm-up
    val times = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val until = System.nanoTime + 1000000000L
    t.span("fsm") {
      while (times.size < 5 || System.nanoTime < until) {
        val t0 = System.nanoTime
        rows = fold()
        times += (System.nanoTime - t0) / 1e9
      }
    }
    Seq(m("fsm.msgs_per_s", msgs.length / Stats.median(times.toSeq), "msgs/s"),
      m("fsm.rows_out", rows.toDouble, "count"))
  }

  /** The JDBC half of `Sinks`: `deleteBatch` then `writeJdbc` on the
    * three live tables, with one slot's output as the frame, the way
    * `AdsbStream.startJdbc` commits a trigger. Medians over ten epochs
    * after two warm-up epochs. */
  def jdbc(r: Run, t: Trace, in: Gen.Input): Seq[Metric] = {
    val spark = r.spark
    import spark.implicits._
    val url = s"jdbc:derby:${r.fresh("layers-derby").resolve("db")};create=true"
    val one = in.slots.head.toSeq.zipWithIndex
      .map { case (l, i) => (l, i.toLong) }.toDF("value", "seq")
    val out = AdsbPipeline.process(Sbs.messages(one)).toDF().cache()
    out.count()
    val tables = Live.tables(out)
    val del = mutable.ArrayBuffer.empty[Double]
    val wr = mutable.ArrayBuffer.empty[Double]
    for (epoch <- 0L until 12L) {
      val t0 = System.nanoTime
      t.span("sinks.delete_batch") {
        tables.keys.foreach(Sinks.deleteBatch(url, _, "app", "app", epoch))
      }
      val t1 = System.nanoTime
      t.span("sinks.jdbc_write") {
        tables.foreach { case (name, df) =>
          Sinks.writeJdbc(df.withColumn("batch_id", lit(epoch)), url, name,
            "app", "app")
        }
      }
      val t2 = System.nanoTime
      if (epoch >= 2) { del += (t1 - t0) / 1e6; wr += (t2 - t1) / 1e6 }
    }
    out.unpersist()
    Live.shutdownDerby(url)
    Seq(m("sinks.jdbc_write_ms", Stats.median(wr.toSeq), "ms"),
      m("sinks.delete_batch_ms", Stats.median(del.toSeq), "ms"))
  }

  /** `AdsbStream` and its state store: per-trigger means over the
    * given triggers (durations are whole milliseconds, so a median would
    * often read the same in every run); `c` holds the task totals of the
    * same interval. */
  def stream(ps: Seq[StreamingQueryProgress], c: Counters): Seq[Metric] = {
    require(ps.nonEmpty, "no triggers to report")
    def mean(f: StreamingQueryProgress => Double) = ps.map(f).sum / ps.size
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(
        p: StreamingQueryProgress) = p.stateOperators.map(f).sum
    Seq(
      m("stream.trigger_ms", mean(dur("triggerExecution")), "ms"),
      m("stream.add_batch_ms", mean(dur("addBatch")), "ms"),
      m("stream.query_planning_ms", mean(dur("queryPlanning")), "ms"),
      m("stream.get_batch_ms", mean(dur("getBatch")), "ms"),
      m("stream.latest_offset_ms", mean(dur("latestOffset")), "ms"),
      m("stream.wal_commit_ms", mean(dur("walCommit")), "ms"),
      m("stream.commit_offsets_ms", mean(dur("commitOffsets")), "ms"),
      m("stream.jobs_per_trigger", c.jobs.toDouble / ps.size, "count"),
      m("stream.tasks_per_trigger", c.tasks.toDouble / ps.size, "count"),
      m("stream.input_rows", mean(_.numInputRows.toDouble), "count"),
      m("state.rows_total", mean(st(_.numRowsTotal.toDouble)), "count"),
      m("state.rows_updated", mean(st(_.numRowsUpdated.toDouble)), "count"),
      m("state.rows_removed", mean(st(_.numRowsRemoved.toDouble)), "count"),
      m("state.memory_bytes", mean(st(_.memoryUsedBytes.toDouble)), "bytes"),
      m("state.commit_ms", mean(st(_.commitTimeMs.toDouble)), "ms"),
      m("state.update_ms", mean(st(_.allUpdatesTimeMs.toDouble)), "ms"),
      m("state.removal_ms", mean(st(_.allRemovalsTimeMs.toDouble)), "ms"),
      m("state.dropped_by_watermark",
        ps.map(st(_.numRowsDroppedByWatermark.toDouble)).sum, "count"),
      m("state.instances", mean(st(_.numStateStoreInstances.toDouble)), "count"))
  }

  /** Frontend calls by family: median milliseconds, and per-call
    * medians of jobs, stages, tasks, task CPU and input bytes. */
  def queries(calls: Seq[Frontend.Call]): Seq[Metric] =
    Frontend.Families.flatMap { f =>
      val cs = calls.filter(_.family == f)
      require(cs.nonEmpty, s"no $f calls to report")
      def med(g: Frontend.Call => Double) = Stats.median(cs.map(g))
      Seq(m(s"query.$f.ms_p50", med(_.ms), "ms"),
        m(s"query.$f.jobs", med(_.c.jobs.toDouble), "count"),
        m(s"query.$f.stages", med(_.c.stages.toDouble), "count"),
        m(s"query.$f.tasks", med(_.c.tasks.toDouble), "count"),
        m(s"query.$f.cpu_ms", med(_.c.cpuNs / 1e6), "ms"),
        m(s"query.$f.input_bytes", med(_.c.input.toDouble), "bytes"))
    }

  /** Task totals of the timed region and busy CPU that was not ours. */
  def host(c: Counters, foreignS: Double): Seq[Metric] = Seq(
    m("spark.task_cpu_s", c.cpuS, "s"),
    m("spark.task_run_s", c.runMs / 1000.0, "s"),
    m("spark.gc_s", c.gcMs / 1000.0, "s"),
    m("host.foreign_cpu_s", foreignS, "s"))

  /** The layers a workload's own run does not report, measured at a
    * fixed size over its input `in` (written as one file at
    * `inputPath`); `own` names the groups, "stream" or "query", that it
    * does report. */
  def sides(r: Run, t: Trace, in: Gen.Input, inputPath: String,
      own: Set[String], tables: => Warehouse.Tables): Seq[Metric] = {
    def unless(g: String)(ms: => Seq[Metric]) = if (own(g)) Nil else ms
    batch(r, t, inputPath, in.lineCount) ++ fsm(r, t, in) ++ jdbc(r, t, in) ++
      unless("stream") {
        val s = Live.drive(r, t, in, Live.Drive(warmTriggers = 3,
          maxTriggers = 12))
        stream(s.measured, s.counters)
      } ++
      unless("query") {
        queries(Frontend.calls(r, t, tables, in, rounds = 3)
          .drop(Frontend.CallsPerRound))
      }
  }
}
