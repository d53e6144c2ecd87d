package perfbench

import scala.collection.mutable

/** One metric as printed in the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** Operations a run attempted, and which of them failed a check.
  *
  * `record` counts an operation on the seeded input; if it fails, the
  * run is incorrect. `probe` counts an operation on fixed lines that do
  * not depend on the seed. A probe that fails in every round is a
  * standing fault of the program: it counts in `failed`, the same share
  * of `attempted` in every run, and leaves the run correct. A probe
  * that fails in some rounds and not in others makes the run
  * incorrect. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  private var seededFailures = 0L
  /** probe name -> (attempts, failures) */
  private val probes = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val why = mutable.LinkedHashMap.empty[String, Long]

  private def count(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      why(what) = why.getOrElse(what, 0L) + 1
    }
  }
  def record(ok: Boolean, what: => String): Unit = {
    count(ok, what)
    if (!ok) seededFailures += 1
  }
  def probe(ok: Boolean, name: String): Unit = {
    count(ok, s"probe $name")
    val (n, f) = probes.getOrElse(name, (0L, 0L))
    probes(name) = (n + 1, if (ok) f else f + 1)
  }
  def correct: Boolean = seededFailures == 0 &&
    probes.values.forall { case (n, f) => f == 0 || f == n }
  def failures: Seq[(String, Long)] = why.toSeq
}

/** What a workload hands back: the end-to-end metrics, and in a traced
  * run the per-layer ones. */
final case class Outcome(ops: Ops, endToEnd: Seq[Metric],
    layers: Seq[Metric] = Nil)

trait Workload {
  /** Runs set-up, warm-up, the timed region and the checks. */
  def run(r: Run, t: Trace, sessionS: Double): Outcome
}

/** Entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --dir <run dir>`. Prints one JSON
  * object as the last line of standard output. */
object Main {
  val workloads: Map[String, Workload] = Map(
    "backfill" -> Backfill, "live" -> Live, "frontend" -> Frontend)

  private val t0 = System.nanoTime
  def log(s: String): Unit = {
    println(f"[perfbench ${(System.nanoTime - t0) / 1e9}%6.1fs] $s")
    Console.flush()
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    val w = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val run = new Run(args)
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val trace = new Trace(args.trace, run.spark.sparkContext)
    val out = try w.run(run, trace, sessionS) finally {
      trace.write(args.dir.getParent.resolve("traces")
        .resolve(s"${args.workload}-${args.seed}.jsonl"))
      run.spark.stop()
    }
    out.ops.failures.foreach { case (w, n) => log(s"FAILED x$n: $w") }
    out.endToEnd.foreach(m => log(f"${m.name} = ${m.value}%.4f ${m.unit}"))
    val metrics = if (args.trace) out.layers else out.endToEnd
    println(json(out.ops, metrics))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  def json(ops: Ops, ms: Seq[Metric]): String = {
    val body = ms.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": ${ops.correct}, """ +
      s""""attempted": ${ops.attempted}, "failed": ${ops.failed}, """ +
      s""""metrics": {$body}}"""
  }
}
