package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dir: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", java.nio.file.Paths.get(get("--dir")))
  }
}

/** The Spark session and scratch directories of one run. Every path is
  * under the run directory, which the launcher places in the checkout
  * and deletes afterwards. */
final class Run(val args: Args) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Fixed, so plans do not depend on the machine. */
  val shufflePartitions = 4

  def path(name: String): Path = args.dir.resolve(name)

  private var n = 0
  /** A fresh directory under the run directory. */
  def fresh(prefix: String): Path = { n += 1; Files.createDirectories(path(s"$prefix-$n")) }

  val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // ~10 input splits of the backfill file rather than one per core,
      // so one slowed core does not hold up the whole scan
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Files.createDirectories(path("spark-local")).toString)
      .config("spark.sql.warehouse.dir", path("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", path("hadoop-tmp").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Recursive byte size of a directory tree. */
  def bytesUnder(p: Path): Long = {
    val w = Files.walk(p)
    try {
      var total = 0L
      w.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    } finally w.close()
  }

  def filesUnder(p: Path, suffix: String): Long = {
    val w = Files.walk(p)
    try {
      var n = 0L
      w.forEach(f => if (Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)) n += 1)
      n
    } finally w.close()
  }
}
