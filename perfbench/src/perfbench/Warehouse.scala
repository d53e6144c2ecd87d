package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.adsb.{AdsbPipeline, Sbs}
import graft.adsb.FlightStateMachine.Out
import graft.sources.Sinks

/** The batch backfill: raw SBS lines → `Sbs.messages` →
  * `AdsbPipeline.process` → the warehouse tables. The tagged output is
  * cached once and written three ways: positions clustered by
  * hexident (`Sinks.writeClustered`), events partitioned by day
  * (`Sinks.writeDayPartitioned`) and flights as plain parquet. */
object Warehouse {

  /** Parquet files per positions table. */
  val PositionFiles = 4

  final case class Tables(root: Path) {
    def flights: String = root.resolve("flights").toString
    def positions: String = root.resolve("positions").toString
    def events: String = root.resolve("events").toString
  }

  /** `step(name)(body)` wraps the two steps of a build, "pipeline"
    * (parse and process into the cache) and "sinks" (the writes). */
  type Steps = String => (=> Unit) => Unit
  val untimed: Steps = _ => body => body

  def build(spark: SparkSession, input: String, out: Path,
      step: Steps = untimed): Tables = {
    val t = Tables(out)
    val o: Dataset[Out] =
      AdsbPipeline.process(Sbs.messages(spark.read.text(input))).cache()
    try {
      step("pipeline")(o.count())
      step("sinks") {
        Sinks.writeClustered(AdsbPipeline.positions(o), t.positions,
          Seq("hexident"), Seq("time"), PositionFiles)
        Sinks.writeDayPartitioned(AdsbPipeline.events(o), t.events, "time")
        AdsbPipeline.flights(o).write.mode(SaveMode.Overwrite)
          .parquet(t.flights)
      }
    } finally o.unpersist()
    t
  }

  /** The warehouse read back as the pipeline's tagged output (flights
    * and events), the shape `AdsbQueries.eventDetails` takes. */
  def taggedOut(spark: SparkSession, t: Tables): Dataset[Out] = {
    import spark.implicits._
    def none(c: String, ty: String) = lit(null).cast(ty).as(c)
    val flights = spark.read.parquet(t.flights).select(lit("flight").as("kind"),
      col("hexident"), col("session_start"), col("last_seen").as("time"),
      col("first_seen"), col("last_seen"), col("callsign"),
      col("n_positions"), none("lon", "double"), none("lat", "double"),
      none("alt_m", "double"), none("onground", "boolean"),
      none("runway", "string"))
    val events = spark.read.parquet(t.events).select(col("kind"),
      col("hexident"), col("session_start"), col("time"),
      none("first_seen", "timestamp"), none("last_seen", "timestamp"),
      none("callsign", "string"), none("n_positions", "bigint"),
      none("lon", "double"), none("lat", "double"), none("alt_m", "double"),
      none("onground", "boolean"), col("runway"))
    flights.unionByName(events).as[Out]
  }

  /** Row counts of the tables, and the sum of the flights'
    * `n_positions`. */
  def counts(spark: SparkSession, t: Tables): Map[String, Long] = {
    val f = spark.read.parquet(t.flights)
      .agg(count(lit(1)), coalesce(sum(col("n_positions")), lit(0L)))
      .head()
    val e = spark.read.parquet(t.events).groupBy(col("kind")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("flights" -> f.getLong(0), "n_positions" -> f.getLong(1),
      "positions" -> spark.read.parquet(t.positions).count(),
      "landings" -> e.getOrElse("landing", 0L),
      "takeoffs" -> e.getOrElse("takeoff", 0L))
  }

  /** Check the tables against the generator's expected counts and the
    * golden events of every golden tile; returns the mismatches. */
  def check(spark: SparkSession, t: Tables, in: Gen.Input): Seq[String] = {
    val exp = in.expected
    val c = counts(spark, t)
    val want = Map("flights" -> exp.flights, "positions" -> exp.positions,
      "n_positions" -> exp.positions, "landings" -> exp.landings,
      "takeoffs" -> exp.takeoffs)
    val bad = want.collect { case (k, v) if c(k) != v => s"$k ${c(k)} != $v" }
    val ev = spark.read.parquet(t.events)
      .select(col("hexident"), col("time"), col("kind"), col("runway"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getString(2), r.getString(3)))
    val byId = ev.groupBy(_._1)
    val golden = in.goldenOf
    val stray = byId.keys.filterNot(golden.contains)
    val wrong = golden.count { case (hex, g) =>
      byId.getOrElse(hex, Array.empty).sortBy(_._2).map(e => e._3 -> e._4)
        .toSeq != Gen.GoldenEvents(g)
    }
    bad.toSeq ++
      (if (stray.nonEmpty) Seq(s"${stray.size} aircraft outside the golden tiles have events") else Nil) ++
      (if (wrong > 0) Seq(s"$wrong golden aircraft differ from the golden events") else Nil)
  }
}
