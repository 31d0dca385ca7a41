package perfbench

import java.nio.file.{Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.app.StarSchema
import graft.pipeline.{JourneyJob, Schemas}
import graft.sources.Sinks

/** Star-schema calls and warehouse bookkeeping of `weekly_ingest`. */
object Star {

  /** The ledger `StarSchema.catchup` appends to (`StarSchema.ledgerPath`,
    * which is private). A wrong path here fails the traced-run hash check. */
  def ledger(warehouse: String): String = s"$warehouse/_meta/ingested"

  val tables: Seq[(String, String => String)] = Seq(
    "dim_station" -> StarSchema.dimStation, "dim_weather" -> StarSchema.dimWeather,
    "dim_datetime" -> StarSchema.dimDatetime, "fact_journey" -> StarSchema.factJourney,
    "ledger" -> ledger)

  def init(spark: SparkSession, warehouse: String, inputs: String): Unit =
    StarSchema.init(spark, warehouse, s"$inputs/stations.csv", s"$inputs/weather.json",
      Schemas.weatherRoot(withSevererisk = true))

  /** The calls `StarSchema.catchup` makes, one span per public call. */
  def tracedCatchup(spark: SparkSession, t: Tracer, warehouse: String, raw: String): Seq[String] = {
    import spark.implicits._
    val weeks = Fs.dirs(raw)
    val done = t.span("StarSchema.ingestedDates")(StarSchema.ingestedDates(spark, warehouse))
    val todo = weeks.filterNot(done)
    todo.foreach { d =>
      t.span("StarSchema.weekly") {
        val journey = t.span("JourneyJob.transform")(
          JourneyJob.transform(spark, s"$raw/$d/journey.csv"))
        val stations = spark.read.parquet(StarSchema.dimStation(warehouse))
        val newStations = t.span("JourneyJob.newStations")(
          JourneyJob.newStations(spark, journey, stations))
        t.span("Sinks.upsert[dim_station]")(
          Sinks.upsert(spark, StarSchema.dimStation(warehouse), newStations, Seq("station_id")))
        val datetimes = t.span("JourneyJob.datetimeDim")(JourneyJob.datetimeDim(journey))
        t.span("Sinks.upsert[dim_datetime]")(
          Sinks.upsert(spark, StarSchema.dimDatetime(warehouse), datetimes, Seq("datetime_id")))
        val fact = t.span("JourneyJob.fact")(JourneyJob.fact(journey))
        t.span("Sinks.upsertPartitioned[fact_journey]")(
          Sinks.upsertPartitioned(spark, StarSchema.factJourney(warehouse), fact,
            Seq("rental_id"), "weather_date"))
        t.span("Sinks.append[ledger]")(
          Sinks.append(Seq(d).toDF("logical_date"), ledger(warehouse)))
      }
    }
    todo.toSeq
  }

  /** Order-independent content hash of every warehouse table: row count
    * plus the sum of per-row hashes. */
  def tableHashes(spark: SparkSession, warehouse: String): Map[String, String] =
    tables.map { case (name, path) =>
      val df = spark.read.parquet(path(warehouse))
      val h = xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)")
      val r = df.agg(count(lit(1)), sum(h)).head()
      name -> s"${r.getLong(0)}:${r.get(1)}"
    }.toMap

  /** True when every violation count of `StarSchema.integrityReport` is 0. */
  def integrityClean(spark: SparkSession, warehouse: String): Boolean =
    integrityClean(StarSchema.integrityReport(spark, warehouse).collect().head)

  def integrityClean(row: org.apache.spark.sql.Row): Boolean =
    (0 until row.length).forall(i => row.getLong(i) == 0L)
}

/** File-system helpers (local paths only). */
object Fs {
  /** Blocks until `path` exists. */
  def await(path: String): Unit =
    while (!java.nio.file.Files.exists(Paths.get(path))) Thread.sleep(20)

  def dirs(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else java.nio.file.Files.list(p).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
  }

  private def walk(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.walk(p).iterator().asScala.toSeq
  }

  def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    walk(src).foreach { f =>
      val target = Paths.get(dst).resolve(s.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(f, target, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Relative path → (size, mtime) of every file under `path`. */
  def listing(path: String): Map[String, (Long, Long)] = {
    val root = Paths.get(path)
    walk(path).filter(java.nio.file.Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString ->
        (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
    }.toMap
  }

  /** Bytes of the data files under `path` (no checksum or marker files). */
  def dataBytes(path: String): Long =
    listing(path).collect {
      case (rel, (size, _)) if !Paths.get(rel).getFileName.toString.matches("^[._].*") => size
    }.sum
}
