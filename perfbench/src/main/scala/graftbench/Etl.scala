package graftbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline
import graft.sources.{IncrementalSource, Jdbc, Sinks}

/** The reference's daily run, composed from the engine's public source,
  * pipeline and sink functions. One call of [[day]] is one op of the
  * `etl_daily` workload: 15-day lookback listing of twenty feeds (ten
  * countries x {IRMQ, IRSession}), keep-list / bool-string / non-empty
  * clean-up, idempotent append into `evidence_images` and `sessions`,
  * derived-array rewrite, the `image_urls` view join and its JDBC push.
  *
  * `perfbench/etl_model.py` models the same day in DuckDB; the two must
  * stay in step.
  */
final class Etl(spark: SparkSession, feeds: String, countries: Seq[String],
                dir: String, tracer: Tracer) {
  val evidencePath = s"$dir/evidence_images"
  val sessionsPath = s"$dir/sessions"
  val derbyDir = s"$dir/derby"
  val url = s"jdbc:derby:$derbyDir;create=true"

  private val irmqKeep = Seq("Sessionuid", "Sceneuid", "SceneType",
    "EvidenceImageURL", "EvidenceImageName", "ReExportStatus",
    "ReProcessedStatus", "CreatedOnTime", "country_code")
  private val sessionKeep = Seq("Sessionuid", "sessionstartdatetime",
    "sessionenddatetime", "client_code", "outlet_code", "outlet_name",
    "user_id", "sessionstatus", "latitude", "longitude", "country_code")

  private def window(kind: String, today: LocalDate): DataFrame = {
    val (lo, hi) = IncrementalSource.lookbackBounds(15, -1, today)
    IncrementalSource.fanOutUnion(spark,
      countries.map(cc => cc -> s"$feeds/${kind}_$cc"),
      p => IncrementalSource.readModifiedWindow(spark, p,
        modifiedAfter = Some(s"${lo}T00:00:00"),
        modifiedBefore = Some(s"${hi}T00:00:00")))
  }

  /** Runs one day; returns the layer counters of the `sources` module, the
    * input files the day read and the day's two cleaned batches (lazy
    * frames, for counting after the day's timed region).
    */
  def day(today: LocalDate): (Map[String, Double], Seq[String], Seq[DataFrame]) = {
    val (irmqRaw, sessRaw) = tracer.span("etl.list") {
      (window("IRMQ", today), window("IRSession", today))
    }
    val listS = tracer.lastSeconds
    val irmq = Pipeline.filterNonEmpty(
      Pipeline.normalizeBoolStrings(Pipeline.keepColumns(irmqRaw, irmqKeep)),
      "EvidenceImageURL")
    val sessions = Pipeline.normalizeBoolStrings(
      Pipeline.keepColumns(sessRaw, sessionKeep))
      .withColumnRenamed("sessionstartdatetime", "session_start_date")
      .withColumnRenamed("sessionenddatetime", "session_end_date")
    val appendedEvidence = tracer.span("etl.append_evidence_images") {
      Sinks.idempotentAppend(spark, irmq, evidencePath, Seq("Sessionuid", "Sceneuid"))
    }
    var writeS = tracer.lastSeconds
    val appendedSessions = tracer.span("etl.append_sessions") {
      Sinks.idempotentAppend(spark, sessions, sessionsPath, Seq("Sessionuid"))
    }
    writeS += tracer.lastSeconds
    val appended = appendedEvidence + appendedSessions
    tracer.span("etl.derive") {
      Sinks.overwriteWithDerived(spark, evidencePath, df => {
        val names = Pipeline.splitPacked(col("EvidenceImageName"))
        df.withColumn("FormattedEvidenceImageName", names)
          .withColumn("FormattedEvidenceImageURL",
            Pipeline.qualifyUrls(names, col("EvidenceImageURL")))
      })
    }
    writeS += tracer.lastSeconds
    tracer.span("etl.view_jdbc") {
      Jdbc.write(imageUrls(), url, "image_urls", mode = SaveMode.Overwrite)
    }
    val jdbcS = tracer.lastSeconds
    val inputs = (irmqRaw.inputFiles ++ sessRaw.inputFiles).toSeq
    (Map(
      "sources.files_read" -> inputs.length.toDouble,
      "sources.list_s" -> listS,
      "sources.sink_write_s" -> writeS,
      "sources.rows_appended" -> appended.toDouble,
      "sources.sink_files" ->
        (Etl.files(evidencePath).count(_.getName.endsWith(".parquet")) +
          Etl.files(sessionsPath).count(_.getName.endsWith(".parquet"))).toDouble,
      "sources.jdbc_s" -> jdbcS), inputs, Seq(irmq, sessions))
  }

  /** The reference's `image_urls` view over the two sinks. */
  def imageUrls(): DataFrame = {
    val ev = spark.read.parquet(evidencePath)
    val se = spark.read.parquet(sessionsPath)
    ev.join(se, ev("Sessionuid") === se("Sessionuid"))
      .filter(se("sessionstatus") === "Completed")
      .select(
        to_date(se("session_start_date")).as("session_date"),
        se("client_code"), se("outlet_code"), se("outlet_name"),
        se("country_code"), se("user_id"),
        ev("Sessionuid").as("sessionuid"), ev("Sceneuid").as("sceneuid"),
        ev("SceneType").as("scenetype"),
        element_at(ev("FormattedEvidenceImageName"), 1).as("formattedevidenceimagename"),
        element_at(ev("FormattedEvidenceImageURL"), 1).as("formattedevidenceimageurl"))
  }

  /** What the JDBC push left in the database: the checked output. */
  def pushed(): DataFrame = Jdbc.read(spark, url, "image_urls")

  def close(): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$derbyDir;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
}

object Etl {
  def files(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else if (d.isFile) Seq(d)
    else d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
  }

  def bytes(dir: String): Long = files(dir).map(_.length).sum
}

/** `etl_daily`: every pass is one day's run (day 1, day 2, ...) against
  * sinks that `run.py` stages as of the end of day 0, the backfill of a
  * full 15-day window; the sinks grow day by day and most of each day's
  * window is re-delivered. A day is the first ETL run of the process, as a
  * daily batch job's is. The checked output of a day is what its JDBC push left in the database, read
  * back after the day's timed region.
  */
final class EtlWorkload(spark: SparkSession, tracer: Tracer, feeds: String,
                        countries: Seq[String], firstDay: LocalDate, days: Int,
                        work: String) extends Workload {
  private val etl = new Etl(spark, feeds, countries, s"$work/etl", tracer)
  private val read = scala.collection.mutable.Set[String]()
  private var day = 0
  private var batches = Seq.empty[DataFrame]

  override def hasPass: Boolean = day + 1 < days

  def startPass(): Seq[String] = { day += 1; Seq(s"day_$day") }

  def runOp(name: String, counting: Boolean): OpOutcome = {
    val (layer, inputs, batch) = etl.day(firstDay.plusDays(name.stripPrefix("day_").toLong))
    read ++= inputs
    batches = batch
    OpOutcome(layer, None)
  }

  override def check(name: String): Option[Digest.Value] = Some(Digest.of(etl.pushed()))

  /** The day's batch rows, for the duplicate share: the batches are counted
    * again here, after the day, so the day's own jobs and time stay clean.
    */
  override def afterOp(name: String): Map[String, Double] =
    Map("sources.batch_rows" -> batches.map(_.count()).sum.toDouble)

  override def endPass(): Map[String, Any] = Map(
    "store_bytes" -> (Etl.bytes(etl.evidencePath) + Etl.bytes(etl.sessionsPath) + Etl.bytes(etl.derbyDir)),
    "input_bytes" -> read.toSeq.map(f => new java.io.File(new java.net.URI(f)).length).sum)

  override def close(): Unit = etl.close()
}
