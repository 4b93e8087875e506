package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DocumentStore, FdsnQuery}
import graft.operators.FdsnQuery.{EventParams, StationParams}
import graft.operators.Indexers.{ChannelIndex, EventIndex}

/** One generated fdsn request (see gen.py for the parameter surface). */
final case class Request(kind: String, params: Map[String, Any]) {
  def s(k: String): Option[String] = params.get(k).map(_.toString)
  def d(k: String): Option[Double] = params.get(k).map(_.asInstanceOf[Number].doubleValue)
  def i(k: String): Option[Int] = params.get(k).map(_.asInstanceOf[Number].intValue)
  def l(k: String): Long = params(k).asInstanceOf[Number].longValue
}

object Requests {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def load(path: String): IndexedSeq[Request] = {
    import scala.jdk.CollectionConverters._
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { line =>
      val m = mapper.readValue(line, classOf[java.util.Map[String, Object]])
      val p = m.get("params").asInstanceOf[java.util.Map[String, Object]].asScala.toMap
      Request(m.get("kind").toString, p)
    }.toIndexedSeq finally src.close()
  }

  private def eventColumns(df: DataFrame): DataFrame = df.select(
    col("event_id"), unix_timestamp(col("time")).as("time_s"), col("magnitude"),
    col("depth"), col("latitude"), col("longitude"), col("magnitude_type"), col("agency"))

  /** The request as a DataFrame over the tables in `dir`, composed the way
    * the j06/j07/j11/j22 registry keys compose it: the event index is
    * `EventIndex.attach(Tables.events)`, the station index
    * `ChannelIndex.build(Tables.events)`, pages read `documents`.
    */
  def build(spark: SparkSession, dir: String, r: Request): DataFrame = r.kind match {
    case "event" =>
      eventColumns(FdsnQuery.events(EventIndex.attach(Tables.events(spark, dir)), EventParams(
        starttime = r.s("starttime"), endtime = r.s("endtime"),
        minLatitude = r.d("minlatitude"), maxLatitude = r.d("maxlatitude"),
        minLongitude = r.d("minlongitude"), maxLongitude = r.d("maxlongitude"),
        latitude = r.d("latitude"), longitude = r.d("longitude"),
        minRadius = r.d("minradius"), maxRadius = r.d("maxradius"),
        minDepth = r.d("mindepth"), maxDepth = r.d("maxdepth"),
        minMagnitude = r.d("minmagnitude"), maxMagnitude = r.d("maxmagnitude"),
        magnitudeType = r.s("magnitudetype"), agency = r.s("agency"),
        contributor = r.s("contributor"), orderBy = r.s("orderby").getOrElse("time"),
        limit = r.i("limit"), offset = r.i("offset"))))
    case "station" =>
      val level = r.s("level").getOrElse("channel")
      val df = FdsnQuery.channels(ChannelIndex.build(Tables.events(spark, dir)), StationParams(
        network = r.s("network"), station = r.s("station"), channel = r.s("channel"),
        startBefore = r.s("startbefore"), endAfter = r.s("endafter"),
        starttime = r.s("starttime"), endtime = r.s("endtime"), level = level))
      val start = unix_timestamp(col("epoch_start")).as("start_s")
      val end = unix_timestamp(col("epoch_end")).as("end_s")
      level match {
        case "channel" => df.select(col("network"), col("station"), col("channel"), start, end,
          col("n_samples")).orderBy("network", "station", "channel")
        case "station" => df.select(col("network"), col("station"), col("n_channels"), start, end,
          col("latitude"), col("longitude")).orderBy("network", "station")
        case _ => df.select(col("network"), col("n_stations"), col("n_channels"), start, end)
          .orderBy("network")
      }
    case "lookup" =>
      eventColumns(EventIndex.attach(Tables.events(spark, dir))
        .filter(col("event_id") === r.l("eventid")))
    case "page" =>
      DocumentStore.pageAfter(Tables.documents(spark, dir), sortCol = "n_chars", idCol = "doc_id",
        cursorSort = r.l("cursor_n_chars"), cursorId = r.l("cursor_doc_id"),
        limit = r.i("limit").get)
        .select(col("doc_id"), col("source"), col("n_chars"))
    case other => throw new IllegalArgumentException(s"request kind $other")
  }
}
