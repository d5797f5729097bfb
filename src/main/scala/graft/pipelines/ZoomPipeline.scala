package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Timestamps
import graft.operators.{Explodes, Flatten}
import graft.sinks.Contract
import graft.sources.Tables

/** Zoom meetings pipeline (reference zoom_proc.py:130-500) and its
  * history variant (zoom_proc_hst.py:133-552, which stamps every table
  * with a `load_datetime` audit column and uses pts_-prefixed
  * participants with an explicit 36-column contract).
  *
  * Three tables off two sources:
  *   meetings logs JSON --(gate: sum(total_records) > 0)--> meetings,
  *   same lineage --explode(recording_files)--> records,
  *   participants JSON --map-wrap explode--> participants (forced
  *   overwrite, zoom_proc.py:477).
  */
object ZoomPipeline {

  private def s(n: String) = StructField(n, StringType)
  private def l(n: String) = StructField(n, LongType)
  private def ts(n: String) = StructField(n, TimestampType)
  private def b(n: String) = StructField(n, BooleanType)

  val meetingsCols: Seq[StructField] = Seq(
    s("meet_account_id"), l("meet_duration"), s("meet_host_email"),
    s("meet_host_id"), l("meet_id"), l("meet_recording_count"),
    s("meet_share_url"), ts("meet_start_time"), s("meet_timezone"),
    s("meet_topic"), l("meet_total_size"), l("meet_type"), s("meet_uuid"))

  val recordsCols: Seq[StructField] = Seq(
    s("meet_uuid"), l("meet_id"), s("rec_download_url"),
    s("rec_file_extension"), l("rec_file_size"), s("rec_file_type"),
    s("rec_id"), s("rec_meeting_id"), s("rec_play_url"),
    ts("rec_recording_end"), ts("rec_recording_start"),
    s("rec_recording_type"), s("rec_status"))

  /** The 34 participant payload fields (zoom_proc.py:437-478 DDL order). */
  val participantFields: Seq[String] = Seq(
    "camera", "connection_type", "customer_key", "data_center", "device",
    "domain", "email", "from_sip_uri", "full_data_center", "harddisk_id",
    "id", "internal_ip_addresses", "ip_address", "join_time",
    "leave_reason", "leave_time", "location", "mac_addr", "microphone",
    "network_type", "participant_user_id", "pc_name", "recording",
    "registrant_id", "role", "share_application", "share_desktop",
    "share_whiteboard", "sip_uri", "speaker", "status", "user_id",
    "user_name", "version")

  private def participantField(prefix: String)(n: String): StructField = n match {
    case "join_time" | "leave_time"                       => ts(prefix + n)
    case "recording" | "share_application" |
         "share_desktop" | "share_whiteboard"             => b(prefix + n)
    case _                                                => s(prefix + n)
  }

  val meetings: Contract = Contract("meetings", StructType(meetingsCols))
  val records: Contract = Contract("records", StructType(recordsCols))
  val participants: Contract = Contract("participants",
    StructType(s("uuid") +: participantFields.map(participantField("col_"))))

  val hstMeetings: Contract =
    Contract("hst_meetings", StructType(ts("load_datetime") +: meetingsCols))
  val hstRecords: Contract =
    Contract("hst_records", StructType(ts("load_datetime") +: recordsCols))
  val hstParticipants: Contract = Contract("hst_participants", StructType(
    Seq(ts("load_datetime"), s("uuid")) ++
      participantFields.map(participantField("pts_"))))

  /** Meetings logs flatten (zoom_proc.py:139-144): explode the meetings
    * array, meet_-flatten, parse the ISO-Zulu start time.
    */
  def meetingsTransform(raw: DataFrame): DataFrame =
    Flatten.flatten(raw.select(explode(col("meetings"))), Some("meet_"))
      .withColumn("meet_start_time",
        Timestamps.parseIsoZulu(col("meet_start_time")))

  /** Records off the SAME meetings lineage (zoom_proc.py:153-167):
    * key-carry explode of recording_files, rec_-flatten, two ISO-Zulu
    * timestamps.
    */
  def recordsTransform(meetingsFlat: DataFrame): DataFrame =
    Flatten.flatten(
      meetingsFlat.select(col("meet_uuid"), col("meet_id"),
        explode(col("meet_recording_files"))), Some("rec_"))
      .withColumn("rec_recording_start",
        Timestamps.parseIsoZulu(col("rec_recording_start")))
      .withColumn("rec_recording_end",
        Timestamps.parseIsoZulu(col("rec_recording_end")))

  /** Participants (zoom_proc.py:175-203 / hst :189-217): the G2
    * map-wrapped labelled explode, then the second explode of the array
    * value, then flatten — default col_ naming in the daily pipeline,
    * pts_ prefix in the history variant.
    */
  def participantsTransform(raw: DataFrame, prefix: Option[String]): DataFrame = {
    val pfx = prefix.getOrElse("col_")
    val wrapped = raw.select(col("uuid"),
      explode(map(lit("participants_data"),
        col("participants_data.participants"))))
    val flat = Flatten.flatten(
      wrapped.select(col("uuid"), explode(col("value"))), prefix)
    flat
      .withColumn(s"${pfx}join_time",
        Timestamps.parseIsoZulu(col(s"${pfx}join_time")))
      .withColumn(s"${pfx}leave_time",
        Timestamps.parseIsoZulu(col(s"${pfx}leave_time")))
      .withColumn(s"${pfx}internal_ip_addresses",
        concat_ws(",", col(s"${pfx}internal_ip_addresses")))
  }

  private def stamp(df: DataFrame, loadDatetime: Timestamp): DataFrame =
    df.withColumn("load_datetime", lit(loadDatetime))

  /** Daily pipeline (zoom_proc.py proc()). */
  def run(ctx: PipelineContext, meetingsGlob: String,
          participantsGlob: String): Unit = ctx.guard("zoom_source") {
    val raw = Tables.json(ctx.spark, meetingsGlob)
    if (ctx.sumGate(raw, "total_records") > 0) {
      val flat = meetingsTransform(raw)
      ctx.parallel(
        () => ctx.persisted(flat) { m =>
          ctx.parallel(
            () => ctx.stage("meetings")(ctx.saveTable(m, meetings)),
            () => ctx.stage("records")(
              ctx.saveTable(recordsTransform(m), records, applyContract = false)))
        },
        () => ctx.stage("participants") {
          val pts = participantsTransform(
            Tables.json(ctx.spark, participantsGlob), None)
          // zoom_proc.py:477: participants is always rebuilt.
          ctx.saveTable(pts, participants,
            modeOverride = Some(SaveMode.Overwrite), applyContract = false)
        })
      // zoom_proc.py:482-486: BOTH reader grants issued after the loads
      ctx.guard("grants") {
        ctx.sink.execute(
          "GRANT SELECT ON ALL TABLES IN SCHEMA public TO serving_reader")
        ctx.sink.execute(
          "GRANT USAGE ON SCHEMA public TO serving_reader")
      }
    }
  }

  /** History pipeline (zoom_proc_hst.py): same shape, load_datetime
    * stamped, pts_ prefix, explicit contract selects on all three tables.
    */
  def runHst(ctx: PipelineContext, meetingsGlob: String,
             participantsGlob: String,
             loadDatetime: Timestamp): Unit = ctx.guard("zoom_hst_source") {
    val raw = Tables.json(ctx.spark, meetingsGlob)
    if (ctx.sumGate(raw, "total_records") > 0) {
      val flat = stamp(meetingsTransform(raw), loadDatetime)
      ctx.parallel(
        () => ctx.persisted(flat) { m =>
          ctx.parallel(
            () => ctx.stage("hst_meetings")(ctx.saveTable(m, hstMeetings)),
            () => ctx.stage("hst_records")(
              ctx.saveTable(stamp(recordsTransform(m), loadDatetime), hstRecords)))
        },
        () => ctx.stage("hst_participants") {
          val pts = stamp(participantsTransform(
            Tables.json(ctx.spark, participantsGlob), Some("pts_")), loadDatetime)
          ctx.saveTable(pts, hstParticipants)
        })
    }
  }
}
