package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Timestamps
import graft.operators.Flatten
import graft.sinks.Contract
import graft.sources.Tables

/** SurveyMonkey pipeline — the reference's deepest nesting
  * (monkey_proc.py:122-519): 5 hst_ tables from 2 sources. The answers
  * table is the 4-level explode chain (data → pages → questions →
  * answers), and the questions table carries the reference's
  * prefix-collision quirk: the `headings_` flatten also renames the
  * carried `qs_answers` struct's fields (headings_choices actually comes
  * from qs_answers, monkey_proc.py:305-315).
  */
object MonkeyPipeline {

  private def s(n: String) = StructField(n, StringType)
  private def l(n: String) = StructField(n, LongType)
  private def ts(n: String) = StructField(n, TimestampType)
  private def b(n: String) = StructField(n, BooleanType)

  val surveys: Contract = Contract("hst_surveys", StructType(Seq(
    ts("load_datetime"), l("survey_id"), ts("date_created"),
    ts("date_modified"), l("folder_id"), s("language"), l("page_count"),
    l("question_count"), l("response_count"), s("title"))))

  val questions: Contract = Contract("hst_surveys_questions", StructType(Seq(
    ts("load_datetime"), l("survey_id"), l("pages_id"), l("qs_id"),
    l("qs_position"), s("headings_heading"))))

  val choices: Contract = Contract("hst_surveys_choices", StructType(Seq(
    ts("load_datetime"), l("survey_id"), l("pages_id"), l("qs_id"),
    l("qs_position"), l("choices_id"), b("choices_is_na"),
    l("choices_position"), s("choices_quiz_options_score"),
    s("choices_text"), b("choices_visible"), l("choices_weight"))))

  val responses: Contract = Contract("hst_surveys_responses", StructType(Seq(
    ts("load_datetime"), l("response_id"), l("response_survey_id"),
    s("response_date_created"), s("response_date_modified"),
    s("response_email_address"), s("response_ip_address"),
    s("response_first_name"), s("response_last_name"),
    l("response_recipient_id"), s("response_response_status"),
    l("response_total_time"))))

  val answers: Contract = Contract("hst_surveys_answers", StructType(Seq(
    ts("load_datetime"), l("response_id"), l("response_survey_id"),
    l("response_recipient_id"), l("pages_id"), l("questions_id"),
    l("questions_answers_choice_id"), l("questions_answers_row_id"),
    s("questions_answers_text"), l("choices_questions_answers_weight"))))

  // --- pure transforms --------------------------------------------------

  /** Surveys (monkey_proc.py:122-145): two ISO-no-zone timestamps,
    * rename, audit stamp.
    */
  def surveysTransform(raw: DataFrame, loadDatetime: Timestamp): DataFrame =
    raw
      .withColumn("date_created", Timestamps.parseIsoNoZone(col("date_created")))
      .withColumn("date_modified", Timestamps.parseIsoNoZone(col("date_modified")))
      .withColumnRenamed("id", "survey_id")
      .withColumn("load_datetime", lit(loadDatetime))

  /** Questions (monkey_proc.py:294-315): pages → questions → headings,
    * carrying qs_answers through the headings_ flatten (collision quirk).
    */
  def questionsTransform(surveysFlat: DataFrame): DataFrame = {
    val pages = Flatten.flatten(
      surveysFlat.select(col("survey_id"), col("load_datetime"),
        explode(col("pages"))), Some("pages_"))
    val qs = Flatten.flatten(
      pages.select(col("load_datetime"), col("survey_id"), col("pages_id"),
        col("pages_position"), col("pages_question_count"),
        col("pages_title"), explode(col("pages_questions"))), Some("qs_"))
    Flatten.flatten(
      qs.select(col("load_datetime"), col("survey_id"), col("pages_id"),
        col("qs_id"), col("qs_position"), explode(col("qs_headings")),
        col("qs_answers")), Some("headings_"))
  }

  /** Choices (monkey_proc.py:346-355): explode headings_choices (which
    * came from qs_answers), choices_ flatten, then the second-level
    * choices_quiz_options_ flatten.
    */
  def choicesTransform(questionsFlat: DataFrame): DataFrame = {
    val c = Flatten.flatten(
      questionsFlat.select(col("load_datetime"), col("survey_id"),
        col("pages_id"), col("qs_id"), col("qs_position"),
        explode(col("headings_choices"))), Some("choices_"))
    Flatten.flatten(c, Some("choices_quiz_options_"))
  }

  /** Responses root (monkey_proc.py:147-161 + :401-405): stamp, explode
    * data, response_ flatten. Note the reference does NOT parse the
    * response date strings — preserved.
    */
  def responsesTransform(raw: DataFrame, loadDatetime: Timestamp): DataFrame =
    Flatten.flatten(
      raw.withColumn("load_datetime", lit(loadDatetime))
        .select(col("load_datetime"), explode(col("data"))),
      Some("response_"))

  /** Answers (monkey_proc.py:448-475) — the 4-level chain: responses
    * (data) → response_pages → pages_questions → questions_answers, with
    * the final double flatten (questions_answers_ then
    * choices_questions_answers_).
    */
  def answersTransform(responsesFlat: DataFrame): DataFrame = {
    val pages = Flatten.flatten(
      responsesFlat.select(col("load_datetime"), col("response_id"),
        col("response_survey_id"), col("response_recipient_id"),
        explode(col("response_pages"))), Some("pages_"))
    val qs = Flatten.flatten(
      pages.select(col("load_datetime"), col("response_id"),
        col("response_survey_id"), col("response_recipient_id"),
        col("pages_id"), explode(col("pages_questions"))), Some("questions_"))
    val ans = Flatten.flatten(
      qs.select(col("load_datetime"), col("response_id"),
        col("response_survey_id"), col("response_recipient_id"),
        col("pages_id"), col("questions_id"),
        explode(col("questions_answers"))), Some("questions_answers_"))
    Flatten.flatten(ans, Some("choices_questions_answers_"))
  }

  /** Full run (monkey_proc.py proc()): 5 tables, DROP-first in overwrite
    * mode (monkey_proc.py:264-268 etc).
    */
  def run(ctx: PipelineContext, surveysGlob: String, responsesGlob: String,
          loadDatetime: Timestamp): Unit = {
    val drop = ctx.mode == SaveMode.Overwrite

    ctx.parallel(
      () => ctx.guard("monkey_surveys_source") {
        val surveysFlat = surveysTransform(
          Tables.json(ctx.spark, surveysGlob), loadDatetime)
        ctx.persisted(surveysFlat) { sv =>
          ctx.parallel(
            () => ctx.stage("hst_surveys")(
              ctx.saveTable(sv, surveys, dropOnOverwrite = drop)),
            () => ctx.persisted(questionsTransform(sv)) { q =>
              ctx.parallel(
                () => ctx.stage("hst_surveys_questions")(
                  ctx.saveTable(q, questions, dropOnOverwrite = drop)),
                () => ctx.stage("hst_surveys_choices")(ctx.saveTable(
                  choicesTransform(q), choices, dropOnOverwrite = drop)))
            })
        }
      },
      () => ctx.guard("monkey_responses_source") {
        val respFlat = responsesTransform(
          Tables.json(ctx.spark, responsesGlob), loadDatetime)
        ctx.persisted(respFlat) { r =>
          ctx.parallel(
            () => ctx.stage("hst_surveys_responses")(
              ctx.saveTable(r, responses, dropOnOverwrite = drop)),
            () => ctx.stage("hst_surveys_answers")(ctx.saveTable(
              answersTransform(r), answers, dropOnOverwrite = drop)))
        }
      })
  }
}
