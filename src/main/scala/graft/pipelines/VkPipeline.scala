package graft.pipelines

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Timestamps
import graft.operators.Flatten
import graft.sinks.Contract
import graft.sources.Tables

/** VK community pipeline — the reference's widest fan-out
  * (vk_proc.py:122-819): 9 tables from 3 source families (groups,
  * members, walls), every one stamped with `load_datetime`, DROPped
  * first in overwrite mode (O5), linked by carried keys and one
  * collected scalar FK (A3, vk_proc.py:465).
  */
object VkPipeline {

  private def s(n: String) = StructField(n, StringType)
  private def l(n: String) = StructField(n, LongType)
  private def ts(n: String) = StructField(n, TimestampType)
  private def b(n: String) = StructField(n, BooleanType)

  val groups: Contract = Contract("groups", StructType(Seq(
    ts("load_datetime"), l("group_id"), s("type"), s("name"),
    s("screen_name"), s("activity"), s("description"), l("is_closed"),
    l("members_count"), s("status"), l("verified"), s("site"),
    s("wiki_page"), l("city_id"), s("city_title"), l("country_id"),
    s("country_title"))))

  val groupsContacts: Contract = Contract("groups_contacts", StructType(Seq(
    ts("load_datetime"), l("group_id"), s("contacts_desc"),
    s("contacts_email"), s("contacts_phone"))))

  val groupsLinks: Contract = Contract("groups_links", StructType(Seq(
    ts("load_datetime"), l("group_id"), l("links_id"), s("links_name"),
    s("links_desc"), s("links_url"))))

  val members: Contract = Contract("members", StructType(Seq(
    ts("load_datetime"), l("group_id"), l("member_id"), s("first_name"),
    s("last_name"), s("maiden_name"), s("screen_name"), s("nickname"),
    l("sex"), l("city_id"), s("city_title"), s("home_town"),
    l("country_id"), s("country_title"), s("about"), s("activities"),
    s("books"), l("can_post"), s("deactivated"), s("domain"),
    l("followers_count"), l("friend_status"), s("games"), s("interests"),
    b("is_closed"), l("is_friend"), s("personal"), s("site"), s("skype"),
    s("livejournal"), s("twitter"), l("has_mobile"), s("mobile_phone"),
    s("home_phone"), s("status"), l("relation"), l("relation_partner_id"),
    s("relation_partner_first_name"), s("relation_partner_last_name"),
    l("education_form"), s("education_status"), l("faculty"),
    s("faculty_name"), l("graduation"), l("university"),
    s("university_name"), l("occupation_id"), s("occupation_name"),
    s("occupation_type"), s("movies"), s("music"), l("trending"), s("tv"),
    l("verified"), l("wall_default"), l("last_seen_platform"),
    ts("last_seen_time"))))

  val membersCareers: Contract = Contract("members_careers", StructType(Seq(
    ts("load_datetime"), l("member_id"), l("career_city_id"),
    l("career_country_id"), s("career_company"), l("career_group_id"),
    s("career_position"), l("career_from"), l("career_until"))))

  val membersSchools: Contract = Contract("members_schools", StructType(Seq(
    ts("load_datetime"), l("member_id"), l("schools_city"),
    s("schools_class"), l("schools_country"), s("schools_id"),
    s("schools_name"), s("schools_speciality"), l("schools_type"),
    s("schools_type_str"), l("schools_year_from"),
    l("schools_year_graduated"), l("schools_year_to"))))

  val membersUniversities: Contract = Contract("members_universities",
    StructType(Seq(
      ts("load_datetime"), l("member_id"), l("universities_chair"),
      s("universities_chair_name"), l("universities_city"),
      l("universities_country"), l("universities_education_form"),
      s("universities_education_status"), l("universities_faculty"),
      s("universities_faculty_name"), l("universities_graduation"),
      l("universities_id"), s("universities_name"))))

  val wallItems: Contract = Contract("wall_items", StructType(Seq(
    ts("load_datetime"), l("items_owner_id"), l("items_from_id"),
    l("items_id"), ts("items_date"), ts("items_edited"),
    s("items_post_type"), s("items_text"), l("items_comments_count"),
    b("items_donut_is_donut"), l("items_likes_count"),
    l("items_likes_user_likes"), s("items_post_source_type"),
    l("items_reposts_count"), l("items_reposts_user_reposted"),
    l("items_views_count"))))

  val wallHistory: Contract = Contract("wall_history", StructType(Seq(
    ts("load_datetime"), l("history_id"), l("history_from_id"),
    l("history_owner_id"), ts("history_date"), s("history_post_type"),
    s("history_text"), s("history_post_source_platform"),
    s("history_post_source_type"))))

  // --- pure transforms (vk_proc.py:122-261) -----------------------------

  /** Groups (vk_proc.py:122-138). The reference passes prefix='' which is
    * Python-falsy → default ncol_field naming (city_id, country_title).
    */
  def groupsTransform(raw: DataFrame, loadDatetime: Timestamp): DataFrame =
    Flatten.flatten(raw, Some(""))
      .withColumnRenamed("id", "group_id")
      .withColumn("load_datetime", lit(loadDatetime))

  def contactsTransform(groupsFlat: DataFrame): DataFrame =
    Flatten.flatten(groupsFlat.select(col("group_id"), col("load_datetime"),
      explode(col("contacts"))), Some("contacts_"))

  def linksTransform(groupsFlat: DataFrame): DataFrame =
    Flatten.flatten(groupsFlat.select(col("group_id"), col("load_datetime"),
      explode(col("links"))), Some("links_"))

  /** Members (vk_proc.py:160-178): lit-stamped scalar FK, rename,
    * epoch-seconds last_seen_time.
    */
  def membersTransform(raw: DataFrame, groupId: Long,
                       loadDatetime: Timestamp): DataFrame =
    Flatten.flatten(raw, Some(""))
      .withColumn("group_id", lit(groupId))
      .withColumnRenamed("id", "member_id")
      .withColumn("load_datetime", lit(loadDatetime))
      .withColumn("last_seen_time",
        Timestamps.parseEpochSeconds(col("last_seen_time")))

  private def childOfMember(membersFlat: DataFrame, arrayCol: String,
                            prefix: String): DataFrame =
    Flatten.flatten(membersFlat.select(col("member_id"), col("load_datetime"),
      explode(col(arrayCol))), Some(prefix))

  def careersTransform(m: DataFrame): DataFrame =
    childOfMember(m, "career", "career_")
  def schoolsTransform(m: DataFrame): DataFrame =
    childOfMember(m, "schools", "schools_")
  def universitiesTransform(m: DataFrame): DataFrame =
    childOfMember(m, "universities", "universities_")

  def wallTransform(raw: DataFrame, loadDatetime: Timestamp): DataFrame =
    Flatten.flatten(raw, Some(""))
      .withColumn("load_datetime", lit(loadDatetime))

  /** Wall items (vk_proc.py:227-244): explode + items_ flatten + second
    * default flatten for the nested counters, two epoch timestamps.
    */
  def wallItemsTransform(wallFlat: DataFrame): DataFrame = {
    val once = Flatten.flatten(
      wallFlat.select(col("load_datetime"), explode(col("items"))),
      Some("items_"))
    Flatten.flatten(once)
      .withColumn("items_date", Timestamps.parseEpochSeconds(col("items_date")))
      .withColumn("items_edited",
        Timestamps.parseEpochSeconds(col("items_edited")))
  }

  /** Wall repost history (vk_proc.py:246-261): explode items (default
    * col_ naming), explode col_copy_history, history_ flatten, second
    * default flatten, epoch date.
    */
  def wallHistoryTransform(wallFlat: DataFrame): DataFrame = {
    val items = Flatten.flatten(
      wallFlat.select(col("load_datetime"), explode(col("items"))))
    val hist = Flatten.flatten(
      items.select(col("load_datetime"), explode(col("col_copy_history"))),
      Some("history_"))
    Flatten.flatten(hist)
      .withColumn("history_date",
        Timestamps.parseEpochSeconds(col("history_date")))
  }

  /** Full run (vk_proc.py proc(), vk_proc.py:319-819): every table DROPs
    * first in overwrite mode.
    */
  def run(ctx: PipelineContext, groupsGlob: String, membersGlob: String,
          wallsGlob: String, loadDatetime: Timestamp): Unit = {
    val drop = ctx.mode == SaveMode.Overwrite

    ctx.parallel(
      () => ctx.guard("vk_groups_source") {
        val groupsFlat = groupsTransform(Tables.json(ctx.spark, groupsGlob),
          loadDatetime)
        ctx.persisted(groupsFlat) { g =>
          ctx.parallel(
            () => ctx.stage("groups")(
              ctx.saveTable(g, groups, dropOnOverwrite = drop)),
            () => ctx.stage("groups_contacts")(ctx.saveTable(
              contactsTransform(g), groupsContacts, dropOnOverwrite = drop)),
            () => ctx.stage("groups_links")(ctx.saveTable(
              linksTransform(g), groupsLinks, dropOnOverwrite = drop)),
            // A3 (vk_proc.py:465): the members FK is a collected scalar.
            () => ctx.guard("vk_members_source") {
              val groupId = g.select(col("group_id")).first().getLong(0)
              val membersFlat = membersTransform(
                Tables.json(ctx.spark, membersGlob), groupId, loadDatetime)
              ctx.persisted(membersFlat) { m =>
                ctx.parallel(
                  () => ctx.stage("members")(
                    ctx.saveTable(m, members, dropOnOverwrite = drop)),
                  () => ctx.stage("members_careers")(ctx.saveTable(
                    careersTransform(m), membersCareers, dropOnOverwrite = drop)),
                  () => ctx.stage("members_schools")(ctx.saveTable(
                    schoolsTransform(m), membersSchools, dropOnOverwrite = drop)),
                  () => ctx.stage("members_universities")(ctx.saveTable(
                    universitiesTransform(m), membersUniversities,
                    dropOnOverwrite = drop)))
              }
            })
        }
      },
      () => ctx.guard("vk_walls_source") {
        val wallFlat = wallTransform(Tables.json(ctx.spark, wallsGlob),
          loadDatetime)
        ctx.persisted(wallFlat) { w =>
          ctx.parallel(
            () => ctx.stage("wall_items")(ctx.saveTable(
              wallItemsTransform(w), wallItems, dropOnOverwrite = drop)),
            () => ctx.stage("wall_history")(ctx.saveTable(
              wallHistoryTransform(w), wallHistory, dropOnOverwrite = drop)))
        }
      })
  }
}
