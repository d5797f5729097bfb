package graft.pipelines

import graft.SparkTestBase

/** Raw-payload fixtures shared by the pipeline specs: the VK and Monkey
  * source shapes (SURVEY §1.1), written as JSON-lines temp files.
  */
trait PipelineFixtures { this: SparkTestBase =>

  protected def vkGroupsFixture: String = jsonFixture(Seq(
    """{"id": 100, "type": "page", "name": "GSOM", "screen_name": "gsom_ma",
      | "activity": "education", "description": "desc", "is_closed": 0,
      | "members_count": 2, "status": "st", "verified": 1, "site": "gsom.spbu.ru",
      | "wiki_page": "w", "city": {"id": 2, "title": "SPB"},
      | "country": {"id": 1, "title": "RU"},
      | "contacts": [{"desc": "dean", "email": "dean@x.io", "phone": "+7"}],
      | "links": [{"id": 5, "name": "site", "desc": "main", "url": "https://x"}]}"""
      .stripMargin.replaceAll("\n", "")), "vk_groups")

  protected def vkMember(id: Long): String =
    s"""{"id": $id, "first_name": "F$id", "last_name": "L$id", "maiden_name": "",
       | "screen_name": "sn$id", "nickname": "", "sex": 2,
       | "city": {"id": 2, "title": "SPB"}, "home_town": "SPB",
       | "country": {"id": 1, "title": "RU"}, "about": "", "activities": "",
       | "books": "", "can_post": 1, "deactivated": "", "domain": "d$id",
       | "followers_count": ${10 * id}, "friend_status": 0, "games": "",
       | "interests": "", "is_closed": false, "is_friend": 0, "personal": "",
       | "site": "", "skype": "", "livejournal": "", "twitter": "",
       | "has_mobile": 1, "mobile_phone": "", "home_phone": "", "status": "",
       | "relation": 0, "relation_partner_id": 0,
       | "relation_partner_first_name": "", "relation_partner_last_name": "",
       | "education_form": 1, "education_status": "Student", "faculty": 11,
       | "faculty_name": "Mgmt", "graduation": 2024, "university": 22,
       | "university_name": "SPbU", "occupation": {"id": 33, "name": "SPbU", "type": "university"},
       | "movies": "", "music": "", "trending": 0, "tv": "", "verified": 0,
       | "wall_default": 0, "last_seen": {"platform": 4, "time": 1700000000},
       | "career": [{"city_id": 2, "country_id": 1, "company": "Acme",
       |   "group_id": 9, "position": "dev", "from": 2020, "until": 2022}],
       | "schools": [{"city": 2, "class": "a", "country": 1, "id": "sch1",
       |   "name": "School 1", "speciality": "math", "type": 1,
       |   "type_str": "gymnasium", "year_from": 2010, "year_graduated": 2017,
       |   "year_to": 2017}],
       | "universities": [{"chair": 7, "chair_name": "IS", "city": 2,
       |   "country": 1, "education_form": 1, "education_status": "Student",
       |   "faculty": 11, "faculty_name": "Mgmt", "graduation": 2024,
       |   "id": 22, "name": "SPbU"}]}""".stripMargin.replaceAll("\n", "")

  protected def vkMembersFixture: String =
    jsonFixture(Seq(vkMember(7), vkMember(8)), "vk_members")

  protected def vkWallsFixture: String = jsonFixture(Seq(
    """{"count": 1, "items": [{"owner_id": -100, "from_id": -100, "id": 42,
      | "date": 1700000100, "edited": 1700000200, "post_type": "post",
      | "text": "hello wall", "comments": {"count": 3},
      | "donut": {"is_donut": false}, "likes": {"count": 5, "user_likes": 0},
      | "post_source": {"type": "vk"}, "reposts": {"count": 1, "user_reposted": 0},
      | "views": {"count": 99},
      | "copy_history": [{"id": 9, "from_id": -200, "owner_id": -200,
      |   "date": 1690000000, "post_type": "post", "text": "original post",
      |   "post_source": {"platform": "android", "type": "api"}}]}]}"""
      .stripMargin.replaceAll("\n", "")), "vk_walls")

  protected def monkeySurveysFixture: String = jsonFixture(Seq(
    """{"id": 1, "title": "Course feedback", "language": "en", "folder_id": 3,
      | "date_created": "2021-12-26T10:40:00", "date_modified": "2021-12-27T11:00:00",
      | "page_count": 1, "question_count": 1, "response_count": 2,
      | "pages": [{"id": 11, "position": 1, "question_count": 1, "title": "P1",
      |   "questions": [{"id": 21, "position": 1,
      |     "headings": [{"heading": "How was it?"}],
      |     "answers": {"choices": [
      |       {"id": 31, "is_na": false, "position": 1,
      |        "quiz_options": {"score": "5"}, "text": "Great", "visible": true,
      |        "weight": 10},
      |       {"id": 32, "is_na": false, "position": 2,
      |        "quiz_options": {"score": "1"}, "text": "Bad", "visible": true,
      |        "weight": 1}]}}]}]}""".stripMargin.replaceAll("\n", "")),
    "monkey_surveys")

  protected def monkeyResponsesFixture: String = jsonFixture(Seq(
    """{"data": [{"id": 41, "survey_id": 1, "date_created": "2022-01-05T09:00:00",
      | "date_modified": "2022-01-05T09:10:00", "email_address": "a@x.io",
      | "ip_address": "9.9.9.9", "first_name": "Ann", "last_name": "Lee",
      | "recipient_id": 51, "response_status": "completed", "total_time": 120,
      | "pages": [{"id": 11, "questions": [{"id": 21,
      |   "answers": [{"choice_id": 31, "row_id": 0, "text": "Great",
      |     "quiz_options": {"weight": 10}}]}]}]}]}"""
      .stripMargin.replaceAll("\n", "")), "monkey_responses")
}
