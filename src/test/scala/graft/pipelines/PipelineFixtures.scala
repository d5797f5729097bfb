package graft.pipelines

import graft.SparkTestBase

/** Raw-payload fixtures shared by the pipeline specs: the JupyterHub,
  * Zoom, VK and Monkey source shapes (SURVEY §1.1), written as JSON-lines
  * temp files.
  */
trait PipelineFixtures { this: SparkTestBase =>

  protected def jhubFixture: String = jsonFixture(Seq(
    """{"log": "[I 2024-01-01 10:00:00.123 JupyterHub app:200] GET /hub/home", "time": "2024-01-01T10:00:00.123456789Z", "kubernetes": {"container_name": "hub", "host": "node1", "pod_name": "hub-1", "annotations": {"noisy": "1"}, "labels": {"app": "jhub"}}}""",
    """{"log": "no brackets at all", "time": "2024-01-01T11:00:00.000000000Z", "kubernetes": {"container_name": "hub", "host": "node2", "pod_name": "hub-2", "annotations": {"noisy": "2"}, "labels": {"app": "jhub"}}}"""),
    "jhub")

  protected def meeting(id: Long, uuid: String, nRecs: Int): String = {
    val recs = (0 until nRecs).map { i =>
      s"""{"download_url": "https://dl/$uuid/$i", "file_extension": "MP4",
         | "file_size": ${1000 + i}, "file_type": "MP4", "id": "rec-$uuid-$i",
         | "meeting_id": "$uuid", "play_url": "https://play/$uuid/$i",
         | "recording_end": "2024-01-01T11:00:0${i}Z",
         | "recording_start": "2024-01-01T10:00:0${i}Z",
         | "recording_type": "shared_screen", "status": "completed"}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"account_id": "acc1", "duration": ${30 + id}, "host_email": "h@x.io",
       | "host_id": "host$id", "id": $id, "recording_count": $nRecs,
       | "share_url": "https://share/$id",
       | "start_time": "2024-01-01T09:00:00Z", "timezone": "UTC",
       | "topic": "Topic $id", "total_size": ${5000 * id}, "type": 2,
       | "uuid": "$uuid", "recording_files": [$recs]}"""
      .stripMargin.replaceAll("\n", "")
  }

  protected def zoomMeetingsFixture: String = jsonFixture(Seq(
    s"""{"from": "2024-01-01", "to": "2024-01-02", "total_records": 2,
       | "meetings": [${meeting(1, "uuid-1", 2)}, ${meeting(2, "uuid-2", 1)}]}"""
      .stripMargin.replaceAll("\n", "")), "zoom_meetings")

  protected def participant(id: Int): String =
    s"""{"camera": "cam$id", "connection_type": "UDP", "customer_key": "ck",
       | "data_center": "EU", "device": "Mac", "domain": "d", "email": "p$id@x.io",
       | "from_sip_uri": "", "full_data_center": "EU-FR", "harddisk_id": "hd",
       | "id": "pid$id", "internal_ip_addresses": ["10.0.0.$id", "10.0.1.$id"],
       | "ip_address": "1.2.3.$id", "join_time": "2024-01-01T09:05:0${id}Z",
       | "leave_reason": "left", "leave_time": "2024-01-01T09:55:0${id}Z",
       | "location": "Paris", "mac_addr": "aa:bb", "microphone": "mic",
       | "network_type": "Wifi", "participant_user_id": "pu$id", "pc_name": "pc",
       | "recording": ${id % 2 == 0}, "registrant_id": "r$id", "role": "host",
       | "share_application": false, "share_desktop": true,
       | "share_whiteboard": false, "sip_uri": "", "speaker": "spk",
       | "status": "in_meeting", "user_id": "u$id", "user_name": "User $id",
       | "version": "5.0"}""".stripMargin.replaceAll("\n", "")

  protected def zoomParticipantsFixture: String = jsonFixture(Seq(
    s"""{"uuid": "uuid-1", "participants_data": {"participants": [${participant(1)}, ${participant(2)}]}}""",
    s"""{"uuid": "uuid-2", "participants_data": {"participants": [${participant(3)}]}}"""),
    "zoom_participants")

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
