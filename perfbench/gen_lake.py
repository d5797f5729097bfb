#!/usr/bin/env python3
"""Seeded raw-JSON lake for the `elt_backfill` workload.

Same payload shapes, file layout and per-unit volumes as
tools/pipeline_scale_gen.py (scale 1 stages about 1.73M rows), laid out
for the five parity pipelines:

  RAW/jhub/year=2024/month=01/day=01/hour=HH/logs.json
  RAW/zoom/air-meetings-logs-DATE/meetings_logs_DATE*.json
  RAW/zoom/air-meetings-data/dN/participants_N.json
  RAW/vk/data2024-01-01/{gsom_ma,members_full_group_gsom_ma,wall_owner_id_*}.json
  RAW/monkey/{details/survey_details,responses/responses_*}.json

Volumes are fixed by `scale`; the seed varies content only (hosts, codes,
names, sizes, timestamps, texts), so the staged row count of every table
is known in advance. `generate` returns those counts, table by table,
keyed as the pipelines name their tables.

Usage: python3 gen_lake.py RAW_ROOT SEED [SCALE]
"""
import json
import os
import random
import sys


def n(base, scale):
    return max(1, int(base * scale))


def expected_counts(scale):
    """Staged rows per (pipeline, table) at `scale`."""
    jhub = 24 * n(20000, scale)
    meetings = 20 * n(2500, scale)
    members = n(100000, scale)
    wall = 10 * n(2000, scale)
    surveys = n(2000, scale)
    responses = 50 * n(2000, scale)
    return {
        "jhub": {"jhublogs": jhub},
        "zoom": {"meetings": meetings, "records": 2 * meetings,
                 "participants": 3 * meetings},
        "zoom_hst": {"hst_meetings": meetings, "hst_records": 2 * meetings,
                     "hst_participants": 3 * meetings},
        "vk": {"groups": 1, "groups_contacts": 1, "groups_links": 1,
               "members": members, "members_careers": members,
               "members_schools": members, "members_universities": members,
               "wall_items": wall, "wall_history": wall},
        "monkey": {"hst_surveys": surveys,
                   "hst_surveys_questions": 2 * surveys,
                   "hst_surveys_choices": 4 * surveys,
                   "hst_surveys_responses": responses,
                   "hst_surveys_answers": responses},
    }


def generate(root, seed, scale=1.0):
    rnd = random.Random(seed)
    raw_bytes = 0

    def w(relpath, lines):
        nonlocal raw_bytes
        p = os.path.join(root, relpath)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        data = "\n".join(lines)
        with open(p, "w") as f:
            f.write(data)
        raw_bytes += len(data.encode())

    def word():
        return "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz")
                       for _ in range(rnd.randint(3, 9)))

    # --- jhub: fluent-bit kubernetes log lines -------------------------
    per_hour = n(20000, scale)
    for h in range(24):
        lines = []
        for i in range(per_hour):
            mi, se, ms = rnd.randrange(60), rnd.randrange(60), rnd.randrange(1000)
            code = rnd.choice((200, 302, 404, 500))
            ts = f"2024-01-01T{h:02d}:{mi:02d}:{se:02d}.{ms:03d}456789Z"
            logts = f"2024-01-01 {h:02d}:{mi:02d}:{se:02d}.{ms:03d}"
            if rnd.random() < 1 / 7:  # the no-brackets fallback line
                log = f"plain line {word()} with no brackets"
            else:
                log = (f"[{rnd.choice('IWE')} {logts} JupyterHub "
                       f"{rnd.choice(('app', 'log', 'proxy'))}:{code}] "
                       f"GET /hub/api/users/{word()}")
            lines.append(json.dumps({
                "log": log, "time": ts,
                "kubernetes": {"container_name": "hub",
                               "host": f"node{rnd.randrange(8)}",
                               "pod_name": f"hub-{rnd.randrange(4)}",
                               "annotations": {"noisy": str(i)},
                               "labels": {"app": "jhub"}}}))
        w(f"jhub/year=2024/month=01/day=01/hour={h:02d}/logs.json", lines)

    # --- zoom: dated meeting dumps + participants ----------------------
    per_day = n(2500, scale)
    mid = 0
    for day in range(1, 21):
        date = f"2024-01-{day:02d}"
        ms = []
        for i in range(per_day):
            m = mid + i
            uuid = f"uuid-{seed}-{m}"
            recs = [{
                "download_url": f"https://dl/{uuid}/{r}",
                "file_extension": "MP4", "file_size": rnd.randrange(10**6),
                "file_type": rnd.choice(("MP4", "M4A")),
                "id": f"rec-{uuid}-{r}", "meeting_id": uuid,
                "play_url": f"https://play/{uuid}/{r}",
                "recording_end": f"{date}T11:{rnd.randrange(60):02d}:00Z",
                "recording_start": f"{date}T10:{rnd.randrange(60):02d}:00Z",
                "recording_type": "shared_screen", "status": "completed"}
                for r in range(2)]
            ms.append(json.dumps({
                "account_id": "acc1", "duration": rnd.randint(5, 180),
                "host_email": f"{word()}@x.io",
                "host_id": f"host{rnd.randrange(100)}", "id": m,
                "recording_count": 2, "share_url": f"https://share/{m}",
                "start_time": f"{date}T{rnd.randrange(24):02d}:00:00Z",
                "timezone": "UTC", "topic": f"{word()} {word()}",
                "total_size": rnd.randrange(10**7), "type": 2,
                "uuid": uuid, "recording_files": recs}))
        for p in range(0, len(ms), 2500):  # paginated like the API
            suffix = "" if p == 0 else f"_page{p // 2500}"
            w(f"zoom/air-meetings-logs-{date}/meetings_logs_{date}{suffix}.json",
              ['{"from": "%s", "to": "%s", "total_records": %d, '
               '"meetings": [%s]}' % (date, date, len(ms),
                                      ",".join(ms[p:p + 2500]))])
        plines = []
        for i in range(per_day):
            parts = []
            for j in range(3):
                pid = (mid + i) * 3 + j
                parts.append({
                    "camera": f"cam{rnd.randrange(9)}",
                    "connection_type": rnd.choice(("UDP", "TCP")),
                    "customer_key": "ck", "data_center": "EU",
                    "device": rnd.choice(("Mac", "Windows", "iOS")),
                    "domain": "d", "email": f"{word()}@x.io",
                    "from_sip_uri": "", "full_data_center": "EU-FR",
                    "harddisk_id": "hd", "id": f"pid{pid}",
                    "internal_ip_addresses": [f"10.0.0.{rnd.randrange(250)}",
                                              f"10.0.1.{rnd.randrange(250)}"],
                    "ip_address": f"1.2.3.{rnd.randrange(250)}",
                    "join_time": f"2024-01-01T09:05:{rnd.randrange(60):02d}Z",
                    "leave_reason": "left",
                    "leave_time": f"2024-01-01T09:55:{rnd.randrange(60):02d}Z",
                    "location": word(), "mac_addr": "aa:bb",
                    "microphone": "mic", "network_type": "Wifi",
                    "participant_user_id": f"pu{pid}", "pc_name": "pc",
                    "recording": rnd.random() < 0.5,
                    "registrant_id": f"r{pid}", "role": "host",
                    "share_application": False, "share_desktop": True,
                    "share_whiteboard": False, "sip_uri": "",
                    "speaker": "spk", "status": "in_meeting",
                    "user_id": f"u{pid}", "user_name": f"{word()} {word()}",
                    "version": "5.0"})
            plines.append(json.dumps({
                "uuid": f"uuid-{seed}-{mid + i}",
                "participants_data": {"participants": parts}}))
        w(f"zoom/air-meetings-data/d{day}/participants_{day}.json", plines)
        mid += per_day

    # --- vk: one group, members, wall dumps ----------------------------
    w("vk/data2024-01-01/gsom_ma.json", [json.dumps({
        "id": 100, "type": "page", "name": "GSOM", "screen_name": "gsom_ma",
        "activity": "education", "description": word(), "is_closed": 0,
        "members_count": 2, "status": "st", "verified": 1,
        "site": "gsom.spbu.ru", "wiki_page": "w",
        "city": {"id": 2, "title": "SPB"}, "country": {"id": 1, "title": "RU"},
        "contacts": [{"desc": "dean", "email": "dean@x.io", "phone": "+7"}],
        "links": [{"id": 5, "name": "site", "desc": "main",
                   "url": "https://x"}]})])
    members = []
    for i in range(1, n(100000, scale) + 1):
        members.append(json.dumps({
            "id": i, "first_name": word(), "last_name": word(),
            "maiden_name": "", "screen_name": f"sn{i}", "nickname": "",
            "sex": rnd.randint(1, 2), "city": {"id": 2, "title": "SPB"},
            "home_town": "SPB", "country": {"id": 1, "title": "RU"},
            "about": "", "activities": "", "books": "", "can_post": 1,
            "deactivated": "", "domain": f"d{i}",
            "followers_count": rnd.randrange(10000), "friend_status": 0,
            "games": "", "interests": "", "is_closed": False, "is_friend": 0,
            "personal": "", "site": "", "skype": "", "livejournal": "",
            "twitter": "", "has_mobile": 1, "mobile_phone": "",
            "home_phone": "", "status": "", "relation": 0,
            "relation_partner_id": 0, "relation_partner_first_name": "",
            "relation_partner_last_name": "", "education_form": 1,
            "education_status": "Student", "faculty": 11,
            "faculty_name": "Mgmt", "graduation": rnd.randint(2020, 2027),
            "university": 22, "university_name": "SPbU",
            "occupation": {"id": 33, "name": "SPbU", "type": "university"},
            "movies": "", "music": "", "trending": 0, "tv": "",
            "verified": 0, "wall_default": 0,
            "last_seen": {"platform": rnd.randint(1, 7),
                          "time": 1700000000 + rnd.randrange(10**6)},
            "career": [{"city_id": 2, "country_id": 1, "company": word(),
                        "group_id": 9, "position": word(), "from": 2020,
                        "until": 2022}],
            "schools": [{"city": 2, "class": "a", "country": 1,
                         "id": f"sch{rnd.randrange(40)}",
                         "name": f"School {word()}", "speciality": "math",
                         "type": 1, "type_str": "gymnasium",
                         "year_from": 2010, "year_graduated": 2017,
                         "year_to": 2017}],
            "universities": [{"chair": 7, "chair_name": "IS", "city": 2,
                              "country": 1, "education_form": 1,
                              "education_status": "Student", "faculty": 11,
                              "faculty_name": "Mgmt", "graduation": 2024,
                              "id": 22, "name": "SPbU"}]}))
    w("vk/data2024-01-01/members_full_group_gsom_ma.json", members)
    per_file = n(2000, scale)
    for f in range(10):
        items = []
        for i in range(per_file):
            iid = f * per_file + i
            items.append(json.dumps({
                "owner_id": -100, "from_id": -100, "id": iid,
                "date": 1700000100 + rnd.randrange(10**6),
                "edited": 1700000200 + rnd.randrange(10**6),
                "post_type": "post", "text": f"{word()} {word()} {word()}",
                "comments": {"count": rnd.randrange(50)},
                "donut": {"is_donut": False},
                "likes": {"count": rnd.randrange(500), "user_likes": 0},
                "post_source": {"type": "vk"},
                "reposts": {"count": rnd.randrange(20), "user_reposted": 0},
                "views": {"count": rnd.randrange(5000)},
                "copy_history": [{"id": iid + 1000000, "from_id": -200,
                                  "owner_id": -200,
                                  "date": 1690000000 + rnd.randrange(10**6),
                                  "post_type": "post", "text": word(),
                                  "post_source": {"platform": "android",
                                                  "type": "api"}}]}))
        for off in range(0, len(items), 2000):  # offset-paginated
            suffix = "" if off == 0 else f"_offset{off}"
            w(f"vk/data2024-01-01/wall_owner_id_{f}{suffix}.json",
              ['{"count": %d, "items": [%s]}'
               % (len(items), ",".join(items[off:off + 2000]))])

    # --- monkey: survey details + response dumps -----------------------
    n_surveys = n(2000, scale)
    slines = []
    for s in range(1, n_surveys + 1):
        qs = []
        for q in range(2):
            qid = s * 10 + q
            qs.append({"id": qid, "position": q + 1,
                       "headings": [{"heading": f"{word()} {word()}?"}],
                       "answers": {"choices": [{
                           "id": qid * 10 + c, "is_na": False,
                           "position": c + 1,
                           "quiz_options": {"score": str(rnd.randrange(6))},
                           "text": word(), "visible": True,
                           "weight": rnd.randrange(11)} for c in range(2)]}})
        day = rnd.randint(1, 28)
        slines.append(json.dumps({
            "id": s, "title": f"Survey {word()}", "language": "en",
            "folder_id": rnd.randrange(7),
            "date_created": f"2021-12-{day:02d}T10:40:00",
            "date_modified": f"2021-12-{day:02d}T11:00:00",
            "page_count": 1, "question_count": 2, "response_count": 50,
            "pages": [{"id": s * 100, "position": 1, "question_count": 2,
                       "title": "P1", "questions": qs}]}))
    w("monkey/details/survey_details.json", slines)
    rid = 0
    for f in range(50):
        rlines = []
        for i in range(n(2000, scale)):
            rid += 1
            sid = rnd.randint(1, n_surveys)
            qid = sid * 10 + rnd.randrange(2)
            day = rnd.randint(1, 28)
            choice = qid * 10 + rnd.randrange(2)
            rlines.append(json.dumps({"data": [{
                "id": rid, "survey_id": sid,
                "date_created": f"2022-01-{day:02d}T09:00:00",
                "date_modified": f"2022-01-{day:02d}T09:10:00",
                "email_address": f"{word()}@x.io",
                "ip_address": f"9.9.{rnd.randrange(250)}.{rnd.randrange(250)}",
                "first_name": word(), "last_name": word(),
                "recipient_id": rid + 50, "response_status": "completed",
                "total_time": rnd.randrange(600),
                "pages": [{"id": sid * 100, "questions": [{
                    "id": qid, "answers": [{
                        "choice_id": choice, "row_id": 0,
                        "text": word(),
                        "quiz_options": {"weight": rnd.randrange(11)}}]}]}]}]}))
        w(f"monkey/responses/responses_{f}.json", rlines)
    return raw_bytes


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(generate(sys.argv[1], int(sys.argv[2]), scale))
    print(json.dumps(expected_counts(scale)))
