"""Seeded Sparkify lake generator for the benchmark.

``sparkify_lake`` writes a Sparkify-shaped JSON lake (SparkifySchemas /
FIXTURES.md section B) from the declared schemas, so nothing is downloaded:
one JSON object per song file in the reference's 3-level
``song_data/A/B/C/TR*.json`` tree, and NDJSON events by month under
``log-data/``. It carries the fixture edge cases (empty ``song_id``,
duplicate song rows, a title shared by two artists, level changes, empty
``userId``, ``ts`` straddling a month boundary, sub-second ``ts`` gaps,
non-NextSong pages, plays with no matching song at a stated rate) and
returns the counts it knows, which the benchmark checks the ETL output
against.

Usage: python3 perfbench/gen.py <out_dir> <seed> <song_files> <events>
"""
import json
import os
import sys

import numpy as np

ALNUM = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
WORDS = ["love", "night", "star", "heart", "blue", "fire", "rain", "road",
         "dream", "city", "light", "gold", "river", "home", "wild", "summer",
         "ghost", "moon", "dance", "echo", "silver", "stone", "ocean", "time"]
FIRST = ["Chloe", "Tegan", "Jacob", "Lily", "Kate", "Ryan", "Aleena", "Mohammad",
         "Jayden", "Matthew", "Layla", "Ava", "Sara", "Adler", "Cecilia", "Rylan"]
LAST = ["Cuevas", "Levine", "Klein", "Koch", "Harrell", "Smith", "Kirby",
        "Rodriguez", "Graham", "Jones", "Griffin", "Barrera", "Johnson", "Owens"]
AGENTS = ['"Mozilla/5.0 (Windows NT 6.1; WOW64)"',
          '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4)"',
          "Mozilla/5.0 (X11; Linux x86_64; rv:31.0) Gecko/20100101 Firefox/31.0"]
LOCATIONS = ["San Francisco-Oakland-Hayward, CA", "Lansing-East Lansing, MI",
             "Atlanta-Sandy Springs-Roswell, GA", "Chicago-Naperville-Elgin, IL-IN-WI"]
OTHER_PAGES = ["Home", "Logout", "Settings", "Help", "About", "Upgrade"]
# 2018-11-01T00:00:00Z and 2019-01-01T00:00:00Z in epoch ms; the month
# boundary between the two log files sits at 2018-12-01T00:00:00Z.
T_NOV, T_DEC, T_JAN = 1541030400000, 1543622400000, 1546300800000


def _ids(rng, prefix, n):
    body = ALNUM[rng.integers(0, len(ALNUM), size=(n, 16))]
    return [prefix + "".join(r) for r in body]


def sparkify_lake(out_dir, seed, n_songs, n_events, match_rate=0.7):
    """Write the lake under out_dir and return its known counts."""
    rng = np.random.default_rng(seed)
    n_artists = max(2, n_songs // 3)
    artist_ids = _ids(rng, "AR", n_artists)
    artists = []
    for i in range(n_artists):
        located = rng.random() < 0.6
        artists.append({
            "artist_id": artist_ids[i],
            "artist_name": f"{WORDS[i % len(WORDS)].title()} Project {i}",
            "artist_location": LOCATIONS[i % len(LOCATIONS)] if located else "",
            "artist_latitude": round(float(rng.uniform(-60, 60)), 5) if located else None,
            "artist_longitude": round(float(rng.uniform(-150, 150)), 5) if located else None,
        })
    song_ids = _ids(rng, "SO", n_songs)
    songs = []
    for j in range(n_songs):
        a = artists[int(rng.integers(0, n_artists))]
        title = f"{WORDS[j % len(WORDS)].title()} {WORDS[(j * 7) % len(WORDS)]} {j}"
        if j % 97 == 5 and songs:
            # same title under a second artist (README's multi-version note)
            title = songs[-1]["title"]
        rec = {"num_songs": 1, **a,
               "song_id": "" if j % 101 == 3 else song_ids[j],
               "title": title,
               "duration": round(float(rng.uniform(60, 600)), 5),
               "year": 0 if rng.random() < 0.2 else int(rng.integers(1960, 2019))}
        songs.append(rec)
    # duplicate rows: about 2% of songs land in a second file unchanged
    dups = [dict(s) for k, s in enumerate(songs) if k % 53 == 7]
    rows = songs + dups
    track_ids = _ids(rng, "TR", len(rows))
    for tr, rec in zip(track_ids, rows):
        d = os.path.join(out_dir, "song_data", tr[2], tr[3], tr[4])
        os.makedirs(d, exist_ok=True)
        keys = ["num_songs", "artist_id", "artist_latitude", "artist_longitude",
                "artist_location", "artist_name", "song_id", "title", "duration", "year"]
        with open(os.path.join(d, tr + ".json"), "w") as f:
            json.dump({k: rec[k] for k in keys}, f)

    # join multiplicity of a (title, artist_name) pair over the raw rows
    mult = {}
    for rec in rows:
        key = (rec["title"], rec["artist_name"])
        mult[key] = mult.get(key, 0) + 1
    pairs = [(s["title"], s["artist_name"], s["duration"]) for s in songs]

    n_users = max(8, n_events // 1500)
    users = []
    for u in range(n_users):
        users.append({
            "userId": str(u + 1),
            "firstName": FIRST[u % len(FIRST)],
            # unique full names keep the README orderings free of ties
            "lastName": f"{LAST[(u // len(FIRST)) % len(LAST)]}{u}",
            "gender": "F" if u % 2 == 0 else "M",
            "level": "paid" if rng.random() < 0.3 else "free",
            "switch_at": (T_NOV + int(rng.integers(0, T_JAN - T_NOV)))
            if rng.random() < 0.25 else None,
            "registration": float(T_NOV - int(rng.integers(1, 10 ** 9))),
            "location": LOCATIONS[u % len(LOCATIONS)],
            "agent": AGENTS[u % len(AGENTS)],
        })

    ts = np.sort(rng.integers(T_NOV, T_JAN, size=n_events))
    # a burst straddling the month boundary with sub-second gaps
    burst = min(n_events // 10, 500)
    if burst:
        ts[:burst] = np.sort(T_DEC - 2000 + rng.integers(0, 4000, size=burst))
        ts = np.sort(ts)
    user_of = rng.integers(0, n_users, size=n_events)
    page_roll = rng.random(n_events)
    match_roll = rng.random(n_events)
    song_pick = rng.integers(0, len(pairs), size=n_events)
    session_of = {}
    item_of = {}
    by_month = {"2018-11": [], "2018-12": []}
    nextsong = songplays_rows = matched_rows = 0
    user_levels = set()
    top_plays = {}
    for i in range(n_events):
        u = users[int(user_of[i])]
        t = int(ts[i])
        level = u["level"]
        if u["switch_at"] is not None and t >= u["switch_at"]:
            level = "free" if level == "paid" else "paid"
        logged_out = page_roll[i] > 0.995
        page = "NextSong" if page_roll[i] < 0.8 or logged_out else \
            OTHER_PAGES[int(page_roll[i] * 1000) % len(OTHER_PAGES)]
        uid = "" if logged_out else u["userId"]
        sess = session_of.setdefault(uid, 1000 + int(user_of[i]) * 10)
        if item_of.get(uid, 0) >= 40:
            sess += 1
            session_of[uid] = sess
            item_of[uid] = 0
        item = item_of.get(uid, 0)
        item_of[uid] = item + 1
        song = artist = length = None
        if page == "NextSong":
            if match_roll[i] < match_rate:
                song, artist, length = pairs[int(song_pick[i])]
            else:
                song, artist, length = f"Unreleased {i}", f"Nobody {i % 97}", 200.0
            nextsong += 1
            m = mult.get((song, artist), 0)
            songplays_rows += max(1, m)
            matched_rows += m
            if uid:
                user_levels.add((uid, level))
                top_plays[uid] = top_plays.get(uid, 0) + max(1, m)
        ev = {"artist": artist, "auth": "Logged Out" if logged_out else "Logged In",
              "firstName": None if logged_out else u["firstName"],
              "gender": None if logged_out else u["gender"],
              "itemInSession": item,
              "lastName": None if logged_out else u["lastName"],
              "length": length, "level": level, "location": u["location"],
              "method": "PUT" if page == "NextSong" else "GET", "page": page,
              "registration": u["registration"], "sessionId": sess, "song": song,
              "status": 200, "ts": t, "userAgent": u["agent"], "userId": uid}
        by_month["2018-11" if t < T_DEC else "2018-12"].append(ev)
    os.makedirs(os.path.join(out_dir, "log-data"), exist_ok=True)
    for month, evs in by_month.items():
        with open(os.path.join(out_dir, "log-data", f"{month}-events.json"), "w") as f:
            for ev in evs:
                f.write(json.dumps(ev))
                f.write("\n")

    songs_rows = len({(s["song_id"], s["title"], s["artist_id"], s["year"], s["duration"])
                      for s in rows if s["song_id"] != ""})
    artists_rows = len({s["artist_id"] for s in rows})
    json_bytes = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(out_dir) for f in fs)
    top_user = min(top_plays, key=lambda k: (-top_plays[k], int(k)))
    return {
        "song_files": len(rows), "events": n_events, "json_bytes": json_bytes,
        "nextsong": nextsong, "user_levels": len(user_levels),
        "songplays": songplays_rows, "matched_plays": matched_rows,
        "songs": songs_rows, "artists": artists_rows,
        "time": nextsong, "users": len(user_levels),
        "match_rate": match_rate, "session_user": top_user,
    }


if __name__ == "__main__":
    out, seed, n_songs, n_events = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    print(json.dumps(sparkify_lake(out, seed, n_songs, n_events)))
