"""Output checks. Every wrong output counts as a failed operation.

* sparkify_etl: the five tables runAll wrote, read by DuckDB, against the
  generator's known counts (rows, distinct (user, level) pairs, matched
  plays, the per-month songplay_id sequence); and every distinct result
  of each README query against the same query in DuckDB over the written
  Parquet. Ties at a LIMIT cut-off may be broken either way, so a result
  passes when its sort keys equal DuckDB's and each of its rows is in
  DuckDB's full answer.
* registry_loops: each checked execution (every query's first, and one
  more of each lake query after the measured window) against its
  ``SparkEntry.oracleSql`` twin in DuckDB over the input tables, compared
  the way the repository's oracle gate compares (sorted, exact, same dtype
  kind).
"""
import glob
import json
import os

import duckdb
import pandas as pd

ETL_KEYS = ["songs", "artists", "users", "user_levels", "time", "songplays", "matched_plays"]


def check(workload, res, known, inp):
    """Returns (attempted, failed, notes)."""
    if workload == "sparkify_etl":
        return _etl(res, known)
    return _oracle(res, inp)


def _etl(res, known):
    """Each op is five operations: runAll and the four README queries."""
    ops = res["ops"]
    attempted = 5 * len(ops)
    failed = 5 * sum(1 for o in ops if not o["ok"])
    notes = []
    con = duckdb.connect()
    for n in ["songs", "artists", "users", "time", "songplays"]:
        con.execute(f"create view {n} as select * from "
                    f"read_parquet('{res['out']}/{n}/**/*.parquet', hive_partitioning = true)")
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    got = {
        "songs": one("select count(*) from songs"),
        "artists": one("select count(*) from artists"),
        "users": one("select count(*) from users"),
        "user_levels": one("select count(*) from (select distinct user_id, level from users)"),
        "time": one("select count(*) from time"),
        "songplays": one("select count(*) from songplays"),
        "matched_plays": one("select count(song_id) from songplays"),
        # songplay_id is a row_number per (year, month): 1..n in each
        "songplay_id_ok": one("select bool_and(lo = 1 and hi = n) from (select min(songplay_id) lo, "
                              "max(songplay_id) hi, count(*) n from songplays group by year, month)"),
    }
    res["measured"] = got
    bad = [k for k in ETL_KEYS if got[k] != known[k]] + ([] if got["songplay_id_ok"] else ["songplay_id"])
    if bad:
        failed += 1
        notes.append(f"ETL output disagrees with the generator on {bad}: got {got}, want "
                     f"{ {k: known[k] for k in ETL_KEYS} }")
    queries = _star_sql(res["user"])
    for typ, results in res["results"].items():
        sql, keys, limit = queries[typ]
        full = con.execute(sql).df()
        cols = list(full.columns)
        want = [tuple(None if pd.isna(v) else str(v) for v in row) for row in full.itertuples(index=False)]
        for got_json, n in results.items():
            rows = [tuple(r) for r in json.loads(got_json)]
            if not _star_ok(rows, want, cols, keys, limit):
                failed += n
                notes.append(f"{typ}: {n} executions returned {rows[:5]}..., DuckDB says {want[:5]}...")
    return attempted, min(failed, attempted), notes


# DuckDB twins of SparkifyQueries, each with its full ordered answer and the
# number of key columns its ORDER BY uses (None: compared as a set).
def _star_sql(user):
    return {
        "top_songs": ("""
            select s.title as song_title, a.name as artist_name, count(*) as count
            from songplays sp join songs s on sp.song_id = s.song_id
              join artists a on sp.artist_id = a.artist_id
            group by s.title, a.name
            order by count desc, song_title, artist_name""", ["count", "song_title", "artist_name"], 10),
        "top_users": ("""
            select u.user_id, concat(u.first_name, ' ', u.last_name) as user_name, count(*) as song_count
            from songplays sp join users u on sp.user_id = u.user_id and sp.level = u.level
            group by u.user_id, user_name
            order by song_count desc, user_name""", ["song_count", "user_name"], 10),
        "top_user_id": ("""
            with c as (select u.user_id, count(sp.session_id) as n
              from songplays sp join users u on sp.user_id = u.user_id and sp.level = u.level
              group by u.user_id)
            select user_id as top_user_id from c where n = (select max(n) from c)""", None, None),
        "top_sessions": (f"""
            select sp.session_id,
              concat(year(sp.start_time), '-', month(sp.start_time), '-', day(sp.start_time)) as date,
              concat(u.first_name, ' ', u.last_name) as user_name, count(s.title) as song_count
            from songplays sp join users u on sp.user_id = u.user_id and sp.level = u.level
              join songs s on sp.song_id = s.song_id
            where sp.user_id = '{user}'
            group by sp.session_id, date, user_name
            order by song_count desc, date""", ["song_count", "date"], 5),
    }


def _star_ok(got, want, cols, keys, limit):
    if keys is None:
        return sorted(got) == sorted(want)
    idx = [cols.index(k) for k in keys]
    head = want[:limit]
    return (len(got) == len(head)
            and [tuple(r[i] for i in idx) for r in got] == [tuple(r[i] for i in idx) for r in head]
            and len(set(got)) == len(got) and set(got) <= set(want))


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _oracle(res, inp):
    ops = res["ops"]
    queries = [q for o in ops for q in o["queries"]]
    failed = sum(1 for q in queries if not q["ok"])
    notes = [f"{q['name']} failed in a timed pass" for q in queries if not q["ok"]]
    check_dir = res["check_dir"]
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for path in glob.glob(os.path.join(inp, "*.parquet")):
        con.execute(f"create view {os.path.basename(path)[:-8]} as select * from '{path}'")
    # "warm/<query>" and "final/<query>": a failed execution may have left no directory
    outputs = {os.path.relpath(d, check_dir) for d in glob.glob(os.path.join(check_dir, "*", "*"))}
    outputs = sorted(outputs | set(res["check_failed"]))
    for out in outputs:
        name = os.path.basename(out)
        if out in res["check_failed"]:
            failed += 1
            notes.append(f"{out}: check execution failed: {res['check_failed'][out]}")
            continue
        files = glob.glob(os.path.join(check_dir, out, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            if len(got) == 0:
                failed += 1
                notes.append(f"{out}: no oracle and an empty result")
            continue
        why = _compare(got, con.sql(oracle[name]).df())
        if why:
            failed += 1
            notes.append(f"{out}: {why}")
    return len(queries) + len(outputs), failed, notes


def _compare(got, exp):
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    kind_bad = [c for c in g.columns if g[c].dtype.kind != e[c].dtype.kind]
    if kind_bad:
        return f"dtype kind differs on {kind_bad}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex)[:300]
    return None
