"""Correctness checks, run after the JVM exits and outside every timed window.

- Query workloads: each query's result, written once during warm-up, is
  compared with its `SparkEntry.oracleSql` run by DuckDB over the same
  corpus, using the repository's own comparison (`tools/verify_local.py`).
  A query without an oracle must return at least one row.
- `star_etl`: the 16 star tables of the last timed pass are compared with
  what the generator planted (`f1gen.expected`).

Each check returns {name: None when correct, else a one-line reason}.
"""
import importlib.util
import os

import duckdb

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def _verify_local(root):
    path = os.path.join(root, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(root, corpus_dir, check_dir, names, oracle):
    cmp_frames = _verify_local(root).cmp_frames
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    out = {}
    for name in names:
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            out[name] = "no result written"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            if name not in oracle:
                out[name] = None if len(got) > 0 else "no rows"
                continue
            r = cmp_frames(name, got, con.sql(oracle[name]).df())
            out[name] = None if r.startswith("OK") else r[:300]
        except Exception as e:  # a check that cannot run is a failed check
            out[name] = f"check error: {str(e)[:300]}"
    return out


def check_star(star_out, expected):
    con = duckdb.connect()

    def q(table, sql):
        return con.sql(sql.format(t=f"'{star_out}/{table}/*.parquet'")).fetchall()

    out = {}
    for table, n in expected["counts"].items():
        try:
            got = q(table, "SELECT count(*) FROM {t}")[0][0]
            out[table] = None if got == n else f"{got} rows, expected {n}"
        except Exception as e:
            out[table] = f"unreadable: {str(e)[:200]}"

    def also(table, reason):
        if reason and out.get(table) is None:
            out[table] = reason

    def winners(table, key, col, want):
        got = dict(q(table, f"SELECT {key}, {col} FROM {{t}}"))
        bad = [k for k, v in want.items() if k in got and got[k] != v]
        return f"{len(bad)} {col} not keep-first, e.g. {bad[:3]}" if bad else None

    if out.get("Driver") is None:
        ids = [r[0] for r in q("Driver", "SELECT driverId FROM {t} ORDER BY 1")]
        also("Driver", None if ids == expected["driver_ids"]
             else "kept drivers differ from those with a parseable dob")
        also("Driver", winners("Driver", "driverId", "forename",
                               expected["driver_forename"]))
    if out.get("Team") is None:
        also("Team", winners("Team", "constructorId", "name_team",
                             expected["team_name"]))
    if out.get("LocationDimension") is None:
        also("LocationDimension", winners("LocationDimension", "locationId",
                                          "name_loc", expected["circuit_name"]))
    if out.get("Sprint") is None:
        ids = [r[0] for r in q("Sprint", "SELECT raceId FROM {t} ORDER BY 1")]
        also("Sprint", None if ids == expected["sprint_ids"]
             else "kept sprints differ from those with a parseable date")
    if out.get("Laps") is None:
        last = q("Laps", "SELECT raceId, driver_id, lap, lapsId FROM {t} "
                         "ORDER BY raceId DESC, driver_id DESC, lap DESC LIMIT 1")
        want = expected["laps_last_key"] + [expected["counts"]["Laps"]]
        also("Laps", None if last and list(last[0]) == want
             else f"capped rows end at {last}, expected {want}")
    return out
