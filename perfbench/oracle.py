"""Output checks, run in DuckDB outside every timed window.

``etl_expected`` re-derives the five Sparkify tables from the generated
JSON with the reference's semantics (UTC, Monday=1 ``weekday``, the
tie-keeping ``users`` join, the title-only left join for ``songplays``,
``time`` over all events). ``check_lake`` compares each table the ETL
wrote with that oracle. ``check_queries`` compares each query result with
the query's own ``oracleSql``. Both compare the way the repository's
oracle gate, ``tools/check.py``, does.

Every check returns a list of failure messages; an empty list passes.
"""
import functools
import importlib.util
import json
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOG_COLUMNS = {
    "artist": "VARCHAR", "auth": "VARCHAR", "firstName": "VARCHAR",
    "gender": "VARCHAR", "itemInSession": "INTEGER", "lastName": "VARCHAR",
    "length": "FLOAT", "level": "VARCHAR", "location": "VARCHAR",
    "method": "VARCHAR", "page": "VARCHAR", "registration": "FLOAT",
    "sessionId": "INTEGER", "song": "VARCHAR", "status": "INTEGER",
    "ts": "BIGINT", "userAgent": "VARCHAR", "userId": "VARCHAR"}
SONG_COLUMNS = {
    "num_songs": "INTEGER", "artist_id": "VARCHAR", "artist_latitude": "FLOAT",
    "artist_longitude": "FLOAT", "artist_location": "VARCHAR",
    "artist_name": "VARCHAR", "song_id": "VARCHAR", "title": "VARCHAR",
    "duration": "FLOAT", "year": "INTEGER"}

TS = "make_timestamp(ts * 1000)"
ETL_SQL = {
    "songs": "SELECT DISTINCT song_id, title, artist_id, year, duration FROM song_stage",
    "artists": "SELECT DISTINCT artist_id, artist_name, artist_location, "
               "artist_latitude, artist_longitude FROM song_stage",
    "users": "SELECT l.userId, l.firstName, l.lastName, l.gender, l.level FROM logs l "
             "JOIN (SELECT userId, max(ts) AS ts FROM logs GROUP BY userId) m "
             "ON l.userId = m.userId AND l.ts = m.ts",
    "songplays": f"SELECT l.ts, year(make_timestamp(l.ts * 1000)) AS year, "
                 f"month(make_timestamp(l.ts * 1000)) AS month, l.userId, l.level, "
                 f"s.song_id, s.artist_id, l.sessionId, l.location, l.userAgent "
                 f"FROM logs l LEFT JOIN song_stage s ON s.title = l.song "
                 f"WHERE l.page = 'NextSong'",
    "time": f"SELECT DISTINCT ts AS start_time, hour({TS}) AS hour, day({TS}) AS day, "
            f"weekofyear({TS}) AS week, month({TS}) AS month, year({TS}) AS year, "
            f"isodow({TS}) AS weekday FROM logs",
}
PARTITIONED = {"songs", "songplays", "time"}
TMP_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "duckdb-tmp")


def _struct(cols):
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"


def _connect(threads):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{TMP_DIR}'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    return con


def _etl_views(con, log_dir, song_dir):
    con.execute(f"CREATE OR REPLACE VIEW logs AS SELECT * FROM read_json("
                f"'{log_dir}/*.json', format = 'newline_delimited', "
                f"columns = {_struct(LOG_COLUMNS)})")
    con.execute(f"CREATE OR REPLACE VIEW song_stage AS SELECT * FROM read_json("
                f"'{song_dir}/*/*/*/*.json', format = 'newline_delimited', "
                f"columns = {_struct(SONG_COLUMNS)})")


def _diff(con, got_sql, want_sql):
    """(rows got, rows wanted, whether they differ), both sides normalised
    as the repository's oracle gate does it (``tools/check.py``: columns
    sorted by name, values as strings, rows sorted)."""
    _, got = _gate().normalize(con, got_sql, "got")
    _, want = _gate().normalize(con, want_sql, "want")
    return len(got), len(want), got != want


@functools.lru_cache(maxsize=None)
def _gate():
    """The repository's oracle gate, ``tools/check.py``."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def etl_expected(log_dir, song_dir, threads=2):
    """Oracle row count per table."""
    con = _connect(threads)
    _etl_views(con, log_dir, song_dir)
    counts = {t: con.sql(f"SELECT count(*) FROM ({q})").fetchone()[0]
              for t, q in ETL_SQL.items()}
    counts["next_song"] = con.sql(
        "SELECT count(*) FROM logs WHERE page = 'NextSong'").fetchone()[0]
    return counts


def check_lake(log_dir, song_dir, lake_dir, threads=2):
    """Compares every table under lake_dir with the oracle."""
    con = _connect(threads)
    _etl_views(con, log_dir, song_dir)
    failures = []
    for t, q in ETL_SQL.items():
        path = os.path.join(lake_dir, t)
        hive = "true" if t in PARTITIONED else "false"
        glob = f"{path}/**/*.parquet" if t in PARTITIONED else f"{path}/*.parquet"
        try:
            got = f"SELECT * FROM read_parquet('{glob}', hive_partitioning = {hive})"
            n_got, n_want, diff = _diff(con, got, q)
        except Exception as e:  # an unreadable table is a failed check
            failures.append(f"{t}: {str(e).splitlines()[0]}")
            continue
        if diff:
            failures.append(f"{t}: {n_got} rows, oracle {n_want}, rows differ")
    return failures


def check_queries(data_dir, results_dir, members, threads=2):
    """Compares each member's result parquet, as ``graft.Verify`` dumped it,
    with its oracleSql."""
    con = _connect(threads)
    for t in _gate().TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
    path = os.path.join(results_dir, "oracle_sql.json")
    oracle = {}
    if os.path.exists(path):
        with open(path) as f:
            oracle = json.load(f)
    failures = []
    for q in members:
        sql = oracle.get(q)
        path = os.path.join(results_dir, q)
        if not sql:
            failures.append(f"{q}: no oracle SQL")
            continue
        if not os.path.isdir(path):
            failures.append(f"{q}: no result")
            continue
        try:
            n_got, n_want, diff = _diff(
                con, f"FROM read_parquet('{path}/*.parquet')", sql)
        except Exception as e:
            failures.append(f"{q}: {str(e).splitlines()[0]}")
            continue
        if diff:
            failures.append(f"{q}: {n_got} rows, oracle {n_want}, rows differ")
    return failures
