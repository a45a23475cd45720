"""Output checks for the lakehouse benchmark, run in DuckDB.

Each check returns a list of (target, reason) failures. The target is an
operation key (`validation:<name>`, `lookup:<vessel>`) or an operation-name
prefix (`pipelines.raw_to_staging`, `query.<name>`), so the runner can count
every timed operation that produced the wrong output as a mis-answer.
"""
import calendar
import datetime
import glob
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import norm  # noqa: E402  the repository's oracle rule

SF_TABLES = ["events", "documents", "embeddings"]
RAW_TO_STAGING = "pipelines.raw_to_staging"
STAGING_TO_CURATED = "pipelines.staging_to_curated"
CURATE = "pipelines.curate_documents"


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    # the benchmark JVM has exited: the checks may use every core
    con.execute(f"SET threads = {os.cpu_count()}")
    return con


def _cell(v):
    """DuckDB value in the JVM's answer encoding (dates as ISO text,
    timestamps as epoch seconds)."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return calendar.timegm(v.timetuple()) + v.microsecond / 1e6
        return v.timestamp()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _rows_equal(got, want, ordered):
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _lake_views(con, lake):
    for t in ["staging", "quarantine_validity", "quarantine_dq"]:
        if glob.glob(f"{lake}/{t}/**/*.parquet", recursive=True):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{lake}/{t}/**/*.parquet', hive_partitioning = true)")
        else:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT NULL AS x WHERE false")
    for t in ["trajectory", "daily"]:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{lake}/{t}/**/*.parquet', hive_partitioning = true)")
    for t in ["summary", "quarantine_csv"]:
        if os.path.isdir(f"{lake}/{t}"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{lake}/{t}/*.parquet')")


def check_lake(report, feed):
    """Reconcile the landed lake against the generator's exact counts and
    check every recorded answer against DuckDB over the same parquet."""
    con = _connect()
    fails = []
    _lake_views(con, report["lake"])
    c = feed["counts"]
    n = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
         for t in ["staging", "quarantine_validity", "quarantine_dq", "quarantine_csv"]}
    expect = {
        "staging": c["clean"],
        "quarantine_validity": c["empty_lat"] + c["bad_coords"],
        "quarantine_dq": c["negative_sog"],
        "quarantine_csv": c["corrupt"],
    }
    for t, want in expect.items():
        if n[t] != want:
            fails.append((RAW_TO_STAGING, f"{t}: {n[t]} rows landed, {want} planted"))
    landed = sum(n.values()) + c["duplicates"] + c["unparseable_ts"]
    if landed != c["raw_rows"]:
        fails.append((RAW_TO_STAGING, f"staged + quarantines + duplicates + unparseable = "
                                      f"{landed}, raw rows = {c['raw_rows']}"))
    points = con.execute("SELECT SUM(n_points) FROM summary").fetchone()[0]
    if points != n["staging"]:
        fails.append((STAGING_TO_CURATED,
                      f"sum(n_points) = {points}, staged rows = {n['staging']}"))
    sql = report["validation_sql"]
    for key, got in report["answers"].items():
        kind, arg = key.split(":", 1)
        if kind == "validation":
            want = con.execute(sql[arg]).fetchall()
            ordered = "ORDER BY" in sql[arg]
        else:
            want = con.execute(
                "SELECT ts, lat, lon, speed FROM staging WHERE user_id = ? ORDER BY ts",
                [int(arg)]).fetchall()
            ordered = True
            if not want:
                fails.append((key, "lookup of a vessel with no staged rows"))
        want = [[_cell(v) for v in r] for r in want]
        if not _rows_equal(got, want, ordered):
            fails.append((key, f"{len(got)} rows differ from DuckDB's {len(want)}"))
    return fails


def check_queries(report, sf_dir):
    """Each landed query result must equal DuckDB running the query's
    oracle SQL over the generated inputs."""
    con = _connect()
    fails = []
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for q, sql in sorted(report["oracle_sql"].items()):
        files = glob.glob(f"{report['out']}/{q}/*.parquet")
        if not files:
            fails.append((f"query.{q}", "no output landed"))
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        want = con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns):
            fails.append((f"query.{q}", f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
        elif norm(got) != norm(want):
            fails.append((f"query.{q}", f"{len(got)} rows differ from the oracle's {len(want)}"))
    return fails


def check_corpus(report, sf):
    """PipelineSpec invariants on the curated corpus: no duplicate text, the
    quality floor, valid splits, one survivor per planted group."""
    con = _connect()
    fails = []
    con.execute("CREATE VIEW curated AS SELECT * FROM "
                f"read_parquet('{report['out']}/curated/*.parquet')")
    dup = con.execute("SELECT COUNT(*) FROM (SELECT text FROM curated GROUP BY text "
                      "HAVING COUNT(*) > 1)").fetchone()[0]
    if dup:
        fails.append((CURATE, f"{dup} texts survive more than once"))
    low = con.execute("SELECT COUNT(*) FROM curated WHERE quality_score < 0.3").fetchone()[0]
    if low:
        fails.append((CURATE, f"{low} docs below the 0.3 quality floor"))
    bad = con.execute("SELECT COUNT(*) FROM curated WHERE split IS NULL OR split NOT IN "
                      "('train', 'val', 'test')").fetchone()[0]
    if bad:
        fails.append((CURATE, f"{bad} docs with an invalid split"))
    ids = {r[0] for r in con.execute("SELECT doc_id FROM curated").fetchall()}
    wrong = [g for g, members in sf["planted_groups"].items()
             if len(ids.intersection(members)) != 1]
    if wrong:
        fails.append((CURATE, f"{len(wrong)} planted groups without exactly one "
                              f"survivor, e.g. {wrong[:3]}"))
    return fails
