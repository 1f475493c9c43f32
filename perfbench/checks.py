"""Output checks that do not use the program's code.

Each check returns a list of problem strings; an empty list is a pass.  The
catalog check compares a query's collected rows with its DuckDB oracle the
way the repository's parity tool does (column names as a set, row count,
then order-insensitive values); the ingest and monitors checks recompute
their expectations from the generated inputs.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb

CATALOG_TABLES = ("region nation customer supplier part orders lineitem events "
                  "documents embeddings").split()


def duck_catalog(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


def _normalize(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def oracle_problems(cols: list[str], rows: list[tuple], con, sql: str) -> list[str]:
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return [f"schema: spark={sorted(cols)} oracle={sorted(dcols)}"]
    if len(rows) != len(drows):
        return [f"rows: spark={len(rows)} oracle={len(drows)}"]
    bad = sum(a != b for a, b in zip(_normalize(rows, cols), _normalize(drows, dcols)))
    return [f"values: {bad}/{len(rows)} rows differ"] if bad else []


def ingest_problems(got: dict[str, list[tuple]], expected: dict[str, list]) -> list[str]:
    problems = []
    for table, rows in expected.items():
        want = [tuple(r) for r in rows]
        have = got.get(table)
        if have is None:
            problems.append(f"{table}: not readable")
        elif have != want:
            missing = len(set(map(repr, want)) - set(map(repr, have)))
            problems.append(f"{table}: {len(have)} rows, expected {len(want)} "
                            f"({missing} expected rows absent)")
    return problems


def _csv(out_dir: str, frame: str) -> str:
    return os.path.join(out_dir, frame, "*.csv")


def csv_rows(out_dir: str, frame: str) -> int:
    n = 0
    for p in glob.glob(_csv(out_dir, frame)):
        with open(p) as f:
            n += max(sum(1 for _ in f) - 1, 0)
    return n


#: dark-monitor detector regions (segment -> name -> x0, x1, y0, y1), from the
#: reference's dark monitor classes; kept here so the check does not read
#: them from the program under test
DARK_REGIONS = {
    "FUVA": {"Bottom": (1060, 15250, 296, 375), "Left": (1060, 1260, 296, 734),
             "Top": (1060, 15250, 660, 734), "Right": (15119, 15250, 296, 734),
             "Inner": (1260, 15119, 375, 660)},
    "FUVB": {"Bottom": (809, 15182, 360, 405), "Left": (809, 1000, 360, 785),
             "Top": (809, 15182, 740, 785), "Right": (14990, 15182, 360, 785),
             "Inner": (1000, 14990, 405, 740)},
    "N/A": {"Full": (0, 1024, 0, 1024)},
}

#: (result frame, column summed or None for a row count, DuckDB query over
#:  the generated tables giving the expected value): a row count and one
#:  aggregate for each daily monitor family
MONITOR_CHECKS = [
    ("dark_rate_results", "n_events",
     "SELECT count(*) FROM dark_events"),
    ("dark_rate_results", None,
     "SELECT count(*) FROM (SELECT DISTINCT ROOTNAME, SEGMENT, region, EXPSTART, "
     "floor(t / 25) FROM dark_events)"),
    ("telemetry_results", "n",
     "SELECT count(*) FROM telemetry t JOIN (SELECT mnemonic, max(MJD) AS hi "
     "FROM telemetry GROUP BY 1) m USING (mnemonic) WHERE t.MJD >= m.hi - 365.25"),
    ("telemetry_results", None,
     "SELECT count(DISTINCT mnemonic) FROM telemetry"),
]


def monitor_problems(tables_dir: str, out_dir: str) -> tuple[int, list[str]]:
    """Row counts and one aggregate per daily monitor family, recomputed by
    DuckDB from the generated parquet and compared with the result CSVs.
    Returns (checks attempted, problems)."""
    con = duckdb.connect()
    for t in ("dark", "telemetry"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    regions = " UNION ALL ".join(
        f"SELECT '{seg}' AS seg, '{name}' AS region, {x0} AS x0, {x1} AS x1, "
        f"{y0} AS y0, {y1} AS y1"
        for seg, by in DARK_REGIONS.items() for name, (x0, x1, y0, y1) in by.items())
    con.execute(f"""
        CREATE VIEW dark_events AS
        WITH ev AS (
          SELECT ROOTNAME, SEGMENT, EXPSTART, unnest(PHA) AS pha,
                 unnest(XCORR) AS x, unnest(YCORR) AS y, unnest(TIME) AS t
          FROM dark WHERE EXPSTART != 0)
        SELECT ev.*, r.region FROM ev JOIN ({regions}) r
          ON ev.SEGMENT = r.seg AND ev.x > r.x0 AND ev.x < r.x1
         AND ev.y > r.y0 AND ev.y < r.y1
        WHERE NOT starts_with(ev.SEGMENT, 'FUV') OR (ev.pha > 2 AND ev.pha < 23)""")
    problems = []
    for frame, col, sql in MONITOR_CHECKS:
        want = con.execute(sql).fetchone()[0]
        files = glob.glob(_csv(out_dir, frame))
        if not files:
            problems.append(f"{frame}: no output")
            continue
        if col is None or csv_rows(out_dir, frame) == 0:
            have = 0 if col is not None else csv_rows(out_dir, frame)
        else:
            have = con.execute(
                f"SELECT coalesce(sum({col}), 0) FROM read_csv_auto("
                f"'{_csv(out_dir, frame)}', header = true)").fetchone()[0]
        if int(have) != int(want):
            problems.append(f"{frame}: {col or 'rows'} = {have}, expected {want}")
    return len(MONITOR_CHECKS), problems
