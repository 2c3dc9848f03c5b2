"""Output checks. They run outside the timed regions.

Every check compares a result that the program has fully materialized
(all rows, all columns) against a reference computed independently in
DuckDB from the same generated inputs. A check returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

FLOAT_RTOL = 1e-9

BATCH_TABLES = ("events", "region", "nation", "customer", "supplier", "orders", "lineitem")


def oracle_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in BATCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns in name order, rows sorted by every column. Floats are
    rounded for the sort key only, so last-bit differences in a sum do
    not reorder rows."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    keys = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            keys[c] = col.round(6)
        elif col.dtype.kind == "O":
            keys[c] = col.astype(str)
        else:
            keys[c] = col
    order = keys.sort_values(by=list(keys.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = canonical(got), canonical(want)
    problems = []
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            b = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(a) & np.isnan(b)
            close = np.abs(a - b) <= FLOAT_RTOL * np.maximum(1.0, np.abs(b))
            bad = ~(both_nan | close)
        else:
            if a.dtype.kind == "M" or b.dtype.kind == "M":
                a, b = pd.to_datetime(a), pd.to_datetime(b)
            elif a.dtype != b.dtype:
                a, b = a.astype(str), b.astype(str)
            bad = ~((a == b) | (a.isna() & b.isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(
                f"column {c}: {int(bad.sum())} mismatches, first at row {i}: "
                f"{g[c].iloc[i]!r} != {w[c].iloc[i]!r}"
            )
    return problems


# ---------------------------------------------------------------------------
# stream_reference: sink contents against a recomputation over the logs
# ---------------------------------------------------------------------------

def _log_lines(topic_dir: str) -> pa.Table:
    lines: list[str] = []
    files: list[int] = []
    for i, path in enumerate(sorted(glob.glob(os.path.join(topic_dir, "part-*.log")))):
        with open(path) as fh:
            chunk = fh.read().split("\n")
        if chunk and chunk[-1] == "":
            chunk.pop()
        lines.extend(chunk)
        files.extend([i] * len(chunk))
    return pa.table({"line": pa.array(lines, pa.string()), "file_no": pa.array(files, pa.int32())})


def _sink(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


_REGISTER_SQL = """
    WITH p AS (SELECT string_split(line, '\t') AS f FROM logs)
    SELECT CASE f[2] WHEN '1' THEN 'PC' WHEN '2' THEN 'APP' ELSE 'Other' END AS platform,
           count(*) AS total
    FROM p WHERE len(f) = 3 GROUP BY 1
"""

_QZ_SQL = """
    WITH p AS (SELECT string_split(line, '\t') AS f FROM logs),
    q AS (
        SELECT TRY_CAST(f[1] AS INTEGER) AS uid, TRY_CAST(f[2] AS INTEGER) AS courseid,
               TRY_CAST(f[3] AS INTEGER) AS pointid, f[4] AS questionid,
               f[5] AS istrue, f[6] AS createtime
        FROM p WHERE len(f) = 6
    ),
    agg AS (
        SELECT uid, courseid, pointid,
               array_to_string(list_sort(list_distinct(list(questionid))), ',') AS questionids,
               CAST(count(DISTINCT questionid) AS INTEGER) AS qz_count,
               count(*) AS qz_sum,
               CAST(sum(CASE WHEN istrue = '1' THEN 1 ELSE 0 END) AS BIGINT) AS qz_istrue,
               min(createtime) AS createtime
        FROM q WHERE uid IS NOT NULL AND courseid IS NOT NULL AND pointid IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT *, qz_istrue / qz_sum AS correct_rate,
           (qz_count / 30.0) * (qz_istrue / qz_sum) AS mastery_rate
    FROM agg
"""

_PAGE_SQL = """
    SELECT file_no,
           coalesce(json_extract_string(line, '$.last_page_id'), '') AS last_page_id,
           coalesce(json_extract_string(line, '$.page_id'), '') AS page_id
    FROM logs WHERE json_valid(line)
"""


def check_stream_sinks(topics: dict[str, str], sinks: dict[str, str]) -> dict[str, list[str]]:
    """Problems per job: register_totals, quiz_mastery, page_flow,
    rawlog_archive."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out: dict[str, list[str]] = {}

    con.register("logs", _log_lines(topics["register"]))
    want = con.execute(_REGISTER_SQL).df()
    got = con.execute(f"SELECT platform, total FROM {_sink(sinks['register_totals'])}").df()
    out["register_totals"] = compare_frames(got, want)
    con.unregister("logs")

    con.register("logs", _log_lines(topics["qz"]))
    want = con.execute(_QZ_SQL).df()
    got = con.execute(
        f"SELECT * EXCLUDE (updatetime, _bucket) FROM {_sink(sinks['quiz_mastery'])}"
    ).df()
    out["quiz_mastery"] = compare_frames(got, want)
    con.unregister("logs")

    con.register("logs", _log_lines(topics["page"]))
    decoded = con.execute(_PAGE_SQL).df()
    want = decoded.groupby(["last_page_id", "page_id"]).size().rename("cnt").reset_index()
    flows = con.execute(
        f"SELECT last_page_id, page_id, cnt, batch_id FROM {_sink(sinks['page_flow'])}"
    ).df()
    got = flows.groupby(["last_page_id", "page_id"])["cnt"].sum().reset_index()
    problems = compare_frames(got.astype({"cnt": "int64"}), want.astype({"cnt": "int64"}))
    # one trigger per file: the per-batch totals are the per-file counts
    per_batch = sorted(flows.groupby("batch_id")["cnt"].sum().astype(int).tolist())
    per_file = sorted(decoded.groupby("file_no").size().astype(int).tolist())
    if per_batch != per_file:
        problems.append(f"per-batch totals {per_batch} != per-file counts {per_file}")
    out["page_flow"] = problems
    con.unregister("logs")

    raw = _log_lines(topics["raw"])["line"].to_pylist()
    got_raw = con.execute(
        f"SELECT value FROM read_parquet('{sinks['rawlog_archive']}/day=*/*.parquet')"
    ).df()["value"].tolist()
    out["rawlog_archive"] = [] if sorted(got_raw) == sorted(raw) else [
        f"archived {len(got_raw)} values, expected the {len(raw)} input lines"
    ]
    con.close()
    return out


def stream_kept_rows(sinks: dict[str, str]) -> int:
    """Rows the three decoding jobs let through, read back from their
    sinks: the register total, the quiz attempt count, the page-flow
    transition count."""
    con = duckdb.connect()
    kept = 0
    for job, col in (("register_totals", "total"), ("quiz_mastery", "qz_sum"), ("page_flow", "cnt")):
        kept += int(con.execute(f"SELECT sum({col}) FROM {_sink(sinks[job])}").fetchone()[0])
    con.close()
    return kept
