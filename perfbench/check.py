"""Correctness checks for the benchmark's workloads. Each check returns
None when the output is right, else a one-line reason."""
import csv
import glob
import hashlib
import os
import sys

import pandas as pd

# The repo's reference comparator for query results (str() of every cell
# after sorting) and the fixture table names it reads.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES, driver_diff  # noqa: E402,F401

# CsvSink.BaseColumns, then the enrichment column
CSV_HEADER = ["nct_id", "brief_title", "official_title", "overall_status",
              "minimum_age", "maximum_age", "study_type", "start_date", "gender",
              "brief_summary", "detailed_description", "criteria", "start_year"]
AI_COLUMN = "ai_determined_value"

def read_csv_dir(path):
    """Header and rows of the single CSV part file under `path`."""
    parts = sorted(glob.glob(f"{path}/part-*.csv"))
    if len(parts) != 1:
        raise ValueError(f"expected one CSV part file in {path}, found {len(parts)}")
    with open(parts[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    return (rows[0] if rows else []), rows[1:]


def check_etl(facts, truth):
    """One pipeline op: CSV header, row count, gate counts (CSV and the
    observed counters) and the label histogram of processed rows."""
    try:
        header, rows = read_csv_dir(facts["out"])
    except (OSError, ValueError) as e:
        return f"csv: {e}"
    if header != CSV_HEADER + [AI_COLUMN]:
        return f"csv header {header}"
    if len(rows) != truth["rows"]:
        return f"csv rows {len(rows)} != {truth['rows']}"
    labels = [r[-1] for r in rows]
    hist = {}
    for lab in labels:
        if lab != "N/A":
            hist[lab] = hist.get(lab, 0) + 1
    processed = sum(hist.values())
    if processed != truth["processed"] or len(rows) - processed != truth["bypassed"]:
        return f"csv processed/bypassed {processed}/{len(rows) - processed} != " \
               f"{truth['processed']}/{truth['bypassed']}"
    if hist != truth["labels"]:
        return f"label histogram {hist} != {truth['labels']}"
    got = (facts.get("rows"), facts.get("processed"), facts.get("bypassed"))
    want = (truth["rows"], truth["processed"], truth["bypassed"])
    if tuple(int(x) if x is not None else None for x in got) != want:
        return f"rows/processed/bypassed {got} != {want}"
    return None


def result_hash(df):
    """Order-independent hash of a result: str() of every cell, columns by
    name, rows sorted."""
    rows = sorted("\x1e".join(r) for r in df[sorted(df.columns)].astype(str).to_numpy())
    return hashlib.sha256("\x1f".join(rows).encode()).hexdigest()[:16]


def query_check(con, sql, path):
    """Compare one query's parquet dump with DuckDB running its oracle SQL
    over the same tables, with the repo's reference comparator. An empty
    result proves nothing and fails. Returns (reason or None, spark hash,
    oracle hash)."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return "no output", None, None
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if len(got) == 0:
        return "empty result", None, None
    try:
        reason = driver_diff(con, sql, files)
    except Exception as e:  # the reference compare fails hard on what it cannot sort
        reason = f"compare failed: {type(e).__name__}: {e}"
    return reason, result_hash(got), result_hash(con.sql(sql).df())


def check_query_op(facts, dump):
    """One timed query op: the fingerprint it observed (row count and hash
    sum) equals that of the warm-up dump the oracle check compared."""
    got, want = facts.get("fingerprint"), dump.get("fingerprint")
    if not want:
        return "no fingerprint of the checked dump"
    if got != want:
        return f"result fingerprint {got} != {want} of the checked dump"
    return None


def check_stream(facts, baseline):
    """One kernel drive: a non-empty report with the same row count and
    content hash as the warm-up drive of the same kernel. (State bytes on
    disk are not compared: parquet file sizes move by a few bytes between
    identical drives as row order inside a file varies.)"""
    if baseline.get("report_rows", 0) <= 0:
        return "empty report"
    for k in ("report_rows", "report_hash"):
        if facts.get(k) != baseline.get(k):
            return f"{k} {facts.get(k)} != {baseline.get(k)} of the warm-up drive"
    return None
