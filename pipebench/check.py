"""Correctness check of one benchmark run, computed with DuckDB on the
same generated inputs the run read.

- SQL-expressible outputs (the weather steps, the curated corpus) are
  compared with their SparkEntry.oracleSql entries exactly as
  tools/check_oracle.py compares them: same canonicalization, bitwise
  float columns, exact frame equality.
- Predictions are checked structurally: one per entity, all finite,
  and the holdout RMSE under RMSE_BOUND.
- Dashboard reads are checked by digest against the oracle run over
  exactly the snapshot (base file + appended files) each read saw; the
  oracle-checked weather steps run over the final snapshot.
- Appends are checked for rows in = clean + quarantined, with the
  quarantine count equal to the malformed lines in the batch.

`check(workload, data_dir, work_dir, canon)` returns a list of failure
messages; an empty list is a pass.
"""
import glob
import json
import math
import os
import re
import struct
import sys
from hashlib import sha256

import duckdb
import numpy as np
import pandas as pd

WEATHER_KEYS = ["q_json_ingest", "q_validate_ingest", "q_dedup_key",
                "q_feature_pipeline", "q_range_join", "q_quality_report"]
# The forecast target is a value 24 steps ahead; its spread across the
# generated events is ~50, so a model that learned nothing sits near 50.
RMSE_BOUND = 80.0
# CTEs that reference themselves; DuckDB cannot materialize those
RECURSIVE_CTES = {"reach"}


def read_text(path):
    with open(path) as f:
        return f.read()


def read_json(path):
    return json.loads(read_text(path))


def read_jsonl(path):
    return [json.loads(l) for l in read_text(path).splitlines() if l.strip()]


def connect(tables):
    con = duckdb.connect()
    for name, paths in tables.items():
        files = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{files}])")
    return con


def compare(name, mine, ref, canon):
    """tools/check_oracle.py's comparison of one output; None on pass."""
    if sorted(mine.columns) != sorted(ref.columns):
        return f"{name}: columns {sorted(mine.columns)} != {sorted(ref.columns)}"
    a, b = canon(mine), canon(ref)
    if len(a) != len(b):
        return f"{name}: rows {len(a)} != {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av = a[c].to_numpy(dtype="float64", na_value=np.nan)
            bv = b[c].to_numpy(dtype="float64", na_value=np.nan)
            if not np.array_equal(av.view("uint64"), bv.view("uint64")):
                i = int(np.where(av.view("uint64") != bv.view("uint64"))[0][0])
                return f"{name}: float column {c} differs at row {i}: {av[i]!r} vs {bv[i]!r}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"{name}: {str(e).splitlines()[0]}"
    return None


def read_output(work, key):
    files = sorted(glob.glob(f"{work}/outputs/{key}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no output parquet for {key}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def materialized(sql):
    """The oracle SQL with DuckDB's MATERIALIZED hint on every
    non-recursive CTE. Results are unchanged; without the hint DuckDB
    inlines each CTE at every reference, and q_curate's chain of CTEs
    (each used by several later ones) takes minutes on 1000 documents
    instead of seconds."""
    return re.sub(r"(\), |WITH RECURSIVE )(\w+) AS \(",
                  lambda m: m.group(0) if m.group(2) in RECURSIVE_CTES
                  else f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


# Known defect of the q_curate oracle SQL: a document whose every token
# lies in a repeated span has no row in its `rebuilt` CTE, and the LEFT
# JOIN in `spanned` then restores the document's ORIGINAL text, where
# TextAnalysis.cutSpans (and the oracle's own coalesce(text_cut, ''))
# give ''. The oracle's CTEs name those documents; for them alone the
# expected text is ''. Each use is reported on stderr.
FULLY_CUT_SQL = "SELECT doc_id FROM ivs WHERE doc_id NOT IN (SELECT doc_id FROM rebuilt)"


def fully_cut_corrected(con, sql, ref):
    body = sql[:sql.rindex("\nSELECT ")]
    cut = {r[0] for r in con.execute(body + "\n" + FULLY_CUT_SQL).fetchall()}
    hit = ref["doc_id"].isin(cut)
    if hit.any():
        print(f"[pipebench] q_curate oracle: {int(hit.sum())} fully span-cut document(s) "
              f"expected as '' (known oracle defect)", file=sys.stderr)
    ref = ref.copy()
    ref.loc[hit, "text"] = ""
    return ref


def check_oracled(keys, tables, work, canon):
    oracles = {k: materialized(v) for k, v in read_json(f"{work}/oracle_sql.json").items()}
    con = connect(tables)
    fails = []
    for key in keys:
        try:
            mine = read_output(work, key)
            ref = con.execute(oracles[key]).fetchdf()
            err = compare(key, mine, ref, canon)
            if err and key == "q_curate":
                err = compare(key, mine, fully_cut_corrected(con, oracles[key], ref), canon)
        except Exception as e:  # a missing or unreadable output is a failure, not a crash
            err = f"{key}: {type(e).__name__}: {e}"
        if err:
            fails.append(err)
    return fails


def check_predictions(tables, work, rmse):
    fails = []
    pred = read_output(work, "predict")
    n_entities = connect(tables).execute(
        "SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    if len(pred) != n_entities or pred["user_id"].nunique() != n_entities:
        fails.append(f"predict: {len(pred)} rows for {pred['user_id'].nunique()} entities, "
                     f"expected one per entity ({n_entities})")
    for c in ("current_value", "predicted_value", "predicted_change"):
        if not np.isfinite(pred[c].to_numpy(dtype="float64", na_value=np.nan)).all():
            fails.append(f"predict: non-finite {c}")
    if rmse is None or not (0 < rmse < RMSE_BOUND):
        fails.append(f"holdout_rmse {rmse} outside (0, {RMSE_BOUND})")
    return fails


def _num(v):
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "1" if v else "0"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    v = float(v)
    if v == math.floor(v) and abs(v) < 2.0 ** 53 and not (v == 0 and math.copysign(1, v) < 0):
        return str(int(v))
    return "f" + struct.pack(">d", v).hex()


def row_digest(df):
    """The digest pipebench.Digest computes over a collected result."""
    cols = sorted(df.columns)
    lines = []
    for row in df[cols].itertuples(index=False, name=None):
        cells = ["s" + v if isinstance(v, str) else _num(v) for v in row]
        lines.append("\u0001".join(cells).encode("utf-8"))
    lines.sort()
    md = sha256(",".join(cols).encode("utf-8"))
    for line in lines:
        md.update("\u0002".encode("utf-8"))
        md.update(line)
    return md.hexdigest()


def check_appends(data, work, appends):
    fails = []
    for a in appends:
        lines = [l for l in read_text(f"{data}/appends/{a['batch']}").split("\n") if l]
        malformed = 0
        for l in lines:
            try:
                json.loads(l)
            except ValueError:
                malformed += 1
        if a["clean"] + a["quarantined"] != len(lines) or a["quarantined"] != malformed:
            fails.append(f"append {a['batch']}: clean {a['clean']} + quarantined "
                         f"{a['quarantined']} vs {len(lines)} lines, {malformed} malformed")
    on_disk = sum(pd.read_parquet(f, columns=["event_id"]).shape[0]
                  for f in snapshot(work, appends, len(appends)))
    base = pd.read_parquet(f"{data}/events.parquet", columns=["event_id"]).shape[0]
    if on_disk != base + sum(a["clean"] for a in appends):
        fails.append(f"live table holds {on_disk} rows, expected base {base} + clean appends")
    return fails


def snapshot(work, appends, n):
    """Files of the live events table after the first n appends."""
    files = appends[n - 1]["files"] if n > 0 else ["part-base.parquet"]
    return [f"{work}/live/events.parquet/{f}" for f in files]


def check_reads(work, appends):
    """Each dashboard read against the oracle over the snapshot it saw."""
    fails = []
    oracles = read_json(f"{work}/oracle_sql.json")
    reads = read_jsonl(f"{work}/reads.jsonl")
    expected = {}
    for r in reads:
        k = (r["key"], r["snapshot"])
        if k not in expected:
            con = connect({"events": snapshot(work, appends, r["snapshot"]),
                           "lineitem": [f"{work}/live/lineitem.parquet"]})
            ref = con.execute(oracles[r["key"]]).fetchdf()
            expected[k] = (len(ref), row_digest(ref))
        n, digest = expected[k]
        if (r["rows"], r["digest"]) != (n, digest):
            fails.append(f"read {r['key']} at snapshot {r['snapshot']}: {r['rows']} rows, digest "
                         f"{r['digest'][:12]} vs oracle {n} rows, {digest[:12]}")
    if not reads:
        fails.append("no dashboard read completed")
    return fails


def check(workload, data, work, canon, rmse=None):
    if workload == "weather_pipeline":
        appends = read_jsonl(f"{work}/appends.jsonl")
        tables = {"events": snapshot(work, appends, len(appends)),
                  "lineitem": [f"{work}/live/lineitem.parquet"]}
        return (check_appends(data, work, appends)
                + check_oracled(WEATHER_KEYS, tables, work, canon)
                + check_predictions(tables, work, rmse)
                + check_reads(work, appends))
    if workload == "corpus_curation":
        return check_oracled(["q_curate"], {"documents": [f"{data}/documents.parquet"]}, work, canon)
    raise ValueError(f"unknown workload {workload}")
