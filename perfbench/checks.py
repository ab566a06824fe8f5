"""Output checks: every operation of a run is compared with the
generator's ground truth (loom phases, corpus builds, stream triggers) or
the DuckDB oracle SQL the query registry declares (query executions).
They run after the timed loop; an operation that threw or whose output
fails counts as failed."""

import glob
import os


def _ops(rec):
    its = list(rec["iterations"])
    if rec.get("traced"):
        its += rec["traced"]["iterations"]
    return [o for it in its for o in it["ops"]]


def _loom(op, truth):
    k = {"phase1": 0, "phase2": 1}[op["name"]]
    want = truth["phases"][k]
    o = op["obs"]
    bad = []
    if o.get("sink_rows") != want["sink_rows"]:
        bad.append(f"sink rows {o.get('sink_rows')} != {want['sink_rows']}")
    if o.get("sink_hash") != want["sink_hash"]:
        bad.append("sink content hash differs")
    if o.get("export_rows_by_month") != want["export_rows_by_month"]:
        bad.append(f"export rows {o.get('export_rows_by_month')} != {want['export_rows_by_month']}")
    if o.get("summary_rows") != want["merged_rows"]:
        bad.append(f"summary rows {o.get('summary_rows')} != {want['merged_rows']}")
    return bad


def _corpus(op, truth):
    o = op["obs"]
    bad = [f"{k} {o.get(k)} != {truth[k]}" for k in ("rows_gated", "rows_kept", "rows_final")
           if o.get(k) != truth[k]]
    if o.get("sink_rows") != truth["rows_final"]:
        bad.append(f"sink rows {o.get('sink_rows')} != {truth['rows_final']}")
    if o.get("sink_id_hash") != truth["final_id_hash"]:
        bad.append("kept id set differs from the planted groups")
    return bad


def _stream(op, truth):
    k = int(op["name"][len("wave"):])
    want = truth["novel_cumulative"][k]
    got = op["obs"].get("novel_cumulative")
    return [] if got == want else [f"novel sink rows {got} != {want}"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_failures(rec, input_dir):
    """Compare each query's result files with its oracle SQL in DuckDB."""
    import duckdb
    import pandas as pd
    fin = rec["finish"]
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, rows in fin["result_rows"].items():
        if not isinstance(rows, int):
            bad[name] = str(rows)
            continue
        sql = fin["oracle_sql"].get(name)
        if sql is None:
            if rows == 0:
                bad[name] = "no rows"
            continue
        try:
            a = _canon(pd.read_parquet(os.path.join(fin["results_dir"], name)))
            b = _canon(con.execute(sql).fetchdf())
            if list(a.columns) != list(b.columns):
                bad[name] = f"columns {list(a.columns)} vs {list(b.columns)}"
            elif len(a) != len(b):
                bad[name] = f"rows {len(a)} vs {len(b)}"
            elif not a.equals(b):
                bad[name] = "values differ"
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[name] = f"{type(e).__name__}: {str(e)[:200]}"
    return bad


def check(workload, rec, truth, input_dir):
    failures = []
    attempted = failed = 0
    bad_queries = oracle_failures(rec, input_dir) if "result_rows" in rec["finish"] else {}
    for name, why in sorted(bad_queries.items()):
        failures.append(f"{name}: {why}")
    # corpus_build feeds a stream after its build; its truth is nested
    stream_truth = truth.get("stream", truth)
    for op in _ops(rec):
        attempted += 1
        name = op["name"]
        if op["error"]:
            why = [op["error"]]
        elif workload == "loom_etl":
            why = _loom(op, truth)
        elif name == "build":
            why = _corpus(op, truth)
        elif name.startswith("wave"):
            why = _stream(op, stream_truth)
        else:
            why = [bad_queries[name]] if name in bad_queries else []
        if why:
            failed += 1
            failures.append(f"{op['name']}: {'; '.join(why)}")
    return {"attempted": attempted, "failed": failed, "failures": failures}
