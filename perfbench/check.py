"""Output checks, run in DuckDB after the engine has exited.

Each check returns a list of failure strings; an empty list is a pass.
"""
import json

import duckdb
import pandas as pd

STAR = ["customer", "orders", "lineitem", "part", "nation", "region"]


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            try:
                as_int = pd.to_numeric(df[c])
                if pd.api.types.is_integer_dtype(as_int):
                    df[c] = as_int
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(name, got, want):
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"{name}: values differ: {str(e)[:300]}"]
    return []


def queries(oracles, tables, out_dir):
    """Each engine result under out_dir/<name> against its oracle SQL over
    `tables` (view name -> parquet glob)."""
    con = _connect()
    for t, path in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    fails = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            fails.append(f"{name}: {e}")
            continue
        fails += _same(name, got, want)
    return fails


def medallion(oracles, lake, in_dir, out_dir, counts):
    """Row conservation through bronze against the generator's own facts,
    then every view and join against its oracle over the same lakehouse."""
    with open(f"{in_dir}/expect.json") as f:
        facts = json.load(f)
    fails = []
    dropped = counts["raw"] - counts["bronze"] - counts["quarantined"]
    for k, v in [("raw", counts["raw"]), ("bronze", counts["bronze"]),
                 ("quarantined", counts["quarantined"]), ("dedup_dropped", dropped)]:
        if v != facts[k]:
            fails.append(f"medallion {k}: {v} rows, generated {facts[k]}")
    tables = {t: f"{lake}/{t}.parquet" for t in STAR}
    tables["events"] = f"{lake}/events.parquet/*.parquet"
    return fails + queries(oracles, tables, out_dir)


def llm(oracles, corpus_dir, out_dir):
    return queries(oracles, {"documents": f"{corpus_dir}/documents.parquet"}, out_dir)


def stream(in_dir, snapshot_dir):
    """The final snapshot equals keep-latest-by-event_id over every
    generated event, i.e. over every landed file."""
    con = _connect()
    want = con.execute(f"""
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
          FROM '{in_dir}/files/*.parquet')
        WHERE rn = 1""").df()
    got = con.execute(f"SELECT * FROM '{snapshot_dir}/*.parquet'").df()
    return _same("stream snapshot", got, want)
