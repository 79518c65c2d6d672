"""Output checks that need an oracle independent of graft.

Each returns a list of (name, ok, detail). `plant` corrupts one result
before comparing, so a self-test can show the check catches it.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _same(a, b):
    """Why two result frames differ, or None: same columns, dtypes, rows
    and values after sorting columns by name and rows by every column."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    bad = [c for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
    if bad:
        return "dtypes " + ", ".join(f"{c}:{a[c].dtype}/{b[c].dtype}" for c in bad)
    a, b = _norm(a), _norm(b)
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            same = np.array_equal(av.astype(float), bv.astype(float), equal_nan=True)
        else:
            same = (a[c].astype(str).to_numpy() == b[c].astype(str).to_numpy()).all()
        if not same:
            return f"values differ in {c}"
    return None


def _plant_row(df):
    """Change one value of the first row: a wrong row the check must catch."""
    df = df.copy()
    col = next(c for c in sorted(df.columns) if df[c].dtype.kind in "if")
    df.loc[df.index[0], col] = df[col].iloc[0] + 1
    return df


def _csv(path, names):
    if os.path.getsize(path) == 0:
        return pd.DataFrame({c: pd.Series([], dtype="int64") for c in names})
    return pd.read_csv(path, names=names, dtype="int64")


def catalog(check_dir, sf_dir, plant=False):
    """Each query's check-pass result against its DuckDB oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    out = []
    for i, name in enumerate(sorted(oracle)):
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            out.append((name, False, "no result"))
            continue
        got = pd.read_parquet(path)
        if plant and i == 0:
            got = _plant_row(got)
        why = _same(got, con.execute(oracle[name]).fetchdf())
        out.append((name, why is None, why or f"{len(got)} rows match"))
    return out


def stream(check_dir, inputs, plant=False):
    """Each phase's final top-N and blacklist against a DuckDB recomputation
    over exactly the events that phase landed."""
    conf = json.load(open(os.path.join(inputs, "stream.json")))
    size, slide, top, thr = conf["size_s"], conf["slide_s"], conf["top_n"], conf["threshold"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW seq AS SELECT * FROM read_parquet('{inputs}/stream_events.parquet')")
    out = []
    for phase in ("drain", "open"):
        d = os.path.join(check_dir, phase)
        n = json.load(open(os.path.join(d, "summary.json")))
        con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM seq WHERE pos < {n['events']}")
        want_top = con.execute(f"""
            WITH w AS (
              SELECT item_id, (floor(ts / {slide}) * {slide} - k * {slide} + {size}) * 1000 AS w_end
              FROM ev, range(0, {size // slide}) r(k) WHERE behavior = 'pv'),
            c AS (SELECT CAST(w_end AS BIGINT) AS w_end, item_id, count(*) AS cnt FROM w GROUP BY ALL)
            SELECT w_end, item_id, cnt FROM (
              SELECT *, row_number() OVER (PARTITION BY w_end ORDER BY cnt DESC, item_id) AS rk
              FROM c) WHERE rk <= {top}""").fetchdf()
        got_top = _csv(os.path.join(d, "topn.csv"), ["w_end", "item_id", "cnt"])
        if plant and phase == "open":
            got_top = _plant_row(got_top)
        why = _same(got_top, want_top)
        out.append((f"{phase}/topn", why is None, why or f"{len(got_top)} rows match"))

        per_key = con.execute(f"""
            SELECT user_id, ad_id, count(*) AS c FROM ev WHERE is_click
            GROUP BY user_id, ad_id, floor(ts / 86400)""").fetchdf()
        want_warn = per_key[per_key.c > thr][["user_id", "ad_id"]].astype("int64")
        got_warn = _csv(os.path.join(d, "warnings.csv"), ["user_id", "ad_id"])
        why = _same(got_warn, want_warn)
        out.append((f"{phase}/blacklist", why is None, why or f"{len(got_warn)} warnings match"))
        want_main = int(np.minimum(per_key.c, thr).sum())
        out.append((f"{phase}/main_clicks", n["main_clicks"] == want_main,
                    f"{n['main_clicks']} vs {want_main}"))
    return out
