"""Expected outputs, computed once per run before the session starts.

* ``interactive``: DuckDB SQL over the same parquet files.  Headline
  builders reuse ``__spark_entry__.oracle_sql()``; the other calls get
  SQL written here.  Doubles compare with a relative tolerance.
  The similarity call (``semantic_dedup`` with the q66 parameters) is
  checked against ``_Q66_SQL``.
* ``curate_stream``: invariants checked on the sink after every batch
  (see ``check_stream``).
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs

RTOL = 1e-7
ATOL = 1e-6


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 1})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality: same column names and row count,
    exact on non-float columns, relative tolerance on floats."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(want.columns)

    def canon(df):
        out = {}
        for c in cols:
            s = df[c]
            if pd.api.types.is_datetime64_any_dtype(s):
                s = s.astype("datetime64[us]").astype("int64")
            elif pd.api.types.is_bool_dtype(s):
                s = s.astype("int64")
            elif pd.api.types.is_numeric_dtype(s):
                s = s.astype("float64")
            else:
                s = s.astype(str)
            out[c] = s.reset_index(drop=True)
        df = pd.DataFrame(out)
        keys = {c: (df[c].round(4) if df[c].dtype == "float64" else df[c]) for c in cols}
        order = pd.DataFrame(keys).sort_values(cols, kind="mergesort").index
        return df.loc[order].reset_index(drop=True)

    a, b = canon(got), canon(want)
    for c in cols:
        if a[c].dtype == "float64" and b[c].dtype == "float64":
            if not np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=RTOL, atol=ATOL,
                               equal_nan=True):
                return False
        elif not (a[c].astype(str) == b[c].astype(str)).all():
            return False
    return True


def close(a, b) -> bool:
    return bool(np.allclose(np.asarray(a, dtype="float64"), np.asarray(b, dtype="float64"),
                            rtol=RTOL, atol=ATOL, equal_nan=True))


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------
def _where(sel: str | None) -> str:
    return f"WHERE {sel}" if sel else ""


def _bin_sql(col: str, shape: int) -> str:
    lo, hi = inputs.BIN_LIMITS[col]
    return (f"CASE WHEN CAST({col} AS DOUBLE) = {hi!r} THEN {shape - 1} "
            f"ELSE CAST(floor((CAST({col} AS DOUBLE) - {lo!r}) / {hi - lo!r} * {shape}) AS BIGINT) END")


def interactive_expected(con, call: dict, headline_sql: dict):
    """Expected value of one call, in the shape ``check_call`` takes."""
    k, op = call["kind"], call["op"]
    if k == "stat":
        t, c, w = call["table"], call["col"], _where(call["sel"])
        if op == "mean":
            return con.execute(f"SELECT avg({c}) FROM {t} {w}").fetchone()[0]
        if op == "std":
            return con.execute(f"SELECT stddev_pop({c}) FROM {t} {w}").fetchone()[0]
        return list(con.execute(f"SELECT min({c}), max({c}) FROM {t} {w}").fetchone())
    if k == "binby":
        cols, shape = call["cols"], call["shape"]
        bins = [_bin_sql(c, s) for c, s in zip(cols, shape)]
        names = [f"b{i}" for i in range(len(cols))]
        inner = ", ".join(f"{b} AS {n}" for b, n in zip(bins, names))
        ok = " AND ".join(f"{n} BETWEEN 0 AND {s - 1}" for n, s in zip(names, shape))
        rows = con.execute(
            f"SELECT {', '.join(names)}, count(*) FROM (SELECT {inner} FROM {call['table']} "
            f"{_where(call['sel'])}) WHERE {ok} GROUP BY ALL").fetchall()
        grid = np.zeros(shape)
        for row in rows:
            grid[tuple(int(v) for v in row[:-1])] = row[-1]
        return grid
    if k == "groupby":
        t = call["table"]
        if op == "nunique":
            return con.execute(f"SELECT count(DISTINCT {call['col']}) FROM {t}").fetchone()[0]
        key, c = call["key"], call["col"]
        if op == "value_counts":
            return con.execute(f"SELECT CAST({key} AS VARCHAR) AS v, count(*) AS n FROM {t} "
                               f"GROUP BY 1").df()
        return con.execute(f"SELECT {key}, count(*) AS n, sum({c}) AS s, avg({c}) AS m "
                           f"FROM {t} GROUP BY 1").df()
    if k == "percentile":
        vals = con.execute(f"SELECT {call['col']} FROM {call['table']} {_where(call['sel'])} "
                           f"ORDER BY 1").fetchnumpy()[call["col"]]
        return np.asarray(vals, dtype="float64")
    if k == "window":
        c, o, p = call["col"], call["order"], call["part"]
        if op == "diff":
            expr = f"{c} - lag({c}) OVER (PARTITION BY {p} ORDER BY {o})"
        else:
            w = call["width"]
            win = f"(PARTITION BY {p} ORDER BY {o} ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"
            expr = f"CASE WHEN count({c}) OVER {win} >= {w} THEN avg({c}) OVER {win} END"
        return con.execute(f"SELECT avg(x) FROM (SELECT {expr} AS x FROM {call['table']})").fetchone()[0]
    if k == "join":
        return con.execute(
            f"SELECT {call['key']}, count(*) AS n, sum(o_totalprice) AS s FROM orders "
            f"JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {call['min_price']} "
            f"GROUP BY 1").df()
    if k == "similarity":
        import __spark_entry__ as entry
        return con.execute(entry._Q66_SQL).df()
    return con.execute(headline_sql[op]).df()


def check_call(call: dict, got, want) -> bool:
    k, op = call["kind"], call["op"]
    if k in ("stat", "window") or (k == "groupby" and op == "nunique"):
        return close(got, want)
    if k == "binby":
        return np.asarray(got).shape == want.shape and close(got, want)
    if k == "percentile":
        n = len(want)
        lt = np.searchsorted(want, got, side="left") / n
        le = np.searchsorted(want, got, side="right") / n
        p = call["pct"] / 100.0
        return bool(lt - 2e-3 <= p <= le + 2e-3)
    if k == "groupby" and op == "value_counts":
        got = pd.DataFrame({"v": [str(v) for v in got.index], "n": got.to_numpy()})
        return frames_match(got, want)
    return frames_match(got, want)


# ---------------------------------------------------------------------------
# curate_stream
# ---------------------------------------------------------------------------
def check_stream(out_dir: str, batches) -> list[str]:
    """Invariants of the stream's sink after the given batches ran:
    no normalized text twice, no injected duplicate (exact, or near with
    jaccard >= 0.6) of an emitted doc, and out ids a subset of the
    input ids.  Returns the violated invariants."""
    files = glob.glob(os.path.join(out_dir, "__batch_id=*", "*.parquet"))
    out = pd.concat([pq.read_table(f, columns=["doc_id", "text"]).to_pandas() for f in files]
                    or [pd.DataFrame({"doc_id": [], "text": []})], ignore_index=True)
    problems = []
    norm = out.text.map(inputs.normalize_text)
    if norm.duplicated().any():
        problems.append("exact duplicate emitted twice")
    inp = pd.concat([b.select(["doc_id", "text", "__dup_of"]).to_pandas() for b in batches])
    if not set(out.doc_id).issubset(set(inp.doc_id)):
        problems.append("out ids not a subset of input ids")
    texts = dict(zip(inp.doc_id, inp.text))
    emitted = set(out.doc_id)
    for doc_id, dup_of in zip(inp.doc_id, inp.__dup_of):
        if dup_of >= 0 and doc_id in emitted and dup_of in emitted and (
                inputs.normalize_text(texts[doc_id]) == inputs.normalize_text(texts[dup_of])
                or inputs.jaccard(texts[doc_id], texts[dup_of]) >= 0.6):
            problems.append(f"injected duplicate {doc_id} of {dup_of} survived")
            break
    return problems
