"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
writes byte-identical parquet files and yields the same call sequence,
and a different seed changes both.  The program under test only ever
sees the files written here.

The tables follow the schemas of the repository's sf0.1 test data (a
TPC-H-like star schema plus ``events`` and ``embeddings``); stream
batches follow its ``documents`` table.  ``scale`` is the
TPC-H scale factor: 0.1 gives 600k lineitem rows; the benchmark's own
smoke test uses 0.001.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table batch stream query filter sort hash "
         "key group agg join scan order value window vector fast slow small "
         "large part customer merge spark index cache plan shuffle task stage "
         "job driver worker memory disk").split()
LANGS = ["de", "en", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "scroll", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY ANODIZED", "LARGE BRUSHED", "MEDIUM PLATED",
           "PROMO POLISHED", "SMALL BURNISHED", "STANDARD PLATED"]
P_ADJ = ["blue", "green", "red", "small", "large", "shiny", "rusty", "pale",
         "dark", "smooth", "rough", "heavy", "light"]
P_NOUN = ["anvil", "widget", "gear", "bolt", "spring"]

_EPOCH_US = {
    "1995-01-01": 788918400_000000,
    "2001-08-01": 996624000_000000,
    "2024-01-01": 1704067200_000000,
}
_DAY_US = 86400_000000

# Warm-up inputs come from their own generator streams, so warm-up never
# computes a measured call.
WARMUP_SEED = 0

# curate_stream batch size at scale 0.1 (scales linearly with ``scale``,
# with a floor so the smoke scale still plants duplicates)
STREAM_BATCH_DOCS = 250
STREAM_BATCHES = 20
EMBEDDING_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a table never
    shifts another table's values."""
    return np.random.default_rng([int(seed), sum(map(ord, stream)) * 7919 + len(stream)])


def _n(base: int, scale: float, floor: int = 10) -> int:
    return max(floor, int(round(base * scale / 0.1)))


def _write(path: str, table: pa.Table) -> None:
    # one row group per file: the sf0.1 test files are single-row-group,
    # so every scan is one task
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def edit_text(rng: np.random.Generator, text: str, n_edits: int) -> str:
    """Apply ``n_edits`` word substitutions/insertions/deletions."""
    words = text.split(" ")
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(words)))
        w = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            words[i] = w
        elif op == 1:
            words.insert(i, w)
        elif len(words) > 6:
            del words[i]
    return " ".join(words)


def shingle_set(text: str, k: int = 5) -> frozenset:
    """Word k-shingles of the normalized text, as the program and the
    DuckDB oracle define them (docs shorter than k are one shingle)."""
    words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    if len(words) < k:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i:i + k]) for i in range(len(words) - k + 1))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def normalize_text(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------
def _doc_table(ids, texts, rng) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype="int64")),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, size=n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def relational_tables(seed: int, scale: float,
                      stream: str = "relational") -> dict[str, pa.Table]:
    """The TPC-H-like tables plus ``events`` and ``embeddings``."""
    r = _rng(seed, stream)
    n_cust, n_supp, n_part = _n(15000, scale), _n(1000, scale), _n(20000, scale)
    n_ord, n_li, n_ev = _n(150000, scale), _n(600000, scale), _n(100000, scale)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})
    price = np.round(r.uniform(900.0, 999.9, n_part), 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(r.integers(0, len(P_ADJ), n_part),
                                r.integers(0, len(P_NOUN), n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": pa.array([P_TYPES[i] for i in r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(price)})
    span_days = (_EPOCH_US["2001-08-01"] - _EPOCH_US["1995-01-01"]) // _DAY_US
    odate = _EPOCH_US["1995-01-01"] + r.integers(0, span_days + 1, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.choice(3, n_ord, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, n_ord)])})
    lok = np.sort(r.integers(0, n_ord, n_li)).astype("int64")
    lpart = r.integers(0, n_part, n_li).astype("int64")
    qty = r.integers(1, 51, n_li).astype("float64")
    ship = odate[lok] + r.integers(1, 122, n_li) * _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpart] * r.uniform(0.95, 1.05, n_li), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n_li)]),
        "l_shipdate": _ts(ship)})
    ts = _EPOCH_US["2024-01-01"] + r.integers(0, 30 * _DAY_US, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 1500, n_ev).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(40.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)])})
    # ten clusters: within-cluster cosines straddle the semantic-dedup
    # threshold, so the similarity call finds duplicates
    n_vec = _n(2000, scale, floor=40)
    label = r.integers(0, 10, n_vec)
    vec = 0.55 * r.normal(0.0, 1.0, (10, EMBEDDING_DIM))[label] + r.normal(
        0.0, 1.0, (n_vec, EMBEDDING_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32"))})
    return t


def stream_batches(seed: int, scale: float, stream: str = "stream",
                   n_batches: int = STREAM_BATCHES) -> list[pa.Table]:
    """Micro-batches for ``curate_stream``.  Batch 0 is all fresh; every
    later batch is fresh docs plus a fixed share of exact duplicates
    (re-cased/re-spaced) and light near duplicates of earlier batches'
    docs, under new ids.  Returned tables carry an extra ``__dup_of`` column (the
    source doc id, or -1) that the benchmark strips before writing and
    keeps for its checks."""
    r = _rng(seed, stream)
    size = _n(STREAM_BATCH_DOCS, scale, floor=20)
    n_exact, n_near = size // 10, size // 10
    out, pool_ids, pool_texts, next_id = [], [], [], 0
    for b in range(n_batches):
        n_fresh = size if b == 0 else size - n_exact - n_near
        texts = _texts(r, n_fresh, lo=20, hi=90)
        dup_of = [-1] * n_fresh
        if b > 0:
            picks = r.choice(len(pool_ids), n_exact + n_near, replace=False)
            for j, p in enumerate(picks):
                t = pool_texts[p]
                if j < n_exact:
                    t = "  " + t.upper().replace(" ", "  ") if j % 2 else t
                else:
                    t = edit_text(r, t, 1)
                texts.append(t)
                dup_of.append(pool_ids[p])
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        order = r.permutation(len(texts))
        tbl = _doc_table([ids[i] for i in order], [texts[i] for i in order], r)
        tbl = tbl.append_column("__dup_of", pa.array([dup_of[i] for i in order], type=pa.int64()))
        out.append(tbl)
        pool_ids += ids[:n_fresh]
        pool_texts += texts[:n_fresh]
    return out


def write_tables(tables: dict[str, pa.Table], data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in tables.items():
        _write(os.path.join(data_dir, f"{name}.parquet"), tbl)


def write_batch(tbl: pa.Table, src_dir: str, b: int) -> None:
    os.makedirs(src_dir, exist_ok=True)
    _write(os.path.join(src_dir, f"batch-{b:04d}.parquet"), tbl.drop_columns(["__dup_of"]))


# ---------------------------------------------------------------------------
# interactive call sequence
# ---------------------------------------------------------------------------
NUMERIC = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
}
KEYS = {
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "orders": ["o_orderpriority", "o_orderstatus"],
    "events": ["event_type", "user_id"],
}
DISTINCT_COLS = [("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
                 ("orders", "o_custkey"), ("events", "user_id")]
BIN_LIMITS = {
    "l_quantity": (0.0, 50.0), "l_extendedprice": (0.0, 100000.0),
    "l_discount": (0.0, 0.1), "l_tax": (0.0, 0.08),
    "o_totalprice": (0.0, 500000.0), "value": (0.0, 200.0),
    "user_id": (0.0, 1500.0),
}
BIN_PAIRS = [("lineitem", "l_quantity", "l_extendedprice"),
             ("lineitem", "l_quantity", "l_discount"),
             ("lineitem", "l_discount", "l_tax"),
             ("events", "value", "user_id")]
WINDOWS = [("events", "value", "event_id", "user_id"),
           ("orders", "o_totalprice", "o_orderkey", "o_custkey")]
HEADLINE = [f"q{i:02d}" for i in range(1, 23)]
# The headline builders in classes of similar cost at sf0.1 (a property of
# the input mix, fixed here so every seed draws the same mix of light and
# heavy calls).  q22's exact percentiles hold the most memory of all
# calls, so it is in every block: whether a seed drew it would otherwise
# decide the run's peak memory.
QUERY_CLASSES = [["q02", "q13", "q14", "q17"], ["q04", "q08", "q15", "q18"],
                 ["q10", "q19", "q20", "q21"], ["q06", "q07", "q09", "q16"],
                 ["q01", "q03", "q05", "q11", "q12"], ["q22"]]
# The DataFrame calls of one block.  ``repeat:stat`` re-issues an earlier
# stat call of the block exactly, the way an analyst re-runs a cell.
BLOCK_DF = ["stat:mean", "stat:std", "stat:minmax",
            "binby:count1d", "binby:count1d", "binby:count2d",
            "groupby:agg", "groupby:value_counts", "groupby:nunique",
            "percentile:percentile_approx", "percentile:percentile_approx",
            "window:any", "join:orders_customer", "similarity:semantic_dedup",
            "repeat:stat"]
# a block is those calls plus one headline builder of every class
BLOCK_SIZE = len(BLOCK_DF) + len(QUERY_CLASSES)


def _selection(r: np.random.Generator, table: str) -> str | None:
    if r.random() < 0.5:
        return None
    if table == "lineitem":
        if r.random() < 0.5:
            return f"l_quantity > {int(r.integers(5, 46))}"
        return f"l_discount >= {int(r.integers(1, 10)) / 100}"
    if table == "orders":
        return f"o_totalprice > {int(r.integers(5, 46)) * 10000}"
    return f"value > {int(r.integers(5, 101))}"


def _call(r: np.random.Generator, kind: str, op: str, table: str) -> dict:
    if kind in ("query", "similarity"):
        return {"kind": kind, "op": op}
    t = table
    if kind == "stat":
        return {"kind": kind, "op": op, "table": t, "col": str(r.choice(NUMERIC[t])),
                "sel": _selection(r, t)}
    if kind == "binby":
        if op == "count1d":
            return {"kind": kind, "op": op, "table": t, "cols": [str(r.choice(NUMERIC[t]))],
                    "shape": [int(r.choice([10, 20, 25, 50]))], "sel": _selection(r, t)}
        t, a, b = BIN_PAIRS[int(r.integers(0, len(BIN_PAIRS)))]
        return {"kind": kind, "op": op, "table": t, "cols": [a, b],
                "shape": [int(r.choice([8, 10, 16])), int(r.choice([8, 10, 16]))],
                "sel": _selection(r, t)}
    if kind == "groupby":
        if op == "nunique":
            t, c = DISTINCT_COLS[int(r.integers(0, len(DISTINCT_COLS)))]
            return {"kind": kind, "op": op, "table": t, "col": c}
        return {"kind": kind, "op": op, "table": t, "key": str(r.choice(KEYS[t])),
                "col": str(r.choice(NUMERIC[t]))}
    if kind == "percentile":
        return {"kind": kind, "op": op, "table": t, "col": str(r.choice(NUMERIC[t])),
                "pct": float(r.choice([10, 25, 50, 75, 90, 99])), "sel": _selection(r, t)}
    if kind == "window":
        t, c, order, part = WINDOWS[int(r.integers(0, len(WINDOWS)))]
        return {"kind": kind, "op": op, "table": t, "col": c, "order": order,
                "part": part, "width": int(r.choice([3, 5, 8]))}
    return {"kind": kind, "op": op,
            "key": str(r.choice(["c_mktsegment", "o_orderpriority", "c_nationkey"])),
            "min_price": int(r.integers(0, 40)) * 10000}


def interactive_calls(seed: int, n_blocks: int, stream: str = "interactive") -> list[dict]:
    """``n_blocks`` blocks of ``BLOCK_SIZE`` calls with a fixed
    composition, each in a seeded order with seeded parameters."""
    r = _rng(seed, stream)
    calls: list[dict] = []
    for _ in range(n_blocks):
        slots = BLOCK_DF + [f"query:{r.choice(cls)}" for cls in QUERY_CLASSES]
        # calls of one kind take the three tables in a seeded rotation, so
        # every block touches each table about equally often
        tables = {k: list(r.permutation(["lineitem", "orders", "events"])) for k in
                  ("stat", "binby", "groupby", "percentile")}
        block: list[dict] = []
        for slot in r.permutation(slots):
            kind, op = str(slot).split(":")
            if kind == "window" and op == "any":
                op = ("diff", "rolling")[int(r.integers(0, 2))]
            if kind != "repeat":
                rot = tables.get(kind, ["orders"])
                block.append(_call(r, kind, op, str(rot[0])))
                rot.append(rot.pop(0))
        # each repeat lands after a seeded earlier call of its kind
        for slot in slots:
            kind, op = slot.split(":")
            if kind == "repeat":
                src = [i for i, c in enumerate(block) if c["kind"] == op]
                i = src[int(r.integers(0, len(src)))]
                block.insert(int(r.integers(i + 1, len(block) + 1)), dict(block[i], repeat=True))
        calls += block
    return calls
