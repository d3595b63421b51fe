"""Seeded benchmark inputs, generated by the benchmark itself.

The program under test only ever sees the files written here. Every input
is a pure function of (generator spec, seed): the same seed gives
byte-identical files. Inputs are cached per (spec, seed) under the checkout's
``.perfbench_cache/`` so a repeated seed skips generation; generation is
never part of any timed figure.

Two families:

- transcripts ``(conv_id, turn_idx, role, text, tool, ts)``, the rollup
  engine's input. Conversation lengths are drawn by *stratified* inverse
  CDF, so each seed changes which conversation is long and every turn's
  content, but barely moves the total size or the number of conversations
  above any length threshold. That keeps run-to-run spread about the
  program, not about how much work the seed happened to draw.
- the star-schema tables the headline registry queries read (lineitem,
  events, customer, nation, region, documents, embeddings), shaped like
  the repository's sf test tables at a fraction of their size.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT_VERSION = 1

EPOCH = np.datetime64("2025-01-01T00:00:00", "s")
START_WINDOW_S = 29 * 86400

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "exec", "browse", "fetch"], dtype=object)
WORDS = np.array(
    "the data spark query scan join filter group window agg shuffle stream "
    "table row batch merge sort hash key value index plan node stage task "
    "turn conversation agent tool call response token model answer question "
    "schnell blau 世界 データ 分析 モデル σύστημα ανάλυση".split(),
    dtype=object,
)

# The rollup input. ``lengths`` lists (count, lo, hi, exponent) strata:
# ``count`` conversations with turn counts from a power law k^-exponent
# truncated to [lo, hi]: 2k short conversations, one giant of 22k turns
# (about 18 days, over the 16-day giant threshold, so it takes the
# chunk-split path) and 3 long ones on the whole-conversation path.
# ``hot`` are named conversations of fixed length, ~3% of the turns: hot
# keys of the range exchange.
MIXED = {
    "lengths": [(2000, 5, 200, 1.3), (1, 22000, 22000, 0.0), (3, 750, 9000, 1.0)],
    "hot": [("conv-hot-1", 2500), ("conv-hot-2", 1250), ("conv-hot-3", 600)],
}


def _cached(checkout: str, name: str, spec, seed: int, build) -> str:
    """Directory holding input ``name`` for ``seed``, keyed also by the
    generator's ``spec``; built on first use into a temp dir and published
    by rename, so a run killed mid-build never leaves a half-written input
    behind."""
    tag = hashlib.md5(f"{FORMAT_VERSION}{spec!r}".encode()).hexdigest()[:8]
    path = os.path.join(checkout, ".perfbench_cache", f"{name}-{tag}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp, seed)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def input_meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


# -- transcripts ---------------------------------------------------------


def _stratified_lengths(rng, count: int, lo: int, hi: int, exponent: float) -> np.ndarray:
    """``count`` draws from k^-exponent on [lo, hi], one per equal-mass
    stratum, in random order."""
    k = np.arange(lo, hi + 1, dtype=np.float64)
    cdf = np.cumsum(k**-exponent)
    cdf /= cdf[-1]
    u = (rng.permutation(count) + rng.random(count)) / count
    return (lo + np.searchsorted(cdf, u)).astype(np.int64)


def _text_pool(rng, size: int = 2048) -> np.ndarray:
    lens = np.clip(rng.lognormal(2.2, 0.8, size), 1, 200).astype(np.int64)
    return np.array(
        [" ".join(WORDS[rng.integers(0, len(WORDS), n)]) for n in lens], dtype=object
    )


def _turns(rng, conv_ids: np.ndarray, n_turns: np.ndarray, pool: np.ndarray) -> pd.DataFrame:
    """Turns of many conversations: exponential gaps (median 20 s) with 3%
    of gaps stretched 50x, so minute slots go empty; roles cycle with
    seeded jitter; tool turns name a tool."""
    total = int(n_turns.sum())
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(total) - np.repeat(starts, n_turns)
    gaps = np.maximum(1, rng.exponential(20.0 / np.log(2.0), total)).astype(np.int64)
    gaps = np.where(rng.random(total) < 0.03, gaps * 50, gaps)
    gaps[starts] = 0
    offs = np.cumsum(gaps)
    offs -= np.repeat(offs[starts], n_turns)
    t0 = rng.integers(0, START_WINDOW_S, len(conv_ids))
    role = ROLES[(turn_idx + rng.integers(0, 3, total)) % 3]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), total)], None)
    return pd.DataFrame(
        {
            "conv_id": np.repeat(conv_ids, n_turns),
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": pool[rng.integers(0, len(pool), total)],
            "tool": tool,
            "ts": EPOCH + (np.repeat(t0, n_turns) + offs).astype("timedelta64[s]"),
        }
    )


# Named edge conversations, turns given as (second offset, role, text).
# Each pins one gap-fill / smoothing / window-boundary corner.
_EDGE_BASE_S = 10 * 86400


def _edge_turns() -> pd.DataFrame:
    rows = []

    def conv(cid, turns):
        for i, (sec, role, text) in enumerate(turns):
            rows.append((cid, i, role, text, None, _EDGE_BASE_S + sec))

    conv("edge-gap-interior", [
        (m * 60 + s, r, t * (m + 1))
        for m in (0, 1, 2, 6, 7)
        for s, r, t in ((5, "user", "ask "), (30, "assistant", "answer body "))
    ])
    conv("edge-gap-leading", [(m * 60 + 10, "user", "lead") for m in range(3)]
         + [(m * 60 + 40, "assistant", "late " * m) for m in range(3, 6)])
    conv("edge-gap-trailing", [(m * 60 + 40, "assistant", "early " * (m + 1)) for m in range(3)]
         + [(m * 60 + 10, "user", "trail") for m in range(3, 6)])
    conv("edge-all-empty", [(m * 60 + 20, "user", "only user") for m in range(4)])
    conv("edge-single-turn", [(7, "assistant", "solo")])
    conv("edge-dup-window", [(10 + j, "assistant", f"dup {j} " * (j + 1)) for j in range(5)])
    conv("edge-unicode", [(60 * j + 3, "assistant" if j % 2 else "user", t)
                          for j, t in enumerate(["こんにちは 世界 🌍", "naïve café — übergroß",
                                                 "Ωμέγα λόγος", "emoji 🚀🔥"])])
    conv("edge-boundary-ts", [(0, "assistant", "on the hour"), (60, "assistant", "on the minute"),
                              (3600, "assistant", "next hour edge")])
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype(np.int32)
    df["ts"] = EPOCH + df["ts"].to_numpy().astype("timedelta64[s]")
    return df


TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

EDGE_IDS = [
    "edge-gap-interior", "edge-gap-leading", "edge-gap-trailing", "edge-all-empty",
    "edge-single-turn", "edge-dup-window", "edge-unicode", "edge-boundary-ts",
]


def _build_transcripts(shape: dict):
    def build(out: str, seed: int) -> dict:
        rng = np.random.default_rng([seed, 7])
        pool = _text_pool(rng)
        lens = np.concatenate(
            [_stratified_lengths(rng, *s) for s in shape["lengths"]]
        )
        ids = np.array([f"conv-{i:07d}" for i in range(len(lens))], dtype=object)
        hot = shape["hot"]
        if hot:
            ids = np.concatenate([ids, np.array([h for h, _n in hot], dtype=object)])
            lens = np.concatenate([lens, np.array([n for _h, n in hot], dtype=np.int64)])
        df = pd.concat([_turns(rng, ids, lens, pool), _edge_turns()], ignore_index=True)
        # four files of whole conversations, like a small ingest batch
        cid = df["conv_id"].to_numpy()
        rows = np.linspace(0, len(df), 5).astype(int)[1:-1]
        cuts = sorted({0, len(df), *np.searchsorted(cid, cid[rows]).tolist()})
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            pq.write_table(
                pa.Table.from_pandas(df.iloc[lo:hi], schema=TRANSCRIPT_SCHEMA, preserve_index=False),
                os.path.join(out, f"part-{i:05d}.parquet"),
            )
        order = np.argsort(-lens, kind="stable")
        return {
            "turns": int(len(df)),
            "convs": int(len(lens)) + len(EDGE_IDS),
            "longest": [str(ids[i]) for i in order[:3]],
            "conv_ids": [str(c) for c in ids],
        }

    return build


def transcripts(checkout: str, seed: int) -> str:
    return _cached(checkout, "transcripts", MIXED, seed, _build_transcripts(MIXED))


def read_convs(path: str, conv_ids: list[str]) -> pd.DataFrame:
    """The raw turns of ``conv_ids``, straight from the input files."""
    tbl = pq.read_table(path, filters=[("conv_id", "in", conv_ids)])
    return tbl.to_pandas()


# -- query tables --------------------------------------------------------

# rows per table; the registry's literal predicates (vec_id < 10,
# label = 5, the 2024-01 event window, tpch_q1's ship-date cut) all keep
# matching rows at these sizes
QUERY_ROWS = {
    "lineitem": 60000,
    "events": 20000,
    "users": 400,
    "documents": 1200,
    "embeddings": 600,
}

_DOC_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split(),
    dtype=object,
)


def _build_query_tables(out: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 11])
    n = QUERY_ROWS

    def write(name: str, df: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
        )

    write("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    n_cust = n["users"] + n["users"] // 4
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }))

    m = n["lineitem"]
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, m).astype("timedelta64[D]")
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, m // 4, m),
        "l_partkey": rng.integers(0, 20000, m),
        "l_suppkey": rng.integers(0, 1000, m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": ship.astype("datetime64[us]"),
    }))

    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    write("events", pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }))

    d = n["documents"]
    n_words = rng.integers(10, 101, d)
    texts = [" ".join(_DOC_WORDS[rng.integers(0, len(_DOC_WORDS), w)]) for w in n_words]
    # exact duplicates and near-duplicates (one word appended), so the
    # dedup and MinHash queries have pairs to find
    for i in rng.choice(d, d // 50, replace=False):
        j = int(rng.integers(0, d))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " dup"
    write("documents", pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "es", "fr", "de"], d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    v = n["embeddings"]
    labels = rng.integers(0, 10, v).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    x = centers[labels] + rng.normal(0.0, 1.5, (v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": list(x),
        "label": labels,
    }))
    return {"rows": {k: int(pq.read_metadata(os.path.join(out, f"{k}.parquet")).num_rows)
                     for k in QUERY_TABLES}}


QUERY_TABLES = ["region", "nation", "customer", "lineitem", "events", "documents", "embeddings"]


def query_tables(checkout: str, seed: int) -> str:
    return _cached(checkout, "querytables", QUERY_ROWS, seed, _build_query_tables)
