"""Workload definitions for the perfbench benchmark: pinned query
lists, seeded input generation, and the output references.

Nothing here starts Spark. The batch inputs are written with pyarrow;
the stream inputs are Spark column expressions over the ``value`` of
a rate source, and the references are plain pandas, so the checks do
not run through the engine they check.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
PINS_PATH = os.path.join(HERE, "pins.json")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# The 17 TPC-H headliners: JVM-bound (joins, shuffles, AQE), no
# Python workers.
TPCH_QUERIES = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q8", "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21",
    "tpch_q22",
]
# The 15 LLM-pipeline headliners: eager driver-loop jobs at build time
# and Python/Arrow kernels at execution time.
LLM_QUERIES = [
    "dedup_minhash", "dedup_clusters", "minhash_lsh_topk",
    "semantic_clusters", "ivf_topk", "ann_lsh_topk",
    "decontaminate_ngrams", "decontaminate_fuzzy", "source_overlap",
    "quality_repetition", "ngram_novelty", "span_dedup",
    "ts_similarity_topk", "text_quality", "lang_id",
]
BATCH_WORKLOADS = {"batch_tpch": TPCH_QUERIES, "batch_llm": LLM_QUERIES}
WORKLOADS = (*BATCH_WORKLOADS, "stream_keyed")
PIPELINES = ("windows", "stateful", "joins")

# --- stream shape ---------------------------------------------------
N_KEYS = 1000
WINDOW = "1 second"
WATERMARK = "500 milliseconds"
LAG = 2
# event-time origin of the derived streams (2026-01-01T00:00:00Z)
EPOCH_US = 1_767_225_600_000_000
# Disorder: a quarter of the blocks of consecutive values get their
# event times permuted inside the block. A block spans at most a
# quarter second of event time, so disorder stays inside WATERMARK and
# no row is late; event times stay unique, so per-key order is total.
DISORDER_SHARE = 4
DISORDER_MULT = 40503  # odd: i -> (i * DISORDER_MULT + c) mod 2^k is a bijection


def seeded_permutation(n: int, seed: int, table: str) -> np.ndarray:
    """The row order of ``table`` for ``seed``: the row_shuffle probe
    transform (same rows, permuted physical order), keyed by the seed."""
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt]).permutation(n)


def make_batch_inputs(out_dir: str, seed: int, src_dir: str = DATA_DIR) -> str:
    """Write every table of ``src_dir`` with its rows permuted for
    ``seed`` into ``out_dir``; returns ``out_dir``. Catalog answers are
    input-order independent, so the expected outputs do not move with
    the seed."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tab = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        perm = seeded_permutation(tab.num_rows, seed, name)
        pq.write_table(tab.take(perm), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def disorder_block(events_per_s: int) -> int:
    """Disorder block size: the largest power of two that spans at most
    a quarter second of event time."""
    return 1 << max(1, (events_per_s // 4).bit_length() - 1)


def keyed_events(src, seed: int, events_per_s: int, keep_id: bool = False):
    """Derive the keyed event stream from a rate source's ``value``.

    Columns: ``key`` (long, ~1,000 keys, skewed: key = floor(1000 u^2)
    for a seeded uniform u, so the low keys are hot), ``v`` (an
    integer-valued double, so sums are exact in any order), ``ts``
    (event time: ``events_per_s`` values per second of event time, with
    seeded in-block disorder), and ``created`` (the source's own
    creation stamp). ``keep_id`` keeps ``value`` as ``id``.
    """
    from pyspark.sql import functions as F

    v = F.col("value")
    u = F.pmod(F.xxhash64(v, F.lit(seed)), F.lit(1 << 20)) / float(1 << 20)
    b = disorder_block(events_per_s)
    blk = F.floor(v / b)
    off = F.pmod(v, F.lit(b))
    shuffled = F.pmod(F.xxhash64(blk, F.lit(seed + 2)), F.lit(DISORDER_SHARE)) == 0
    permuted = F.pmod(
        off * DISORDER_MULT + F.pmod(F.xxhash64(blk, F.lit(seed + 3)), F.lit(b)),
        F.lit(b),
    )
    slot = blk * b + F.when(shuffled, permuted).otherwise(off)
    cols = [
        F.floor(N_KEYS * u * u).cast("long").alias("key"),
        F.pmod(F.xxhash64(v, F.lit(seed + 1)), F.lit(10_000)).cast("double").alias("v"),
        F.timestamp_micros(F.lit(EPOCH_US) + slot * (1_000_000 // events_per_s)).alias("ts"),
    ]
    if "timestamp" in src.columns:
        cols.append(F.col("timestamp").alias("created"))
    if keep_id:
        cols.append(v.alias("id"))
    return src.select(*cols)


def key_dimension(spark, seed: int):
    """The join's dimension table: one row per key with a seeded attribute."""
    from pyspark.sql import functions as F

    return spark.range(N_KEYS).select(
        F.col("id").alias("dkey"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 4)), F.lit(97)).alias("attr"),
    )


# --- references -----------------------------------------------------


def window_reference(events: pd.DataFrame) -> pd.DataFrame:
    """Per (key, 1 s window) count and sum of ``v``."""
    start = events["ts"].dt.floor("1s")
    out = (
        events.assign(window_start=start)
        .groupby(["key", "window_start"], as_index=False)
        .agg(n=("v", "size"), s=("v", "sum"))
    )
    return out.sort_values(["key", "window_start"], ignore_index=True)


def check_windows(emitted: pd.DataFrame, events: pd.DataFrame) -> str | None:
    """None when ``emitted`` is exactly the reference windows that end at
    or before the last emitted window end; else the first difference."""
    if emitted.empty:
        return "no window was emitted"
    ref = window_reference(events)
    last_end = emitted["window_end"].max()
    ref = ref[ref["window_start"] + pd.Timedelta(seconds=1) <= last_end]
    got = (
        emitted[["key", "window_start", "n", "s"]]
        .sort_values(["key", "window_start"], ignore_index=True)
    )
    if len(got) != len(ref):
        return f"{len(got)} windows emitted, reference has {len(ref)}"
    for c in ("key", "window_start", "n", "s"):
        if not np.array_equal(got[c].to_numpy(), ref[c].to_numpy()):
            return f"window column {c} differs from the reference"
    return None


def lag_reference(events: pd.DataFrame, rows_per_batch: int) -> pd.DataFrame:
    """The lag buffer per emitted row: rows of one key in batch order,
    each batch in event-time order, emitting the last ``LAG`` values
    once the buffer is full. ``events`` must carry ``id``."""
    ev = events.assign(batch=events["id"] // rows_per_batch)
    ev = ev.sort_values(["key", "batch", "ts"], ignore_index=True)
    prev = ev.groupby("key")["v"].shift(LAG - 1)
    keep = prev.notna()
    out = ev.loc[keep, ["key", "ts", "batch"]].reset_index(drop=True)
    out["values"] = list(zip(prev[keep].to_numpy(), ev.loc[keep, "v"].to_numpy()))
    return out


def check_lag(emitted: pd.DataFrame, events: pd.DataFrame, rows_per_batch: int) -> str | None:
    """None when ``emitted`` equals the reference over whole batches
    0..M, M being the last batch any emitted row belongs to."""
    if emitted.empty:
        return "no lag row was emitted"
    ref = lag_reference(events, rows_per_batch)
    got = emitted.assign(values=[tuple(x) for x in emitted["values"]])
    got = got.merge(ref[["key", "ts", "batch"]], on=["key", "ts"], how="left")
    if got["batch"].isna().any():
        return "an emitted lag row has no reference row"
    ref = ref[ref["batch"] <= got["batch"].max()]
    if len(got) != len(ref):
        return f"{len(got)} lag rows emitted, reference has {len(ref)}"
    a = got.sort_values(["key", "ts"], ignore_index=True)
    b = ref.sort_values(["key", "ts"], ignore_index=True)
    if list(a["values"]) != list(b["values"]):
        return "lag buffers differ from the reference"
    return None


def check_join(emitted: pd.DataFrame, events: pd.DataFrame, dim: pd.DataFrame,
               rows_per_batch: int) -> str | None:
    """None when ``emitted`` is the left lookup of every input row of
    whole batches 0..M against ``dim``."""
    if emitted.empty:
        return "no joined row was emitted"
    last = int(emitted["id"].max()) // rows_per_batch
    ev = events[events["id"] < (last + 1) * rows_per_batch]
    ref = ev.merge(dim, left_on="key", right_on="dkey", how="left")
    cols = ["id", "key", "v", "ts", "attr"]
    a = emitted[cols].sort_values("id", ignore_index=True)
    b = ref[cols].sort_values("id", ignore_index=True)
    if len(a) != len(b):
        return f"{len(a)} joined rows emitted, reference has {len(b)}"
    for c in cols:
        if not np.array_equal(a[c].to_numpy(), b[c].to_numpy()):
            return f"joined column {c} differs from the reference"
    return None


# --- batch output digests -------------------------------------------


def _cell(x) -> str:
    if isinstance(x, np.ndarray):
        x = x.tolist()
    return repr(x)


def output_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a query result: columns by name,
    every cell by exact ``repr``, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_cell(x) for x in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return h.hexdigest()


def load_pins() -> dict[str, str]:
    with open(PINS_PATH) as fh:
        return json.load(fh)["digests"]


# --- latency from rate-source offsets -------------------------------


def event_latencies_ms(progresses: list[dict], created_ms: int, rows_per_s: int,
                       buckets: int = 50) -> tuple[np.ndarray, np.ndarray]:
    """Event-to-commit latency of every event of the given triggers.

    The rate source's offsets count whole seconds since its creation
    time; second ``s`` holds ``rows_per_s`` events created uniformly in
    [created + s, created + s + 1). A trigger commits at its start
    ``timestamp`` plus ``triggerExecution``. Each second is split into
    ``buckets`` equal-weight slices; returns (latency ms, weight).
    """
    lat, w = [], []
    frac = (np.arange(buckets) + 0.5) * (1000.0 / buckets)
    for p in progresses:
        src = p["sources"][0]
        start = 0 if src["startOffset"] is None else int(src["startOffset"])
        end = int(src["endOffset"])
        commit = iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        for s in range(start, end):
            lat.append(commit - (created_ms + 1000 * s + frac))
            w.append(np.full(buckets, rows_per_s / buckets))
    if not lat:
        return np.array([]), np.array([])
    return np.concatenate(lat), np.concatenate(w)


def weighted_quantile(values: np.ndarray, weights: np.ndarray, q: float) -> float:
    order = np.argsort(values)
    cum = np.cumsum(weights[order])
    return float(values[order][np.searchsorted(cum, q * cum[-1])])


def iso_ms(ts: str) -> float:
    """Milliseconds since the epoch of a progress ``timestamp``."""
    return pd.Timestamp(ts).value / 1e6
