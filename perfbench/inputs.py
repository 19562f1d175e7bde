"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical files, another seed gives other files.  Outputs are
cached under ``.perfbench_cache/`` at the checkout root, keyed by seed,
size and a hash of the generator sources (this file and
``data/corpus.py``), so editing either regenerates the inputs instead of
silently measuring stale data.  Generation time is never inside a
measured interval.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
#: cached input sets kept on disk; every run uses a fresh seed, so the
#: cache would otherwise grow by one set per run
CACHE_KEEP = 8


def generator_sig() -> str:
    from atr_adaptive_laguerre_spark.data import corpus as corpus_mod

    h = hashlib.md5(inspect.getsource(corpus_mod).encode())
    h.update(inspect.getsource(inspect.getmodule(generator_sig)).encode())
    return h.hexdigest()[:10]


def _cached(kind: str, seed: int, size: dict, build) -> str:
    """Path of the cached input ``kind`` for ``seed``/``size``, building
    it with ``build(tmp_path)`` on a miss (atomic rename on success)."""
    tag = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(CACHE_DIR, f"{kind}_s{seed}_{tag}_{generator_sig()}")
    if os.path.exists(path):
        os.utime(path)
        return path
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    _prune()
    return path


def _prune() -> None:
    entries = [os.path.join(CACHE_DIR, e) for e in os.listdir(CACHE_DIR)
               if ".tmp" not in e]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# token corpus (features121, resume_write)
# ---------------------------------------------------------------------------

def corpus(seed: int, n_docs: int) -> str:
    """Directory holding ``tokens.parquet``: the repo's synthetic corpus
    (docs of 64-1024 tokens, every 97th an 8192-token giant)."""
    from atr_adaptive_laguerre_spark.data.corpus import write_corpus_parquet

    def build(d):
        write_corpus_parquet(os.path.join(d, "tokens.parquet"),
                             n_docs=n_docs, seed=seed)

    return _cached("corpus", seed, {"d": n_docs}, build)


# ---------------------------------------------------------------------------
# point-in-time tables (pit_windows)
# ---------------------------------------------------------------------------

#: events span this many days from 2024-01-01
PIT_DAYS = 30
#: share of orders whose timestamp equals one of the same user's event
#: timestamps exactly (the strict/non-strict as-of tie rule then matters)
PIT_TIE_SHARE = 0.1
PIT_ZIPF_S = 0.8


def pit_frames(seed: int, n_events: int, n_users: int, n_orders: int):
    """(events, orders) as pyarrow tables, shaped like the catalog's
    ``events``/``orders`` tables.  Users are Zipf-skewed; order times
    interleave with event times and include exact ties."""
    import pyarrow as pa

    rng = np.random.default_rng([int(seed), 1])
    w = 1.0 / np.arange(1, n_users + 1) ** PIT_ZIPF_S
    w /= w.sum()
    perm = rng.permutation(n_users)         # hot users get arbitrary ids
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = PIT_DAYS * 86_400_000_000

    ev_user = perm[rng.choice(n_users, n_events, p=w)].astype(np.int64)
    ev_ts = np.sort(t0 + rng.integers(0, span, n_events))
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    ev_type = kinds[rng.integers(0, len(kinds), n_events)]
    ev_value = np.round(rng.uniform(1.0, 200.0, n_events), 2)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(ev_user),
        "event_type": pa.array(ev_type, pa.string()),
        "value": pa.array(ev_value),
    })

    o_user = perm[rng.choice(n_users, n_orders, p=w)].astype(np.int64)
    o_ts = t0 + rng.integers(0, span, n_orders)
    # exact ties: copy (user, ts) from a random event
    tie = rng.random(n_orders) < PIT_TIE_SHARE
    src = rng.integers(0, n_events, int(tie.sum()))
    o_user[tie] = ev_user[src]
    o_ts[tie] = ev_ts[src]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(o_user),
        "o_totalprice": pa.array(np.round(rng.uniform(10.0, 5e4, n_orders),
                                          2)),
        "o_orderdate": pa.array(o_ts, pa.timestamp("us")),
    })
    return events, orders


def pit_tables(seed: int, n_events: int, n_users: int, n_orders: int) -> str:
    """Directory holding ``events.parquet`` and ``orders.parquet`` (the
    layout ``queries.QUERIES`` reads as ``sf_dir``)."""
    import pyarrow.parquet as pq

    def build(d):
        events, orders = pit_frames(seed, n_events, n_users, n_orders)
        pq.write_table(events, os.path.join(d, "events.parquet"),
                       row_group_size=256_000)
        pq.write_table(orders, os.path.join(d, "orders.parquet"),
                       row_group_size=256_000)

    return _cached("pit", seed,
                   {"e": n_events, "u": n_users, "o": n_orders}, build)


# ---------------------------------------------------------------------------
# per-entity bar drops (stream_incremental)
# ---------------------------------------------------------------------------

def stream_series(seed: int, n_entities: int, n_bars: int) -> str:
    """Directory holding ``series.npz``: for every entity, ``n_bars``
    bars of (high, low, close, avail) from ``make_tokens`` ->
    ``tokens_to_ohlcv`` / ``tokens_to_availability``, as (E, n_bars)
    float64 matrices."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        make_tokens, tokens_to_availability, tokens_to_ohlcv,
    )

    def build(d):
        mats = {k: np.empty((n_entities, n_bars)) for k in "hlca"}
        for e in range(n_entities):
            toks = make_tokens(e, n_bars, seed)
            mats["h"][e], mats["l"][e], mats["c"][e] = tokens_to_ohlcv(toks)
            mats["a"][e] = tokens_to_availability(toks)
        np.savez(os.path.join(d, "series.npz"), **mats)

    return _cached("stream", seed, {"e": n_entities, "b": n_bars}, build)


def load_series(path: str) -> dict[str, np.ndarray]:
    with np.load(os.path.join(path, "series.npz")) as z:
        return {k: z[k] for k in z.files}


def entity_id(e: int) -> str:
    return f"e{e:05d}"


def write_drop(series: dict[str, np.ndarray], lo: int, hi: int,
               path: str) -> int:
    """Write bars [lo, hi) of every entity as one parquet file in the
    streaming input schema; returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_ent = series["c"].shape[0]
    k = hi - lo
    table = pa.table({
        "source": pa.array(["s0"] * (n_ent * k), pa.string()),
        "doc_id": pa.array(np.repeat([entity_id(e) for e in range(n_ent)],
                                     k), pa.string()),
        "offset": pa.array(np.tile(np.arange(lo, hi, dtype=np.int64),
                                   n_ent)),
        "high": pa.array(series["h"][:, lo:hi].ravel()),
        "low": pa.array(series["l"][:, lo:hi].ravel()),
        "close": pa.array(series["c"][:, lo:hi].ravel()),
        "avail": pa.array(series["a"][:, lo:hi].ravel()),
    })
    # hidden temp name: the file source skips dot-files, so it never
    # lists a partially written drop
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return n_ent * k
