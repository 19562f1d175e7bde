"""Output checks: each compares one workload's result with an oracle that
does not share the code path under test, and returns the list of
problems it found (empty when the output is correct)."""

from __future__ import annotations

import hashlib

import numpy as np

#: z-like ratio columns compared at the looser bar the kernel tests use
#: (variance-algorithm noise is amplified by the division)
Z_LIKE = {f"{c}_{g}" for c in ("rsi_zscore_20", "laguerre_slope")
          for g in ("base", "mult1", "mult2")}


def hash_sample(ids, k: int) -> list:
    """The ``k`` ids with the smallest md5 digest: a fixed, seed-free
    choice that is spread over the input."""
    return sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).digest())[:k]


def _same_bits(a: np.ndarray, b: np.ndarray) -> bool:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return a.shape == b.shape and bool(
        ((a == b) | (np.isnan(a) & np.isnan(b))).all())


# ---------------------------------------------------------------------------
# features121
# ---------------------------------------------------------------------------

def f121_oracle(docs: dict[str, np.ndarray], cfg) -> dict[str, dict]:
    """Per sampled doc: its tokens, the loop oracle's core RSI and the
    pandas multi-interval oracle's feature frame.  The 121-column matrix
    drops the raw ``rsi`` as redundant; its core recurrence shows
    bit-for-bit in ``rsi_change_1_base`` = rsi[i] - rsi[i-1] (0 at i=0)."""
    from atr_adaptive_laguerre_spark.data.corpus import tokens_to_ohlcv
    from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
        multi_interval_features,
    )
    from atr_adaptive_laguerre_spark.kernel.reference_impl import core_loop

    out = {}
    for doc_id, toks in docs.items():
        h, l, c = tokens_to_ohlcv(toks)
        out[doc_id] = {
            "tokens": np.asarray(toks, dtype=np.int64),
            "rsi": core_loop(h, l, c, cfg.atr_period,
                             cfg.adaptive_offset)["rsi"],
            "features": multi_interval_features(h, l, c, cfg),
        }
    return out


def check_f121(rows: int, expected_rows: int, sample: dict[str, dict],
               oracle: dict[str, dict], columns: list[str]) -> list[str]:
    """``sample`` maps doc id -> {column: array ordered by offset}, with
    ``offset`` and ``token`` among the columns."""
    problems = []
    if rows != expected_rows:
        problems.append(f"row count {rows} != sum(n_tok) {expected_rows}")
    if set(sample) != set(oracle):
        problems.append(f"sampled docs {sorted(sample)} != "
                        f"{sorted(oracle)}")
        return problems
    for doc_id, want in oracle.items():
        got = sample[doc_id]
        n = len(want["tokens"])
        if not np.array_equal(got["offset"], np.arange(n)):
            problems.append(f"{doc_id}: offsets are not 0..{n - 1}")
            continue
        if not np.array_equal(got["token"], want["tokens"]):
            problems.append(f"{doc_id}: tokens do not pass through")
        rsi = want["rsi"]
        change_1 = rsi - np.concatenate([rsi[:1], rsi[:-1]])
        if not _same_bits(got["rsi_change_1_base"], change_1):
            problems.append(f"{doc_id}: core RSI differs from core_loop")
        for col in columns:
            g = np.asarray(got[col], dtype=np.float64)
            w = want["features"][col].to_numpy(dtype=np.float64)
            if col in Z_LIKE:
                fin = np.isfinite(w)
                ok = np.allclose(g[fin], w[fin], rtol=1e-5, atol=1e-5)
            else:
                ok = np.allclose(g, w, rtol=1e-9, atol=1e-10,
                                 equal_nan=True)
            if not ok:
                problems.append(f"{doc_id}.{col} differs from "
                                f"multi_interval_ref")
    return problems


# ---------------------------------------------------------------------------
# pit_windows
# ---------------------------------------------------------------------------

def duckdb_results(table_dir: str, names: list[str]) -> dict:
    """Each query's DuckDB oracle result (pandas) on the same tables."""
    import duckdb

    from atr_adaptive_laguerre_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in ("events", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_dir}/{t}.parquet')")
        return {n: con.execute(ORACLES[n]).fetchdf() for n in names}
    finally:
        con.close()


def check_pit(got: dict, want: dict) -> list[str]:
    """Row count, column set and the correctness gate's order-insensitive
    value hash, per query."""
    from tools.check_correctness import value_hash

    problems = []
    for name, w in want.items():
        g = got.get(name)
        if g is None:
            problems.append(f"{name}: no result")
        elif len(g) != len(w):
            problems.append(f"{name}: rows {len(g)} != oracle {len(w)}")
        elif sorted(g.columns) != sorted(w.columns):
            problems.append(f"{name}: columns {sorted(g.columns)} != "
                            f"{sorted(w.columns)}")
        elif value_hash(g) != value_hash(w):
            problems.append(f"{name}: value hash differs from DuckDB")
    return problems


# ---------------------------------------------------------------------------
# resume_write
# ---------------------------------------------------------------------------

def check_resume(manifest: list[dict], n_buckets: int, crash: dict,
                 resume: dict, rows_written: int, expected_rows: int,
                 fingerprints: dict[int, int]) -> list[str]:
    """``manifest``: this run's manifest rows; ``crash``/``resume``: the
    summaries ``run_resumable`` returned; ``fingerprints``: bucket ->
    fingerprint recomputed from the input."""
    problems = []
    buckets = [int(r["bucket"]) for r in manifest]
    if sorted(buckets) != list(range(n_buckets)):
        problems.append(f"manifest buckets {sorted(buckets)} are not each "
                        f"of 0..{n_buckets - 1} exactly once")
    if sorted(resume["completed_before"]) != sorted(crash["completed_now"]):
        problems.append("resume did not see the buckets the crashed call "
                        "committed")
    if set(resume["completed_now"]) & set(crash["completed_now"]):
        problems.append("resume recomputed committed buckets")
    if resume["remaining"]:
        problems.append(f"buckets left after resume: {resume['remaining']}")
    if rows_written != expected_rows:
        problems.append(f"rows written {rows_written} != sum(n_tok) "
                        f"{expected_rows}")
    manifest_rows = sum(int(r["n_rows"]) for r in manifest)
    if manifest_rows != expected_rows:
        problems.append(f"manifest n_rows {manifest_rows} != sum(n_tok) "
                        f"{expected_rows}")
    for r in manifest:
        b = int(r["bucket"])
        if int(r["input_fingerprint"]) != fingerprints.get(b, 0):
            problems.append(f"bucket {b}: fingerprint differs from input")
    return problems


# ---------------------------------------------------------------------------
# stream_incremental
# ---------------------------------------------------------------------------

def stream_expected(h, l, c, av, cfg) -> dict[str, np.ndarray]:
    """Batch ``multi_interval_long`` with availability over one entity's
    bars so far, cut to the rows the stream may have finalized."""
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long,
    )

    n = len(c)
    m1, m2 = cfg.multiplier_1, cfg.multiplier_2
    if n // m1 == 0 or n // m2 == 0:
        return {"offset": np.empty(0, dtype=np.int64)}
    cap = min(av[(n // m1) * m1 - 1], av[(n // m2) * m2 - 1])
    hi = int(np.searchsorted(av, cap, side="right"))
    full = multi_interval_long(h[None, :], l[None, :], c[None, :],
                               np.array([n], dtype=np.int64), cfg,
                               avail=av[None, :])
    out = {k: v[:hi] for k, v in full.items()}
    out["offset"] = np.arange(hi, dtype=np.int64)
    return out


def check_stream(n_rows: int, n_distinct: int, sample: dict[str, dict],
                 want: dict[str, dict], columns: list[str]) -> list[str]:
    """``n_rows``/``n_distinct``: output rows and distinct
    (doc_id, offset) keys; ``sample``: entity -> {column: array ordered
    by offset} from the stream output."""
    problems = []
    if n_rows != n_distinct:
        problems.append(f"{n_rows - n_distinct} duplicate (doc_id, offset) "
                        f"rows")
    for ent, w in want.items():
        g = sample.get(ent, {"offset": np.empty(0, dtype=np.int64)})
        if not np.array_equal(g["offset"], w["offset"]):
            problems.append(f"{ent}: emitted offsets differ from batch")
            continue
        if len(w["offset"]) == 0:
            continue
        for col in columns:
            if not _same_bits(g[col], w[col]):
                problems.append(f"{ent}.{col} differs from batch")
    return problems
