"""The benchmark's own tests: every output check rejects a corrupted
result, and every input generator is byte-identical for one seed and
different for another.

    python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------

def _bytes_of(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


GENERATORS = {
    "corpus": lambda seed: inputs.corpus(seed, 30),
    "pit": lambda seed: inputs.pit_tables(seed, 3000, 50, 900),
    "stream": lambda seed: inputs.stream_series(seed, 5, 120),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_generator_is_a_function_of_the_seed(kind, tmp_path, monkeypatch):
    gen = GENERATORS[kind]
    monkeypatch.setattr(inputs, "CACHE_DIR", str(tmp_path / "a"))
    first = _bytes_of(gen(7))
    monkeypatch.setattr(inputs, "CACHE_DIR", str(tmp_path / "b"))
    again = _bytes_of(gen(7))
    other = _bytes_of(gen(8))
    assert first == again
    assert first.keys() == other.keys()
    assert all(first[k] != other[k] for k in first)


def test_stream_drop_is_a_function_of_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE_DIR", str(tmp_path / "cache"))

    def drop(seed, name):
        series = inputs.load_series(inputs.stream_series(seed, 4, 60))
        path = str(tmp_path / name)
        assert inputs.write_drop(series, 20, 40, path) == 4 * 20
        with open(path, "rb") as f:
            return f.read()

    assert drop(3, "a.parquet") == drop(3, "b.parquet")
    assert drop(3, "a.parquet") != drop(4, "c.parquet")


def test_pit_orders_tie_and_interleave_with_events():
    events, orders = inputs.pit_frames(5, 4000, 60, 1200)
    ev = set(zip(events.column("user_id").to_pylist(),
                 events.column("ts").cast("int64").to_pylist()))
    od = list(zip(orders.column("o_custkey").to_pylist(),
                  orders.column("o_orderdate").cast("int64").to_pylist()))
    assert sum(k in ev for k in od) > 0.05 * len(od)      # exact ties
    ev_ts = events.column("ts").cast("int64").to_numpy()
    o_ts = np.array([t for _, t in od])
    assert (o_ts < ev_ts.min()).mean() < 0.05             # interleaved


def test_generator_cache_key_tracks_the_generator_source(monkeypatch):
    from atr_adaptive_laguerre_spark.data import corpus as corpus_mod

    before = inputs.generator_sig()
    real = inputs.inspect.getsource

    def edited(obj):
        src = real(obj)
        return src + "\n# edited\n" if obj is corpus_mod else src

    monkeypatch.setattr(inputs.inspect, "getsource", edited)
    assert inputs.generator_sig() != before


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def _f121_case():
    """A correct features121 sample (the batched kernel's output for two
    docs) with its oracle."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        make_tokens, tokens_to_ohlcv_batched,
    )
    from atr_adaptive_laguerre_spark.kernel.batched import pad_sequences
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long,
    )

    cfg = workloads._cfg121()
    docs = {"d0": make_tokens(0, 150, 9), "d1": make_tokens(1, 90, 9)}
    mat, lens = pad_sequences(list(docs.values()), dtype=np.int64)
    got = multi_interval_long(*tokens_to_ohlcv_batched(mat), lens, cfg)
    sample, lo = {}, 0
    for d, toks in docs.items():
        n = len(toks)
        sample[d] = {c: v[lo:lo + n].copy() for c, v in got.items()}
        sample[d]["offset"] = np.arange(n)
        sample[d]["token"] = toks.astype(np.int64)
        lo += n
    total = sum(len(t) for t in docs.values())
    return total, sample, checks.f121_oracle(docs, cfg), list(got)


def _finite_at(a: np.ndarray) -> int:
    return int(np.flatnonzero(np.isfinite(a))[-1])


def test_f121_check_accepts_the_kernel_and_rejects_corruption():
    total, sample, oracle, cols = _f121_case()
    assert checks.check_f121(total, total, sample, oracle, cols) == []
    assert checks.check_f121(total - 1, total, sample, oracle, cols)

    bad = {d: dict(v) for d, v in sample.items()}
    bad["d1"]["token"] = bad["d1"]["token"].copy()
    bad["d1"]["token"][5] += 1
    assert checks.check_f121(total, total, bad, oracle, cols)

    for col in ("rsi_change_1_base", "regime_agreement_count",
                "rsi_percentile_20_mult2"):
        bad = {d: dict(v) for d, v in sample.items()}
        bad["d0"][col] = bad["d0"][col].copy()
        bad["d0"][col][_finite_at(bad["d0"][col])] += 1e-6
        assert checks.check_f121(total, total, bad, oracle, cols), col


def test_f121_job_check_rejects_a_changed_hash():
    w = object.__new__(workloads.Features121)
    w.n_tok, w.reference, w.problems = 100, 42, []
    assert w.check(None, 0, (100, 42)) == []
    assert w.check(None, 0, (100, 43))
    assert w.check(None, 0, (99, 42))


def test_pit_check_rejects_a_changed_value():
    want = {"q": pd.DataFrame({"event_id": [1, 2, 3],
                               "v": [0.5, np.nan, 2.25]})}
    got = {"q": want["q"].iloc[::-1].reset_index(drop=True)}
    assert checks.check_pit(got, want) == []        # row order is free
    bad = {"q": got["q"].assign(v=[2.25, np.nan, 0.500001])}
    assert checks.check_pit(bad, want)
    assert checks.check_pit({"q": got["q"].iloc[:2]}, want)
    assert checks.check_pit({}, want)


def _resume_case():
    manifest = [{"bucket": b, "n_rows": 10, "input_fingerprint": 100 + b}
                for b in range(4)]
    crash = {"completed_now": [0, 1]}
    resume = {"completed_before": [0, 1], "completed_now": [2, 3],
              "remaining": []}
    fps = {b: 100 + b for b in range(4)}
    return manifest, crash, resume, fps


def test_resume_check_rejects_corruption():
    manifest, crash, resume, fps = _resume_case()
    assert checks.check_resume(manifest, 4, crash, resume, 40, 40, fps) == []
    # a bucket committed twice
    assert checks.check_resume(manifest + manifest[:1], 4, crash, resume,
                               40, 40, fps)
    # resume recomputed a committed bucket
    redo = dict(resume, completed_now=[1, 2, 3])
    assert checks.check_resume(manifest, 4, crash, redo, 40, 40, fps)
    # rows lost on disk
    assert checks.check_resume(manifest, 4, crash, resume, 39, 40, fps)
    # lineage fingerprint differs from the input
    assert checks.check_resume(manifest, 4, crash, resume, 40, 40,
                               {**fps, 2: 7})


def test_stream_check_accepts_the_stepper_and_rejects_corruption():
    from atr_adaptive_laguerre_spark.data.corpus import (
        make_tokens, tokens_to_availability, tokens_to_ohlcv,
    )
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (  # noqa: E501
        Entity121Stream,
    )

    cfg = workloads._cfg121(availability=True)
    cols = feature_columns_for(cfg)
    toks = make_tokens(3, 200, 11)
    h, l, c = tokens_to_ohlcv(toks)
    av = tokens_to_availability(toks)
    want = {"e": checks.stream_expected(h, l, c, av, cfg)}

    ent, parts = Entity121Stream(cfg), []
    for lo in range(0, 200, 50):
        sl = slice(lo, lo + 50)
        r = ent.advance(np.arange(lo, lo + 50), h[sl], l[sl], c[sl], av[sl])
        if r is not None:
            parts.append(r)
    got = {"e": {"offset": np.concatenate([o for o, _ in parts])}}
    for col in cols:
        got["e"][col] = np.concatenate([p[col] for _, p in parts])
    n = len(got["e"]["offset"])
    assert n > 0
    assert checks.check_stream(n, n, got, want, cols) == []
    assert checks.check_stream(n + 1, n, got, want, cols)      # duplicate

    bad = {"e": dict(got["e"])}
    col = cols[7]
    bad["e"][col] = bad["e"][col].copy()
    i = _finite_at(bad["e"][col])
    bad["e"][col][i] = np.nextafter(bad["e"][col][i], np.inf)
    assert checks.check_stream(n, n, bad, want, cols)
    short = {"e": {k: v[:-1] for k, v in got["e"].items()}}
    assert checks.check_stream(n - 1, n - 1, short, want, cols)
