"""The benchmark's workloads.  Each one generates its inputs from the
seed (untimed), warms a fresh session, runs jobs that are timed from
outside through the program's public entry points, checks every job's
output, and, in the traced run, decomposes its layers.

Only the ``job`` method runs inside a measured interval.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import checks
import inputs
from sessions import cores

#: the paper's headline 121-column multi-interval configuration
#: (the same one ``bench.py`` and the catalog's IC sweep use)
MULTS = dict(multiplier_1=3, multiplier_2=12, atr_period=14)


def _cfg121(**kw):
    from atr_adaptive_laguerre_spark.config import FeatureConfig

    return FeatureConfig.multi_interval(**MULTS, **kw)


def _cfg43():
    from atr_adaptive_laguerre_spark.config import FeatureConfig

    return FeatureConfig.single_interval(atr_period=MULTS["atr_period"])


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden checksum files
    left out)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith("."))
    return total


def _read_docs(corpus_dir: str) -> dict[str, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus_dir, "tokens.parquet"),
                      columns=["doc_id", "tokens"])
    return {d: np.asarray(tk, dtype=np.int32) for d, tk in
            zip(t.column("doc_id").to_pylist(),
                t.column("tokens").to_numpy(zero_copy_only=False))}


def _median_s(fn, min_s: float = 0.3, max_reps: int = 7) -> float:
    """Median wall time of ``fn()`` over repeats totalling ``min_s``."""
    times: list[float] = []
    while len(times) < max_reps and (len(times) < 3 or sum(times) < min_s):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = os.path.join(work_dir, self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    # set-up (timed as setup_s, with build_session)
    def warm(self, spark) -> None:
        raise NotImplementedError

    # untimed, once per session, before the first timed job
    def prepare(self, spark) -> None:
        pass

    # untimed, just before job i (input arrival)
    def before_job(self, i: int) -> None:
        pass

    def rows_per_job(self) -> int:
        raise NotImplementedError

    # the timed call; returns whatever ``check`` needs
    def job(self, spark, i: int):
        raise NotImplementedError

    # untimed; problems found in job i's output
    def check(self, spark, i: int, result) -> list[str]:
        return []

    # untimed, after the last job: problems that fail every job
    def finish(self, spark) -> list[str]:
        return []

    # workload-specific end-to-end figures (printed, not gated)
    def extras(self) -> dict[str, tuple[float, str]]:
        return {}

    # traced run: per-layer metrics; returns (metrics, finalize) where
    # finalize(event_log) adds the event-log counters.  It may run in a
    # session that never ran this workload, so each probe repeats its
    # calls and reports a warm repeat.
    def layers(self, spark, tracer):
        raise NotImplementedError


# ---------------------------------------------------------------------------
# features121
# ---------------------------------------------------------------------------

class Features121(Workload):
    """``features_long`` with the 121-column config over the token
    corpus, consumed by one Spark aggregate: the row count and an exact,
    order-independent hash sum over the key columns and one feature per
    pipeline stage (hashing all 121 columns costs the JVM a third of the
    job and would swamp the layers this workload is meant to show)."""

    name = "features121"
    N_DOCS = 800
    HASHED = ["doc_id", "offset", "token", "rsi_change_1_base",
              "rsi_percentile_20_base", "rsi_change_1_mult1",
              "rsi_change_1_mult2", "regime_agreement_count"]
    WARM_DOCS = 24
    SAMPLE = 3
    HASH_MOD = 1_000_003
    #: docs the single-thread kernel probes run on (two giants included)
    KERNEL_DOCS = 200

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.corpus = inputs.corpus(seed, self.N_DOCS)
        self.warm_corpus = inputs.corpus(seed, self.WARM_DOCS)
        self.docs = _read_docs(self.corpus)
        self.n_tok = sum(len(t) for t in self.docs.values())
        self.sample = checks.hash_sample(self.docs, self.SAMPLE)
        self.reference = None
        self.problems: list[str] = []

    def rows_per_job(self):
        return self.n_tok

    def _frame(self, spark, corpus_dir, sample=()):
        from pyspark.sql import functions as F

        from atr_adaptive_laguerre_spark.engine.features_job import (
            feature_columns_for, features_long,
        )

        cfg = _cfg121()
        cols = ["doc_id", "offset", "token"] + feature_columns_for(cfg)
        doc_df = spark.read.parquet(os.path.join(corpus_dir,
                                                 "tokens.parquet"))
        feats = features_long(doc_df, cfg, num_partitions=cores())
        h = F.pmod(F.xxhash64(*self.HASHED), F.lit(self.HASH_MOD))
        aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("hash")]
        if sample:
            aggs.append(F.collect_list(F.when(
                F.col("doc_id").isin(list(sample)),
                F.struct(*cols))).alias("sample"))
        return feats.agg(*aggs)

    def warm(self, spark):
        self._frame(spark, self.warm_corpus).collect()

    def prepare(self, spark):
        """One untimed run that returns the hash sum together with the
        sampled docs' rows; the rows are checked against the oracles and
        every timed job must then reproduce the same hash sum."""
        from atr_adaptive_laguerre_spark.engine.features_job import (
            feature_columns_for,
        )

        cfg = _cfg121()
        row = self._frame(spark, self.corpus, self.sample).collect()[0]
        by_doc: dict[str, list] = {}
        for r in row["sample"]:
            by_doc.setdefault(r["doc_id"], []).append(r)
        sample = {}
        for d, rs in by_doc.items():
            rs.sort(key=lambda r: r["offset"])
            sample[d] = {k: np.array([r[k] for r in rs])
                         for k in rs[0].asDict() if k != "doc_id"}
        oracle = checks.f121_oracle({d: self.docs[d] for d in self.sample},
                                    cfg)
        self.problems = checks.check_f121(int(row["rows"]), self.n_tok,
                                          sample, oracle,
                                          feature_columns_for(cfg))
        self.reference = int(row["hash"])

    def job(self, spark, i):
        row = self._frame(spark, self.corpus).collect()[0]
        return int(row["rows"]), int(row["hash"])

    def check(self, spark, i, result):
        rows, h = result
        problems = list(self.problems)
        if rows != self.n_tok:
            problems.append(f"row count {rows} != sum(n_tok) {self.n_tok}")
        if h != self.reference:
            problems.append("output hash differs from the verified run")
        return problems

    def layers(self, spark, tracer):
        from pyspark.sql import functions as F

        from atr_adaptive_laguerre_spark.engine.features_job import (
            features_checksum,
        )

        cfg = _cfg121()
        doc_df = spark.read.parquet(os.path.join(self.corpus,
                                                 "tokens.parquet"))
        chk, lng = [], []
        for _ in range(3):
            with tracer.span("features_job.checksum") as s:
                features_checksum(doc_df, cfg, num_partitions=cores()).agg(
                    F.sum("n_rows")).collect()
            chk.append(s.seconds)
            with tracer.span("features_job.long") as s:
                self.job(spark, -1)
            lng.append(s.seconds)
        m = kernel_probes(list(self.docs.values())[:self.KERNEL_DOCS], cfg)
        checksum_s, long_s = statistics.median(chk), statistics.median(lng)
        m.update({
            "features_job.checksum_s": checksum_s,
            "features_job.long_s": long_s,
            "features_job.funnel_s": long_s - checksum_s,
            "features_job.parallel_eff": (self.n_tok / long_s) / (
                cores() * m["kernel.rows_per_s_1core"]),
        })
        spans = tracer.named("features_job.long")[1:]     # warm repeats

        def finalize(log):
            from tracing import busy_share, task_skew

            per = [log.tasks_in(tracer.subtree(s)) for s in spans]
            both = [t for ts in per for t in ts]
            wall = sum(s.seconds for s in spans)
            out = {
                "features_job.py_bytes_in":
                    sum(t.py_in for t in both) / len(spans),
                "features_job.py_bytes_out":
                    sum(t.py_out for t in both) / len(spans),
                "features_job.busy_share": busy_share(both, wall, cores()),
                "features_job.task_skew": max(task_skew(ts) for ts in per),
                "features_job.failed_tasks": sum(
                    t.failed for s in tracer.spans
                    if s.name.startswith("features_job")
                    for t in log.tasks_in({s.id})),
            }
            return out

        return m, finalize


def _chunks(docs: list[np.ndarray], cell_budget: int):
    """Length-sorted chunks of docs whose padded size stays under the
    kernel's cell budget, as the Spark worker batches them."""
    order = sorted(range(len(docs)), key=lambda i: len(docs[i]))
    chunk: list[int] = []
    for i in order:
        if chunk and (len(chunk) + 1) * len(docs[i]) > cell_budget:
            yield [docs[j] for j in chunk]
            chunk = []
        chunk.append(i)
    if chunk:
        yield [docs[j] for j in chunk]


def kernel_probes(docs: list[np.ndarray], cfg121) -> dict[str, float]:
    """Single-thread, in-process timings of the data and kernel layers on
    the workload's own docs, padded with ``pad_sequences``."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_ohlcv_batched,
    )
    from atr_adaptive_laguerre_spark.engine.features_job import CELL_BUDGET
    from atr_adaptive_laguerre_spark.kernel.batched import (
        core_loop_batched, pad_sequences,
    )
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long, single_interval_long,
    )

    cfg43 = _cfg43()
    padded = []
    for chunk in _chunks(docs, CELL_BUDGET):
        mat, lens = pad_sequences(chunk, dtype=np.int64)
        padded.append((mat, lens, tokens_to_ohlcv_batched(mat)))
    n = sum(int(lens.sum()) for _, lens, _ in padded)
    per_m = 1e6 / n

    def over_chunks(fn):
        return lambda: [fn(mat, lens, hlc) for mat, lens, hlc in padded]

    ohlcv = _median_s(over_chunks(lambda m, ln, hlc:
                                  tokens_to_ohlcv_batched(m)))
    core = _median_s(over_chunks(lambda m, ln, hlc: core_loop_batched(
        *hlc, cfg43.atr_period, cfg43.adaptive_offset)))
    single = _median_s(over_chunks(lambda m, ln, hlc: single_interval_long(
        *hlc, ln, cfg43)))
    multi = _median_s(over_chunks(lambda m, ln, hlc: multi_interval_long(
        *hlc, ln, cfg121)))
    return {
        "data.ohlcv_s_per_mrow": ohlcv * per_m,
        "kernel.core_s_per_mrow": core * per_m,
        "kernel.single_interval_s_per_mrow": single * per_m,
        "kernel.multi_interval_s_per_mrow": multi * per_m,
        # the single-core rate of what a features121 worker computes
        "kernel.rows_per_s_1core": n / (ohlcv + multi),
    }


# ---------------------------------------------------------------------------
# resume_write
# ---------------------------------------------------------------------------

class ResumeWrite(Workload):
    """``manifest.run_resumable`` with the 43-column config: a call that
    stops after ``CRASH_WAVES`` waves (a simulated crash), then a
    resuming call that completes the run."""

    name = "resume_write"
    N_DOCS = 200
    WARM_DOCS = 24
    N_BUCKETS = 16
    CRASH_WAVES = 2

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.corpus = inputs.corpus(seed, self.N_DOCS)
        self.warm_corpus = inputs.corpus(seed, self.WARM_DOCS)
        self.n_tok = sum(len(t) for t in _read_docs(self.corpus).values())
        self.resume_times: list[float] = []
        self.out_bytes: list[int] = []
        self.fingerprints = None

    def rows_per_job(self):
        return self.n_tok

    def _docs(self, spark, corpus_dir):
        return spark.read.parquet(os.path.join(corpus_dir, "tokens.parquet"))

    def _dirs(self, i):
        base = os.path.join(self.work, f"job{i}")
        return f"{base}/out", f"{base}/manifest"

    def _run(self, spark, corpus_dir, i):
        from atr_adaptive_laguerre_spark.engine import manifest

        out, man = self._dirs(i)
        docs = self._docs(spark, corpus_dir)
        kw = dict(run_id=f"r{i}", n_buckets=self.N_BUCKETS)
        crash = manifest.run_resumable(spark, docs, _cfg43(), out, man,
                                       max_waves=self.CRASH_WAVES, **kw)
        t0 = time.perf_counter()
        resume = manifest.run_resumable(spark, docs, _cfg43(), out, man, **kw)
        return crash, resume, time.perf_counter() - t0

    def warm(self, spark):
        self._run(spark, self.warm_corpus, "warm")
        shutil.rmtree(os.path.join(self.work, "jobwarm"), ignore_errors=True)

    def prepare(self, spark):
        from pyspark.sql import functions as F

        from atr_adaptive_laguerre_spark.engine.manifest import bucket_col

        # the manifest's lineage fingerprint, recomputed from the input
        rows = (self._docs(spark, self.corpus)
                .select(bucket_col(self.N_BUCKETS).alias("b"),
                        F.xxhash64("source", "doc_id", "tokens").alias("h"))
                .groupBy("b").agg(F.expr("bit_xor(h)").alias("fp"))
                .collect())
        self.fingerprints = {int(r["b"]): int(r["fp"]) for r in rows}

    def job(self, spark, i):
        return self._run(spark, self.corpus, i)

    def check(self, spark, i, result):
        crash, resume, resume_s = result
        out, man = self._dirs(i)
        manifest_rows = [r.asDict() for r in spark.read.parquet(man)
                         .filter(f"run_id = 'r{i}'").collect()]
        written = spark.read.parquet(out).count()
        problems = checks.check_resume(manifest_rows, self.N_BUCKETS, crash,
                                       resume, written, self.n_tok,
                                       self.fingerprints)
        self.resume_times.append(resume_s)
        self.out_bytes.append(dir_bytes(out))
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return problems

    def extras(self):
        if not self.resume_times:
            return {}
        return {
            "resume_s": (statistics.median(self.resume_times), "s"),
            "out_bytes_per_row": (statistics.median(self.out_bytes)
                                  / self.n_tok, "B/row"),
        }

    def layers(self, spark, tracer):
        from atr_adaptive_laguerre_spark.engine import manifest
        from atr_adaptive_laguerre_spark.engine.features_job import (
            features_long,
        )

        self.prepare(spark)
        plain = os.path.join(self.work, "plain")
        with tracer.span("manifest.plain_write") as s_plain:
            (features_long(self._docs(spark, self.corpus), _cfg43())
             .write.mode("overwrite").parquet(plain))
        shutil.rmtree(plain, ignore_errors=True)
        with tracer.span("manifest.run_resumable") as s_run:
            crash, resume, resume_s = self._run(spark, self.corpus, "layer")
        _, man = self._dirs("layer")
        with tracer.span("manifest.completed_buckets") as s_done:
            manifest.completed_buckets(spark, man, "rlayer")
        problems = self.check(spark, "layer", (crash, resume, resume_s))
        if problems:
            raise RuntimeError(f"resume_write output check: {problems}")
        corpus_bytes = os.path.getsize(os.path.join(self.corpus,
                                                    "tokens.parquet"))
        m = {
            "manifest.plain_write_s": s_plain.seconds,
            "manifest.run_resumable_s": s_run.seconds,
            "manifest.commit_overhead_s": s_run.seconds - s_plain.seconds,
            "manifest.completed_buckets_s": s_done.seconds,
            "manifest.resume_s": resume_s,
            "manifest.output_bytes": float(self.out_bytes[-1]),
            "manifest.out_bytes_per_row": self.out_bytes[-1] / self.n_tok,
        }

        def finalize(log):
            ids = tracer.subtree(s_run)
            read = sum(t.input_bytes for t in log.tasks_in(ids))
            return {"manifest.spark_jobs": float(log.jobs_in(ids)),
                    "manifest.scan_amplification": read / corpus_bytes}

        return m, finalize


# ---------------------------------------------------------------------------
# pit_windows
# ---------------------------------------------------------------------------

PIT_QUERIES = ["asof_join_orders", "asof_join_strict", "events_sessionize",
               "events_lag_lead", "events_ffill_bfill", "true_range_atr",
               "events_rolling_stats", "resample_ohlcv_1h"]


class PitWindows(Workload):
    """Eight point-in-time / window / resample catalog queries, each into
    a noop sink, over Zipf-skewed events and orders whose timestamps
    interleave and tie."""

    name = "pit_windows"
    SIZE = dict(n_events=50_000, n_users=2_000, n_orders=15_000)
    WARM_SIZE = dict(n_events=2_000, n_users=100, n_orders=600)

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.tables = inputs.pit_tables(seed, **self.SIZE)
        self.warm_tables = inputs.pit_tables(seed, **self.WARM_SIZE)
        self.warmed_by_jobs = False

    def rows_per_job(self):
        return self.SIZE["n_events"]

    def _pass(self, spark, tables, tracer=None):
        from atr_adaptive_laguerre_spark.queries import QUERIES

        for name in PIT_QUERIES:
            df = QUERIES[name](spark, tables)
            if tracer is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span(f"queries.{name}"):
                    df.write.format("noop").mode("overwrite").save()

    def warm(self, spark):
        self._pass(spark, self.warm_tables)

    def job(self, spark, i):
        self._pass(spark, self.tables)
        self.warmed_by_jobs = True

    def finish(self, spark):
        """The noop sink keeps no values, so each query is collected once
        more after the timed jobs and compared with its DuckDB twin."""
        from atr_adaptive_laguerre_spark.queries import QUERIES

        got = {n: QUERIES[n](spark, self.tables).toPandas()
               for n in PIT_QUERIES}
        return checks.check_pit(got, checks.duckdb_results(self.tables,
                                                           PIT_QUERIES))

    def layers(self, spark, tracer):
        if not self.warmed_by_jobs:
            self._pass(spark, self.tables)
        with tracer.span("queries.pass") as s_pass:
            self._pass(spark, self.tables, tracer)
        m = {f"queries.{n}_s": tracer.named(f"queries.{n}")[-1].seconds
             for n in PIT_QUERIES}

        def finalize(log):
            from tracing import busy_share, task_skew

            ts = log.tasks_in(tracer.subtree(s_pass))
            return {
                "queries.shuffle_write_bytes":
                    float(sum(t.shuffle_write for t in ts)),
                "queries.spill_bytes": float(sum(t.spilled for t in ts)),
                "queries.task_skew": task_skew(ts),
                "queries.busy_share": busy_share(ts, s_pass.seconds,
                                                 cores()),
            }

        return m, finalize


# ---------------------------------------------------------------------------
# stream_incremental
# ---------------------------------------------------------------------------

class StreamIncremental(Workload):
    """Per-entity bar drops; one job is one drop followed by one
    ``stream_features121_incremental`` call, which restarts from the
    checkpointed state of the previous call."""

    name = "stream_incremental"
    N_ENTITIES = 100
    BARS_PER_DROP = 100
    MAX_DROPS = 40
    WARM_ENTITIES = 8
    SAMPLE = 3

    def __init__(self, seed, work_dir):
        super().__init__(seed, work_dir)
        self.series = inputs.load_series(inputs.stream_series(
            seed, self.N_ENTITIES, self.BARS_PER_DROP * self.MAX_DROPS))
        self.drops = 0
        self.out_bytes = 0

    def rows_per_job(self):
        return self.N_ENTITIES * self.BARS_PER_DROP

    def _dirs(self, tag):
        base = os.path.join(self.work, tag)
        return f"{base}/in", f"{base}/out", f"{base}/ckpt"

    def _call(self, spark, tag):
        from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (  # noqa: E501
            stream_features121_incremental,
        )

        src, out, ckpt = self._dirs(tag)
        stream_features121_incremental(spark, src, out, ckpt,
                                       _cfg121(availability=True))

    def _drop(self, tag, series, k):
        src = self._dirs(tag)[0]
        os.makedirs(src, exist_ok=True)
        lo = k * self.BARS_PER_DROP
        inputs.write_drop(series, lo, lo + self.BARS_PER_DROP,
                          os.path.join(src, f"drop{k:05d}.parquet"))

    def warm(self, spark):
        small = {k: v[:self.WARM_ENTITIES] for k, v in self.series.items()}
        shutil.rmtree(os.path.join(self.work, "warm"), ignore_errors=True)
        self._drop("warm", small, 0)
        self._call(spark, "warm")

    def job(self, spark, i):
        self._call(spark, "main")

    def before_job(self, i):
        if self.drops >= self.MAX_DROPS:
            raise RuntimeError("out of generated drops")
        self._drop("main", self.series, self.drops)
        self.drops += 1

    def _verify(self, spark, tag, n_drops):
        from pyspark.sql import functions as F

        from atr_adaptive_laguerre_spark.engine.features_job import (
            feature_columns_for,
        )

        cfg = _cfg121(availability=True)
        cols = feature_columns_for(cfg)
        out = spark.read.parquet(self._dirs(tag)[1])
        n_rows = out.count()
        n_distinct = out.select("doc_id", "offset").distinct().count()
        ents = checks.hash_sample(range(self.N_ENTITIES), self.SAMPLE)
        names = [inputs.entity_id(e) for e in ents]
        pdf = (out.filter(F.col("doc_id").isin(names)).toPandas()
               .sort_values(["doc_id", "offset"]))
        n = n_drops * self.BARS_PER_DROP
        want, got = {}, {}
        for e, name in zip(ents, names):
            s = self.series
            want[name] = checks.stream_expected(
                s["h"][e, :n], s["l"][e, :n], s["c"][e, :n], s["a"][e, :n],
                cfg)
            sub = pdf[pdf["doc_id"] == name]
            got[name] = {c: sub[c].to_numpy() for c in ["offset"] + cols}
        self.out_bytes = dir_bytes(self._dirs(tag)[1])
        return checks.check_stream(n_rows, n_distinct, got, want, cols)

    def finish(self, spark):
        return self._verify(spark, "main", self.drops)

    def extras(self):
        if not self.drops:
            return {}
        return {"out_bytes_per_row": (
            self.out_bytes / (self.drops * self.rows_per_job()), "B/row")}

    def layers(self, spark, tracer):
        from tracing import progress_listener

        from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (  # noqa: E501
            Entity121Stream,
        )

        cfg = _cfg121(availability=True)
        progress = progress_listener(spark)
        n_triggers = 2
        for k in range(n_triggers):
            self._drop("layer", self.series, k)
            with tracer.span("streaming.trigger"):
                self._call(spark, "layer")
        problems = self._verify(spark, "layer", n_triggers)
        if problems:
            raise RuntimeError(f"stream_incremental output check: "
                               f"{problems}")
        ckpt = self._dirs("layer")[2]

        # in-process stepper, one thread, the same drop granularity
        s = self.series
        n_ent, n_bars = 5, n_triggers * self.BARS_PER_DROP

        def step_all():
            for e in range(n_ent):
                ent = Entity121Stream(cfg)
                for lo in range(0, n_bars, self.BARS_PER_DROP):
                    sl = slice(lo, lo + self.BARS_PER_DROP)
                    ent.advance(np.arange(lo, sl.stop, dtype=np.int64),
                                s["h"][e, sl], s["l"][e, sl],
                                s["c"][e, sl], s["a"][e, sl])

        entity_s = _median_s(step_all, min_s=0.5, max_reps=5)
        busy = [p for p in progress if p.get("numInputRows", 0) > 0]
        if len(busy) < n_triggers:
            raise RuntimeError(f"{len(busy)} streaming progress reports "
                               f"for {n_triggers} triggers")
        # the restarted trigger: state comes back from the checkpoint
        dur = busy[-1]["durationMs"]
        state = (busy[-1].get("stateOperators") or [{}])[0]
        m = {
            "streaming.entity121_s_per_mrow":
                entity_s * 1e6 / (n_ent * n_bars),
            "streaming.trigger_s": dur.get("triggerExecution", 0) / 1000.0,
            "streaming.add_batch_s": dur.get("addBatch", 0) / 1000.0,
            "streaming.wal_commit_s": dur.get("walCommit", 0) / 1000.0,
            "streaming.state_rows": float(state.get("numRowsTotal", 0)),
            "streaming.state_mem_bytes":
                float(state.get("memoryUsedBytes", 0)),
            "streaming.checkpoint_bytes": float(dir_bytes(ckpt)),
            "streaming.out_bytes_per_row":
                self.out_bytes / (n_triggers * self.rows_per_job()),
        }
        return m, lambda log: {}


WORKLOADS = {w.name: w for w in (Features121, ResumeWrite, PitWindows,
                                 StreamIncremental)}
