"""Feature-extraction jobs: doc-grain token table -> per-step features.

Every batch feature job runs through ONE physical path, the private
driver :func:`_map_kernel`:

    doc-grain Arrow batches -> :func:`_arrow_doc_chunks` (padding-efficient
    chunks, the single null-token check) -> a compute function -> an
    emitter -> :func:`_overlap_chunks` (compute on a helper thread,
    double-buffered output pools) -> one ``mapInArrow``.

* Compute functions: :func:`_core_cols` (the core recurrence outputs) or
  :func:`_chunk_feature_cols` (the 43 / 169 / 121-column matrix).
* Emitters (output shapes): long (one row per entity x offset), doc (one
  row per entity with array columns, empty docs included) or checksum
  (per-chunk row count, NaN count and column sums).

The public jobs — :func:`core_features_long`, :func:`features_long`,
:func:`features_doc`, :func:`features_checksum` — are thin wrappers that
pick a compute function and an emitter.  Doc-grain input (the
``input_hint`` shape: one row per entity holding the whole ``tokens``
array) needs no exchange: each entity arrives complete in one row, and
parallelism comes from Parquet file splits (bytes ∝ tokens ∝ kernel
work).

Long-form input (one row per token) is first turned back into doc grain
by :func:`implode_tokens`, a Catalyst-only salted range partition plus
``collect_list`` — one intended shuffle, no Python grouping code — and
then runs through the same driver, so every path calls the identical
lockstep kernel (:mod:`atr_adaptive_laguerre_spark.kernel.batched`) and
is bit-identical to the local oracle.

Reference lifecycle being re-expressed: ``fit_transform`` ->
``_compute_core_loop`` (reference ``features/atr_adaptive_rsi.py``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import tokens_to_ohlcv_batched
from atr_adaptive_laguerre_spark.engine.partitioning import salted_entity_key
from atr_adaptive_laguerre_spark.kernel.batched import core_loop_batched
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    _flat_explode_idx,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import CORE_OUTPUTS

#: cap on padded cells (docs x max_len) per kernel invocation; bounds the
#: Python worker's peak memory independent of Arrow batch sizing.
CELL_BUDGET = 262_144

#: seconds :func:`_overlap_chunks` waits for its producer thread to exit
#: after stop; a producer still alive after that raises instead of
#: racing the next task on the shared kernel buffers.
_PRODUCER_JOIN_S = 60.0


def _length_chunks(lengths: np.ndarray, cell_budget: int) -> Iterator[np.ndarray]:
    """Yield index chunks, sorted by length (padding-efficient), where each
    chunk's padded size len(chunk) * max_len stays under the budget and the
    in-chunk length spread stays tight (padding efficiency >= ~0.75).

    Zero-length sequences are skipped entirely — an empty doc has no
    feature rows in long form by definition, and letting one into a
    chunk can produce a (B, 0) matrix that the kernel cannot index
    (tested: empty docs crash without this filter).  Every kernel entry
    point chunks through here, so this is the single choke point."""
    order = np.argsort(lengths, kind="stable")
    order = order[lengths[order] > 0]
    start = 0
    while start < len(order):
        max_len = 0
        first_len = max(1, int(lengths[order[start]]))
        end = start
        while end < len(order):
            cand = max(max_len, int(lengths[order[end]]))
            too_big = (end - start + 1) * cand > cell_budget
            too_ragged = cand > first_len * 4 / 3 and end - start >= 32
            if (too_big or too_ragged) and end > start:
                break
            max_len = cand
            end += 1
        yield order[start:end]
        start = end


def _chunk_feature_cols(mat, lens, cfg: FeatureConfig, pool=None):
    """OHLCV derivation + kernel dispatch for one padded chunk — the ONE
    definition of the feature matrix every output shape shares, so
    availability gating and kernel dispatch cannot drift between them.
    Returns long-form 1-D arrays (docs in chunk order); with ``pool``
    they are pooled buffers, else fresh arrays."""
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_availability_batched,
    )
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long, single_interval_long,
    )

    high, low, close = tokens_to_ohlcv_batched(mat)
    if cfg.is_multi_interval:
        avail = (tokens_to_availability_batched(mat)
                 if cfg.availability else None)
        return multi_interval_long(high, low, close, lens, cfg,
                                   avail=avail, pool=pool)
    return single_interval_long(high, low, close, lens, cfg, pool=pool)


def _core_cols(mat, lens, cfg: FeatureConfig, pool) -> dict[str, np.ndarray]:
    """Core recurrence outputs (rsi + intermediates) for one padded
    chunk, gathered into pooled long-form buffers (docs in chunk
    order)."""
    high, low, close = tokens_to_ohlcv_batched(mat)
    out = core_loop_batched(high, low, close, cfg.atr_period,
                            cfg.adaptive_offset, copy_out=False)
    fe = _flat_explode_idx(lens, mat.shape[1])
    return {k: np.take(out[k].ravel(), fe,
                       out=pool.get(f"core_{k}", len(fe)))
            for k in CORE_OUTPUTS}


def feature_columns_for(cfg: FeatureConfig) -> list[str]:
    """Output feature columns for a config (43 / 169 / 121)."""
    from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
    from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
        multi_interval_columns,
    )

    if cfg.is_multi_interval:
        return multi_interval_columns(cfg.filter_redundancy)
    return list(FEATURE_COLUMNS)


def _select_columns(cfg: FeatureConfig,
                    columns: list[str] | None) -> list[str]:
    """The config's feature columns, projected to ``columns`` (kept in
    the config's order); unknown names fail loud."""
    feat_cols = feature_columns_for(cfg)
    if columns is None:
        return feat_cols
    unknown = sorted(set(columns) - set(feat_cols))
    if unknown:
        raise ValueError(f"unknown feature columns: {unknown}")
    return [c for c in feat_cols if c in set(columns)]


def _col(rb, name: str):
    return rb.column(rb.schema.get_field_index(name))


def _arrow_doc_chunks(rb, cell_budget: int = CELL_BUDGET):
    """Parse a doc-grain Arrow RecordBatch and yield padding-efficient
    chunks: (doc_row_idx, chunk_flat_tokens, lengths, padded_int64_matrix).

    Zero pandas involvement: token values come straight out of the Arrow
    list buffer; the padded matrix is one vectorized scatter.  A NULL
    tokens array (empty docs must be [], not NULL) or a NULL token inside
    one (which NumPy would otherwise turn into a garbage integer) is a
    contract violation: every job parses its input here, so this is the
    one place that fails loud with the doc named.
    """
    tokens = _col(rb, "tokens")
    if tokens.null_count:
        i = pc.index(pc.is_null(tokens), True).as_py()
        raise ValueError(
            f"null tokens array for doc_id {_col(rb, 'doc_id')[i].as_py()!r} "
            f"({tokens.null_count} such rows in this batch); "
            f"empty documents must carry [] not NULL")
    lengths = pc.list_value_length(tokens).to_numpy().astype(np.int64)
    flat_arr = tokens.flatten()
    starts = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    if flat_arr.null_count:
        k = pc.index(pc.is_null(flat_arr), True).as_py()
        i = int(np.searchsorted(starts, k, side="right")) - 1
        raise ValueError(
            f"null token at offset {k - int(starts[i])} of the tokens "
            f"array for doc_id {_col(rb, 'doc_id')[i].as_py()!r}; "
            f"token arrays must not contain NULL")
    flat = flat_arr.to_numpy(zero_copy_only=False)
    for idx in _length_chunks(lengths, cell_budget):
        lens = lengths[idx]
        gidx = np.concatenate(
            [np.arange(starts[i], starts[i] + lengths[i]) for i in idx])
        chunk_flat = flat[gidx]
        t_max = int(lens.max()) if len(lens) else 0
        mat = _padded_int_buffer(len(idx), t_max)
        mat.ravel()[_flat_explode_idx(lens, t_max)] = chunk_flat
        yield idx, chunk_flat, lens, mat


_PAD_INT: dict[str, np.ndarray | None] = {"buf": None}


def _padded_int_buffer(b: int, t: int) -> np.ndarray:
    """Reusable int64 padded-token buffer (fresh big allocations are
    page-fault bound on virtualized hosts; see kernel.batched)."""
    need = b * t
    buf = _PAD_INT["buf"]
    if buf is None or buf.size < need:
        buf = _PAD_INT["buf"] = np.empty(max(need, CELL_BUDGET),
                                         dtype=np.int64)
    return buf[:need].reshape(b, t)


_OVERLAP_DONE = object()


def _overlap_chunks(produce):
    """Overlap kernel compute with the worker's socket serialization.

    The Python worker is single-threaded: while it serializes a yielded
    RecordBatch to the JVM socket, the generator is suspended — so
    compute time and funnel time ADD.  With the r6 kernel ~2x faster,
    the 121-column job became funnel-bound (measured at sf1: checksum
    consumption 8.6 s vs full materialization 15.9 s), and the two
    phases are each GIL-releasing (NumPy slab ops / Arrow+socket C
    writes), so running compute on a helper thread overlaps them.

    ``produce(emit, acquire_pool)`` runs on the helper thread; it calls
    ``acquire_pool(j)`` before building batch ``j`` (returns one of the
    TWO persistent OutPools and, for j >= 2, blocks until batch j-2 —
    same pool parity — has been fully serialized) and ``emit(batch)``
    once per acquired pool.  The ack protocol is what makes the
    zero-copy pooled buffers safe: the worker serializes a yielded
    batch BEFORE resuming the generator, so the consumer's post-yield
    ack certifies "this batch's buffers may be overwritten".  Errors
    propagate; generator close (task kill) stops the thread promptly.
    A producer that has not exited ``_PRODUCER_JOIN_S`` seconds after
    stop raises ``RuntimeError`` naming the thread.
    """
    import queue
    import threading

    from atr_adaptive_laguerre_spark.kernel.batched import get_out_pool

    out_q: queue.Queue = queue.Queue(maxsize=2)
    ack_q: queue.Queue = queue.Queue()
    stop = threading.Event()

    class _Stopped(Exception):
        pass

    def acquire_pool(j: int):
        if j >= 2:
            while True:
                if stop.is_set():
                    raise _Stopped
                try:
                    ack_q.get(timeout=1.0)
                    break
                except queue.Empty:
                    continue
        return get_out_pool(j % 2)

    def emit(batch) -> None:
        while True:
            if stop.is_set():
                raise _Stopped
            try:
                out_q.put(batch, timeout=1.0)
                return
            except queue.Full:
                continue

    def runner():
        try:
            produce(emit, acquire_pool)
            out_q.put(_OVERLAP_DONE)
        except _Stopped:
            pass
        except BaseException as e:  # noqa: BLE001 — must cross threads
            try:
                out_q.put(e, timeout=10.0)
            except queue.Full:
                pass

    t = threading.Thread(target=runner, daemon=True,
                         name="kernel-compute-overlap")
    t.start()
    try:
        while True:
            item = out_q.get()
            if item is _OVERLAP_DONE:
                return
            if isinstance(item, BaseException):
                raise item
            yield item          # worker serializes before next()
            ack_q.put(1)
    finally:
        stop.set()
        # Block until the producer actually exits: Spark reuses this
        # worker process for the NEXT task, and a producer still inside
        # a kernel chunk would race that task's use of the shared
        # Workspace/_PAD_INT buffers.  The producer notices `stop` at
        # its next emit/acquire poll (<= ~1 s past the current chunk's
        # compute); one that does not is a fault, not a slow exit.
        t.join(timeout=_PRODUCER_JOIN_S)
        if t.is_alive():
            raise RuntimeError(
                f"producer thread {t.name!r} still running "
                f"{_PRODUCER_JOIN_S:g} s after stop; refusing to hand "
                f"its shared kernel buffers to the next task")


def _emit_long(rb, idx, tokens, lens, cols, names):
    """One row per (entity, offset); tokens pass through unchanged."""
    rep = pa.array(np.repeat(idx.astype(np.int64), lens))
    offsets = np.concatenate([np.arange(n, dtype=np.int32) for n in lens])
    arrays = [
        pc.take(_col(rb, "source"), rep),
        pc.take(_col(rb, "doc_id"), rep),
        pa.array(offsets),
        pa.array(tokens.astype(np.int32, copy=False)),
    ]
    arrays += [pa.array(cols[c]) for c in names]
    return pa.RecordBatch.from_arrays(
        arrays, ["source", "doc_id", "offset", "token"] + names)


def _emit_doc(rb, idx, tokens, lens, cols, names):
    """One row per entity; the tokens array and every feature are list
    columns assembled zero-copy over the chunk's offsets."""
    offs = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    pa_offs = pa.array(offs)
    take_idx = pa.array(idx.astype(np.int64))
    arrays = [
        pc.take(_col(rb, "source"), take_idx),
        pc.take(_col(rb, "doc_id"), take_idx),
        pa.array(lens.astype(np.int32)),
        pa.ListArray.from_arrays(
            pa_offs, pa.array(tokens.astype(np.int32, copy=False))),
    ]
    arrays += [pa.ListArray.from_arrays(pa_offs, pa.array(cols[c]))
               for c in names]
    return pa.RecordBatch.from_arrays(
        arrays, ["source", "doc_id", "n_tok", "tokens"] + names)


def _emit_empty_docs(rb, names):
    """The doc grain contracts ONE row per entity, but the chunker skips
    n_tok == 0 entities (no long-form rows): emit them with empty arrays
    so they don't silently vanish.  None when the batch has none."""
    lens = pc.list_value_length(_col(rb, "tokens")).to_numpy()
    empty = np.flatnonzero(lens == 0)
    if not len(empty):
        return None
    none = np.empty(0, dtype=np.float64)
    return _emit_doc(rb, empty, np.empty(0, dtype=np.int32),
                     np.zeros(len(empty), dtype=np.int64),
                     {c: none for c in names}, names)


def _emit_checksum(rb, idx, tokens, lens, cols, names):
    """Per-chunk row count, NaN count and per-column ``nansum``."""
    n_nan = sum(int(np.isnan(cols[c]).sum()) for c in names)
    arrays = [pa.array([int(lens.sum())], pa.int64()),
              pa.array([n_nan], pa.int64())]
    arrays += [pa.array([float(np.nansum(cols[c]))]) for c in names]
    return pa.RecordBatch.from_arrays(
        arrays, ["n_rows", "n_nan"] + [f"{c}_sum" for c in names])


#: output shape -> (chunk emitter, per-batch tail emitter or None,
#: leading schema, per-column schema template)
_SHAPES = {
    "long": (_emit_long, None,
             "source string, doc_id string, offset int, token int",
             "{} double"),
    "doc": (_emit_doc, _emit_empty_docs,
            "source string, doc_id string, n_tok int, tokens array<int>",
            "{} array<double>"),
    "checksum": (_emit_checksum, None, "n_rows long, n_nan long",
                 "{}_sum double"),
}


def _map_kernel(doc_df: DataFrame, shape: str, compute, cfg: FeatureConfig,
                names: list[str], num_partitions: int | None = None,
                cell_budget: int = CELL_BUDGET) -> DataFrame:
    """The one kernel driver: doc-grain Arrow batches -> chunks ->
    ``compute(mat, lens, cfg, pool)`` (a dict of long-form columns) ->
    the ``shape`` emitter -> ``_overlap_chunks`` -> ``mapInArrow``.

    ``num_partitions`` forces a round-robin repartition first — useful
    when the input is a few small files whose splits underuse the
    cluster; at real scale leave it unset (zero shuffle)."""
    emit_chunk, emit_tail, keys, col_type = _SHAPES[shape]
    if num_partitions:
        doc_df = doc_df.repartition(num_partitions)
    schema = ", ".join([keys] + [col_type.format(c) for c in names])

    def run(batches):
        def produce(emit, acquire_pool):
            j = 0
            for rb in batches:
                for idx, tokens, lens, mat in _arrow_doc_chunks(
                        rb, cell_budget):
                    cols = compute(mat, lens, cfg, acquire_pool(j))
                    emit(emit_chunk(rb, idx, tokens, lens, cols, names))
                    j += 1
                tail = emit_tail(rb, names) if emit_tail else None
                if tail is not None:
                    acquire_pool(j)     # one ack per emitted batch
                    emit(tail)
                    j += 1

        yield from _overlap_chunks(produce)

    return doc_df.mapInArrow(run, schema=schema)


def core_features_long(doc_df: DataFrame,
                       cfg: FeatureConfig | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """Doc-grain input -> long-form (entity x offset) core features
    (``rsi`` plus the recurrence intermediates in ``CORE_OUTPUTS``).

    Zero-shuffle by default; ``num_partitions`` forces a round-robin
    repartition first (see :func:`_map_kernel`)."""
    cfg = cfg or FeatureConfig()
    return _map_kernel(doc_df, "long", _core_cols, cfg, list(CORE_OUTPUTS),
                       num_partitions)


def features_long(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                  num_partitions: int | None = None,
                  cell_budget: int = CELL_BUDGET,
                  columns: list[str] | None = None) -> DataFrame:
    """Doc-grain input -> long-form full feature matrix.

    43 columns single-interval; 169/121 multi-interval (resample, align,
    cross-interval interactions, redundancy filter — all inside the one
    Arrow kernel, mirroring the reference's in-process fusion).  Zero
    shuffle unless ``num_partitions`` forces a spread.

    ``columns`` projects the OUTPUT at the worker: Catalyst cannot push
    a projection through a Python map node, so a downstream select still
    pays Arrow transfer + row conversion for all 121 columns — the
    dominant cost of this job (BENCH/BASELINE.md: the funnel moves
    ~1-2 GB/s while the kernel computes ~3M tokens/s).  Passing the
    needed subset here keeps the kernel fused (it computes everything;
    compute is cheap) but ships only the requested features.
    """
    cfg = cfg or FeatureConfig()
    return _map_kernel(doc_df, "long", _chunk_feature_cols, cfg,
                       _select_columns(cfg, columns), num_partitions,
                       cell_budget)


def features_doc(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                 num_partitions: int | None = None,
                 columns: list[str] | None = None) -> DataFrame:
    """Doc-grain input -> doc-grain output: one row per entity carrying
    the original ``tokens`` array (bit-exact pass-through) plus each
    feature as an ``array<double>`` aligned to the token positions.
    Empty docs get one row with empty arrays.

    Same information as :func:`features_long` at ~1/500th the row count:
    the per-row JVM ingest cost (columnar->row conversion, row accounting)
    collapses, which matters when the 121-column matrix is the dominant
    byte stream.  ``columns`` worker-projects the output exactly like
    :func:`features_long`.
    """
    cfg = cfg or FeatureConfig()
    return _map_kernel(doc_df, "doc", _chunk_feature_cols, cfg,
                       _select_columns(cfg, columns), num_partitions)


def features_checksum(doc_df: DataFrame, cfg: FeatureConfig | None = None,
                      num_partitions: int | None = None) -> DataFrame:
    """Compute the full feature matrix and emit per-chunk integrity
    checksums (row count + per-column sums) instead of the vectors —
    the map-side-combined plan for "compute features and verify them".

    Every feature value is materialized in the worker exactly as in
    :func:`features_long`; only ~1 KB per chunk crosses to the JVM, so
    this job's throughput measures the compute fabric rather than the
    single-box byte funnel.

    Sums are ``nansum`` (multi-interval runs emit NaN mult columns for
    docs shorter than the multiplier), so ``agg(sum(...))`` over
    :func:`features_long` equals them only where Spark's NaN-propagating
    sum sees no NaN; the ``n_nan`` column carries the per-chunk NaN count
    across all feature columns so NaN corruption cannot pass unnoticed —
    ``agg(sum(n_nan))`` must equal the isnan-count over
    :func:`features_long` (tested on a corpus with short docs).
    """
    cfg = cfg or FeatureConfig()
    return _map_kernel(doc_df, "checksum", _chunk_feature_cols, cfg,
                       feature_columns_for(cfg), num_partitions)


def explode_tokens(doc_df: DataFrame) -> DataFrame:
    """Doc-grain -> long-form via posexplode (Spark-native, no Python).

    An empty array has no long-form rows.  A NULL array (a contract
    violation) becomes one row with a NULL token instead of vanishing,
    so the kernel's null check still names the doc after
    :func:`implode_tokens`."""
    tokens = F.coalesce(F.col("tokens"), F.array(F.lit(None)))
    return doc_df.select(
        "source", "doc_id",
        F.posexplode(tokens).alias("offset", "token"))


def implode_tokens(long_df: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """Long-form (source, doc_id, offset, token) -> doc-grain
    (source, doc_id, n_tok, tokens): the inverse of
    :func:`explode_tokens`, Catalyst-only.

    Rows are range-partitioned on the salted entity key ``_ekey``
    (``partitioning.salted_entity_key``), so entities stay whole and
    key-space locality cannot skew the ranges; the ``groupBy`` on
    (_ekey, source, doc_id) is already satisfied by that partitioning,
    so the plan has exactly one Exchange.  Tokens are ordered by
    ``offset`` inside each group (Spark gives no group-order guarantee),
    and an entity whose offsets are not exactly 0..n-1 (a gap, a
    duplicate, a NULL) fails the query with the entity named.
    Compose as ``core_features_long(implode_tokens(long_df))``.
    """
    keyed = salted_entity_key(long_df)
    parts = (keyed.repartitionByRange(num_partitions, "_ekey")
             if num_partitions else keyed.repartitionByRange("_ekey"))
    grouped = (parts.groupBy("_ekey", "source", "doc_id")
               .agg(F.sort_array(F.collect_list(F.struct("offset", "token")))
                    .alias("seq")))
    dense = F.forall(
        F.transform(F.col("seq.offset"), lambda o, i: o.eqNullSafe(i)),
        lambda ok: ok)
    bad = F.raise_error(F.concat(
        F.lit("offsets of entity (source="), F.col("source"),
        F.lit(", doc_id="), F.col("doc_id"),
        F.lit(") are not exactly 0..n-1")))
    return grouped.select(
        "source", "doc_id",
        F.size("seq").alias("n_tok"),
        F.when(dense, F.col("seq.token")).otherwise(bad).alias("tokens"))
