"""Aggregate functions with the reference's 5-phase protocol.

Reference protocol (SURVEY.md §2.A A6-A10; python runtime
arrow-udf-runtime/src/python/mod.rs:456-656):

    create_state() -> state
    accumulate(state, *args) -> state
    retract(state, *args) -> state          (optional; enables retraction)
    merge(state, other) -> state            (enables distributed agg)
    finish(state) -> output                 (optional; default: state)

Spark realization — a genuinely distributed two-phase plan:

  phase 1 (map side): :func:`build_multi_fold` under ``mapInArrow`` over
      input partitions; each partition locally groups by key and folds its
      rows into one partial state per key.  Partial states are pickled to a
      binary column, so only ``O(groups)`` bytes shuffle — the same reason
      Spark's own hash aggregate does map-side combine.  At 100 TB this is
      the difference between shuffling the table and shuffling a few KB
      per key.  ``Registry.sql``'s two-phase rewrite, :meth:`agg` and
      :meth:`accumulate_or_retract` all run this one fold.
  phase 2 (reduce side): a native ``collect_list`` of each key's states,
      then one vectorized pandas UDF per Arrow batch of groups that merges
      them with ``merge`` and applies ``finish``.

This exercises the reference's ``merge`` exactly the way its distributed
hosts do (partial + final agg).  Pickle-typed opaque state
(reference arrowudf.pickle, python/pyarrow.rs:296-313) is the native state
carrier here.

Retraction (A8): exposed as ``accumulate_or_retract(df, by, args, ops_col)``
— the reference host protocol's mixed-ops bitmap
(python/mod.rs:537-582): rows with ops=True are retracted instead of
accumulated.  The same callback is reused by the streaming layer for
sliding-window retraction.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass
from itertools import repeat
from typing import Any, Callable, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..plans.registry import GLOBAL, Registry, Signature
from ..plans.types import ExtField, parse_type

try:
    from pyspark.sql.pandas.functions import PandasUDFType

    _GROUPED_AGG = PandasUDFType.GROUPED_AGG
except ImportError:  # pragma: no cover
    _GROUPED_AGG = 201

__all__ = ["AggregateFunction", "udaf", "build_multi_fold"]


def build_multi_fold(
    udafs: Sequence["AggregateFunction"],
    by_n: int,
    arg_ns: Sequence[int],
    bp_kinds: Sequence[tuple],
    ops_idx: Optional[int] = None,
):
    """The map-side fold, phase 1 of every two-phase UDAF plan: the
    ``Registry.sql`` rewrite, :meth:`AggregateFunction.agg` and
    :meth:`AggregateFunction.accumulate_or_retract` all run it.

    Returns a ``mapInArrow`` function over a projection laid out as
    ``[group keys (by_n)] + [udaf-0 args] + ... + [one col per non-star
    built-in partial]`` that emits ONE row per (group, input partition):
    ``[keys] + [pickled state per udaf] + [built-in partial per bp]``.

    This replaces the ``collect_list(named_struct(...)) -> __pfold``
    phase-1 pipeline: the fold happens BEFORE any exchange, so only
    O(groups x partitions) small state rows cross the shuffle instead of
    every raw value re-packed as collected arrays — the scale-correct
    shape — and the per-row JVM struct boxing + Python dict unpacking of
    the pfold path disappears (measured ~0.6 s per 600k-row arm at
    sf0.1).

    ``bp_kinds`` entries are ``(kind, col_idx_or_None)`` with kind one of
    ``count_star | count | sum_int | min | max``.  Built-in partials are
    restricted by the caller to shapes that are EXACT under this fold:
    COUNT is a row count; SUM over integral types wraps in int64 exactly
    like Spark's long partial sum (merge order is irrelevant modulo
    2^64); MIN/MAX are order-free.  Order-sensitive partials (float/
    decimal SUM, AVG) never reach this path.

    ``ops_idx`` is the position of a boolean column (after the args): a
    row where it is true is retracted instead of accumulated, in row order
    (the reference's ops bitmap, A8), so ``accumulate_batch`` is not used.

    Group keys group as Spark's GROUP BY does (see :func:`_key_series`):
    a NULL key stays apart from a NaN key, and -0.0 joins 0.0.
    """
    import numpy as np
    import pyarrow as pa

    n_udafs = len(udafs)
    creates = [f.create_state for f in udafs]
    accs = [f.accumulate for f in udafs]
    rets = [f.retract for f in udafs]
    acc_bs = [f.accumulate_batch for f in udafs]
    arg_offs = []
    off = by_n
    for n in arg_ns:
        arg_offs.append(off)
        off += n
    bp_base = off

    def fold(batches):
        states: dict[tuple, list] = {}
        # per-bp accumulators: count -> int, sum_int -> int64, min/max -> value
        bps: dict[tuple, list] = {}
        out_schema = None
        for rb in batches:
            if out_schema is None:
                fields = [
                    pa.field(rb.schema.field(i).name, rb.schema.field(i).type)
                    for i in range(by_n)
                ] + [pa.field(f"__st{i}", pa.binary()) for i in range(n_udafs)]
                for j, (kind, ci) in enumerate(bp_kinds):
                    if kind in ("count_star", "count", "sum_int"):
                        t = pa.int64()
                    else:  # min / max keep the input type
                        t = rb.schema.field(ci).type
                    fields.append(pa.field(f"__bp{j}", t))
                out_schema = pa.schema(fields)
            if rb.num_rows == 0:
                continue
            if by_n:
                keys_pdf = pd.DataFrame(
                    {f"c{i}": _key_series(rb.column(i)) for i in range(by_n)}
                )
                groups = keys_pdf.groupby(
                    [f"c{i}" for i in range(by_n)], dropna=False, sort=False
                ).indices
            else:
                groups = {(): np.arange(rb.num_rows)}
            # one vectorized gather per column per BATCH, then contiguous
            # positional slices per group: per-group fancy indexing
            # (.iloc[idx], ~400 µs a call) made high-cardinality keys
            # pathological (~10k groups per 10k-row batch on the
            # decorrelated per-partkey fold); a slice is ~5 µs
            gkeys = list(groups)
            idx_list = [groups[key] for key in gkeys]
            order = np.concatenate(idx_list)
            bounds = np.cumsum([0] + [len(ix) for ix in idx_list])
            args_sorted = [
                _exact_series(rb.column(i))
                .take(order)
                .reset_index(drop=True)
                for i in range(by_n, bp_base)
            ]
            # python-value views for the tiny-group fast path: a pandas
            # slice + accumulate_batch costs ~50-100 µs even on 1 row, so
            # groups of a few rows fold through plain accumulate over
            # pre-extracted python values (~2 µs/row) — the UDAF contract
            # makes accumulate_batch ≡ repeated accumulate (pfold itself
            # picks between them by availability)
            args_lists = [s.tolist() for s in args_sorted]
            order_pa = pa.array(order, pa.int64())
            ops = (
                None
                if ops_idx is None
                else rb.column(ops_idx).take(order_pa).to_pylist()
            )
            bp_sorted = {
                j: rb.column(ci).take(order_pa)
                for j, (kind, ci) in enumerate(bp_kinds)
                if ci is not None
            }
            for gi, key in enumerate(gkeys):
                k = key if isinstance(key, tuple) else (key,)
                a0, a1 = int(bounds[gi]), int(bounds[gi + 1])
                sts = states.get(k)
                if sts is None:
                    sts = [c() for c in creates]
                    states[k] = sts
                    bps[k] = [None] * len(bp_kinds)
                for u in range(n_udafs):
                    base = arg_offs[u] - by_n
                    a_cols = range(base, base + arg_ns[u])
                    if ops is None and acc_bs[u] is not None and a1 - a0 > 8:
                        sts[u] = acc_bs[u](
                            sts[u], *[args_sorted[a].iloc[a0:a1] for a in a_cols]
                        )
                        continue
                    vals = [args_lists[a][a0:a1] for a in a_cols]
                    rows = zip(*vals) if vals else repeat((), a1 - a0)
                    flags = repeat(False) if ops is None else ops[a0:a1]
                    st = sts[u]
                    for retract, row in zip(flags, rows):
                        st = (rets[u] if retract else accs[u])(
                            st, *[None if _is_null(v) else v for v in row]
                        )
                    sts[u] = st
                bacc = bps[k]
                for j, (kind, ci) in enumerate(bp_kinds):
                    if kind == "count_star":
                        bacc[j] = (bacc[j] or 0) + (a1 - a0)
                        continue
                    valid = bp_sorted[j].slice(a0, a1 - a0).drop_null()
                    if kind == "count":
                        bacc[j] = (bacc[j] or 0) + len(valid)
                    elif len(valid) == 0:
                        continue  # all-NULL slice leaves the partial as is
                    elif kind == "sum_int":
                        s = np.add.reduce(
                            valid.to_numpy(zero_copy_only=False).astype(
                                np.int64, copy=False
                            )
                        )
                        prev = bacc[j]
                        bacc[j] = int(
                            np.int64(s)
                            if prev is None
                            else np.int64(prev) + np.int64(s)
                        )
                    else:
                        import pyarrow.compute as pc

                        mm = pc.min_max(valid)
                        v = mm["min" if kind == "min" else "max"].as_py()
                        prev = bacc[j]
                        if prev is None:
                            bacc[j] = v
                        elif kind == "min":
                            bacc[j] = v if v < prev else prev
                        else:
                            bacc[j] = v if v > prev else prev
        if out_schema is None:  # empty partition, schema unknown
            return
        keys = list(states)
        # pandas gives a non-float NULL key as NaN/NaT, which from_pandas
        # reads as NULL; a float NULL key is pd.NA (see _key_series), and
        # a float NaN key is a value
        cols = [
            pa.array(
                [_np_unbox(k[i]) for k in keys],
                type=out_schema.field(i).type,
                from_pandas=not pa.types.is_floating(out_schema.field(i).type),
            )
            for i in range(by_n)
        ]
        for u in range(n_udafs):
            cols.append(
                pa.array(
                    [pickle.dumps(states[k][u]) for k in keys], pa.binary()
                )
            )
        for j in range(len(bp_kinds)):
            cols.append(
                pa.array(
                    [bps[k][j] for k in keys],
                    type=out_schema.field(by_n + n_udafs + j).type,
                )
            )
        yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return fold


def _is_null(v) -> bool:
    # ``v is pd.NA`` must precede ``v != v``: pd.NA != pd.NA is pd.NA,
    # whose truthiness RAISES — the except branch then mis-reported NA as
    # non-null (masked-int .tolist() yields pd.NA, found by the r11 fold).
    # bool() inside the try: an array's ``v != v`` is an array, whose
    # truthiness raises too (list/map arguments of scalar UDFs)
    try:
        return bool(v is None or v is pd.NA or v != v)
    except Exception:
        return False


def _fold_series(st, acc, acc_b, *series: pd.Series):
    """Fold one pandas Series per argument into ``st``: ``accumulate_batch``
    when the aggregate defines it, else ``accumulate`` row by row with
    NULL/NaN passed as None.  A function of the protocol callables rather
    than a method, so a closure that calls it pickles without the
    :class:`AggregateFunction` (see :meth:`AggregateFunction.as_spark_pfold`)."""
    if acc_b is not None:
        return acc_b(st, *series)
    for row in zip(*[s.tolist() for s in series]):
        st = acc(st, *[None if _is_null(v) else v for v in row])
    return st


def _merge_finish(merge, finish, blobs):
    """Merge pickled partial states (NULL blobs skipped) and finish."""
    state = None
    for blob in blobs:
        if blob is None:
            continue
        s = pickle.loads(blob)
        state = s if state is None else merge(state, s)
    return finish(state) if finish is not None else state


#: Arrow int/float type id -> pandas masked dtype, for exact null-bearing batches
def _masked_dtype(t):
    import pyarrow as pa

    return {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
        pa.uint8(): pd.UInt8Dtype(),
        pa.uint16(): pd.UInt16Dtype(),
        pa.uint32(): pd.UInt32Dtype(),
        pa.uint64(): pd.UInt64Dtype(),
        pa.float32(): pd.Float32Dtype(),
        pa.float64(): pd.Float64Dtype(),
    }.get(t)


def _exact_series(col) -> pd.Series:
    """Arrow column -> pandas Series without lossy null coercion.

    int64-with-NULLs becomes masked ``Int64`` (all 64 bits intact) rather
    than float64, whose 53-bit mantissa silently corrupts large values
    (e.g. KMV hashes) before the aggregate ever sees them (ADVICE r4)."""
    import pyarrow as pa

    if col.null_count and pa.types.is_integer(col.type):
        return col.to_pandas(types_mapper=_masked_dtype)
    return col.to_pandas()


def _key_series(col) -> pd.Series:
    """Arrow group-key column -> pandas Series that groups as Spark's GROUP
    BY does.  Float keys turn -0.0 into 0.0, and with NULLs present take a
    masked dtype built from the Arrow null mask, so a NULL key (pd.NA)
    stays apart from a NaN key; plain float64 makes both NaN and merges
    them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not pa.types.is_floating(col.type):
        return _exact_series(col)
    col = pc.add(col, pa.scalar(0.0, col.type))  # IEEE: -0.0 + 0.0 is +0.0
    if col.null_count:
        return col.to_pandas(types_mapper=_masked_dtype)
    return col.to_pandas()


def _np_unbox(v):
    """numpy/pandas scalar group key -> plain python for ``pa.array``.  Only
    a NULL key (None, or pd.NA from a masked column) becomes None; a NaN
    key stays NaN."""
    if v is None or v is pd.NA:
        return None
    return v.item() if hasattr(v, "item") else v


@dataclass
class AggregateFunction:
    sig: Signature
    input_fields: tuple[ExtField, ...]
    result_field: ExtField
    create_state: Callable[[], Any]
    accumulate: Callable[..., Any]
    merge: Callable[[Any, Any], Any]
    retract: Optional[Callable[..., Any]] = None
    finish: Optional[Callable[[Any], Any]] = None
    #: optional vectorized fold: (state, *pandas.Series) -> state.  When
    #: present, phase 1 groups each Arrow batch with pandas and folds whole
    #: column slices instead of Python rows (~50x on numeric aggregates).
    accumulate_batch: Optional[Callable[..., Any]] = None

    # ------------------------------------------------------------------
    def as_spark_grouped_agg(self):
        """SQL surface: wrap the 5-phase protocol as a pandas GROUPED_AGG
        UDF so ``SELECT f(x) ... GROUP BY`` works after ``register_sql``
        (the reference's hosts call aggregates from SQL the same way).

        The whole group arrives as Series; accumulate_batch (or the row
        fold) runs once, then finish.  Spark does not split GROUPED_AGG
        into partials — for the distributed two-phase plan use
        :meth:`agg`; this path is the SQL-compatibility surface.

        SCALE WARNING (emitted once per aggregate at wrap time): Spark
        ships every row of a group to a single Python worker for
        GROUPED_AGG — there is no map-side combine, so a hot key at large
        scale concentrates the whole group's rows on one task.  The
        DataFrame :meth:`agg` path shuffles only O(groups) pickled partial
        states and is the one to use in pipelines.

        The wrapped UDF is memoized per instance, so the warning really
        does fire once per aggregate — not once per ``register_sql``
        call (the suite calls it from many tests/queries).
        """
        cached = getattr(self, "_grouped_agg_cache", None)
        if cached is not None:
            return cached
        import warnings

        warnings.warn(
            f"aggregate '{self.sig.name}' registered for SQL via GROUPED_AGG: "
            "a raw spark.sql() call evaluates this without partial "
            "aggregation (every row of a group moves to one worker). Run SQL "
            "through Registry.sql(spark, query) — it rewrites bare aggregate "
            "calls to the salted two-phase __partial/__merge plan — or use "
            "the DataFrame AggregateFunction.agg(df, by=..., args=...) path.",
            RuntimeWarning,
            stacklevel=2,
        )
        create, acc, acc_b, finish = (
            self.create_state,
            self.accumulate,
            self.accumulate_batch,
            self.finish,
        )

        def agg_fn(*series):
            st = _fold_series(create(), acc, acc_b, *series)
            return finish(st) if finish is not None else st

        agg_fn.__name__ = self.sig.name
        udf = pandas_udf(
            agg_fn, returnType=self.result_field.dtype, functionType=_GROUPED_AGG
        )
        self._grouped_agg_cache = udf
        return udf

    # ------------------------------------------------------------------
    def as_spark_grouped_agg_partial(self):
        """SQL two-phase surface, phase 1: fold a group slice into ONE
        pickled state (BinaryType).  Pair with
        :meth:`as_spark_grouped_agg_merge` in a salted two-level GROUP BY::

            SELECT k, f__merge(p) FROM (
                SELECT k, f__partial(x) AS p
                FROM t GROUP BY k, pmod(hash(x), 32)
            ) GROUP BY k

        Scale posture vs the single-phase GROUPED_AGG surface: a hot key's
        rows split across the 32 salt buckets (no single Python worker
        receives the whole group), and the outer aggregation moves only
        O(groups x 32) pickled states.  The one inherent cost SQL can't
        avoid — Python aggregates get no JVM map-side combine, so rows
        shuffle once either way — is shared with every GROUP BY surface;
        the DataFrame :meth:`agg` path (map-side ``mapInArrow`` partials,
        zero row shuffle) remains the pipeline-grade option.
        """
        create, acc, acc_b = self.create_state, self.accumulate, self.accumulate_batch

        def partial_fn(*series):
            return pickle.dumps(_fold_series(create(), acc, acc_b, *series))

        partial_fn.__name__ = f"{self.sig.name}__partial"
        return pandas_udf(
            partial_fn, returnType=T.BinaryType(), functionType=_GROUPED_AGG
        )

    def as_spark_grouped_agg_merge(self):
        """SQL two-phase surface, phase 2: merge pickled partial states and
        finish (see :meth:`as_spark_grouped_agg_partial`)."""
        merge, finish = self.merge, self.finish

        def merge_fn(blobs):
            return _merge_finish(merge, finish, blobs)

        merge_fn.__name__ = f"{self.sig.name}__merge"
        return pandas_udf(
            merge_fn, returnType=self.result_field.dtype, functionType=_GROUPED_AGG
        )

    # ------------------------------------------------------------------
    def as_spark_pfold(self):
        """SQL two-phase surface, phase-1 VECTORIZED form (r10 perf): a
        scalar pandas UDF over ``collect_list(named_struct(...))`` rows.

        The GROUPED_AGG ``__partial`` surface costs one Python UDF
        invocation per (group, salt) — on a high-cardinality key that is
        O(K·S) calls of ~1 row each, pure per-call overhead (measured:
        sql_agg_correlated_two_phase's inner per-partkey agg, see
        OPTIMIZATION_r10.md).  Here the grouping itself runs as a NATIVE
        ``collect_list`` aggregate (map-side partial_collect_list, whole
        stage codegen) and Python sees whole Arrow batches of groups —
        one invocation per ~10k groups instead of one per group.  The
        fold inside is the same accumulate/accumulate_batch the
        ``__partial`` path runs, so the state stream is semantically
        identical; struct-wrapping the args preserves NULLs
        (``collect_list`` drops bare NULL elements, never structs).

        NOT memoized on the instance: a used pandas_udf wrapper holds a
        JVM handle, and streaming closures (streaming_running_agg)
        pickle the AggregateFunction — a cached wrapper attribute makes
        the instance unpicklable (found by the r10 replica sweep).
        """
        create, acc, acc_b = self.create_state, self.accumulate, self.accumulate_batch
        # the row loop reads object Series: an inferred one turns a
        # NULL-bearing int64 column into float64, losing bits above 2^53
        dtype = None if acc_b is not None else object

        def pfold_fn(vals: pd.Series) -> pd.Series:
            out = []
            for arr in vals:
                st = create()
                if arr is not None and len(arr) > 0:
                    ks = [f"a{i}" for i in range(len(arr[0]))]
                    st = _fold_series(
                        st,
                        acc,
                        acc_b,
                        *[pd.Series([r[k] for r in arr], dtype=dtype) for k in ks],
                    )
                out.append(pickle.dumps(st))
            return pd.Series(out, dtype=object)

        pfold_fn.__name__ = f"{self.sig.name}__pfold"
        return pandas_udf(pfold_fn, returnType=T.BinaryType())

    def as_spark_mergevec(self):
        """Phase-2 VECTORIZED form (r10 perf): scalar pandas UDF over
        ``collect_list(<pickled state>)`` rows — merge + finish for a whole
        Arrow batch of groups per Python invocation, replacing the
        per-group GROUPED_AGG ``__merge`` call (and the per-group
        ``applyInPandas`` call of the DataFrame :meth:`agg` path).  Merge
        order over the collected states is arbitrary exactly as it is for
        the GROUPED_AGG/applyInPandas surfaces — the UDAF contract makes
        merge commutative+associative, so the result is unchanged.

        NOT memoized on the instance (see :meth:`as_spark_pfold`)."""
        merge, finish = self.merge, self.finish

        def mergevec_fn(blob_lists: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    _merge_finish(merge, finish, () if blobs is None else blobs)
                    for blobs in blob_lists
                ],
                dtype=object,
            )

        mergevec_fn.__name__ = f"{self.sig.name}__mergevec"
        return pandas_udf(mergevec_fn, returnType=self.result_field.dtype)

    # ------------------------------------------------------------------
    def agg(
        self,
        df: DataFrame,
        by: Sequence[str],
        args: Sequence[str],
        _ops_col: Optional[str] = None,
    ) -> DataFrame:
        """Distributed grouped aggregation: ``by`` key cols, ``args`` inputs.

        Phase 1 is :func:`build_multi_fold`, the same map-side ``mapInArrow``
        fold the ``Registry.sql`` rewrite and :meth:`accumulate_or_retract`
        run (``_ops_col`` is the latter's retract column); phase 2 merges
        each key's pickled states and finishes them."""
        by = list(by)
        args = list(args)
        knames = [f"k{i}" for i in range(len(by))]
        proj = df.select(
            *[F.col(c).alias(k) for c, k in zip(by, knames)],
            *args,
            *([_ops_col] if _ops_col else []),
        )
        phase1_schema = T.StructType(
            [T.StructField(k, df.schema[c].dataType) for c, k in zip(by, knames)]
            + [T.StructField("__st0", T.BinaryType())]
        )
        fold = build_multi_fold(
            [self],
            len(by),
            [len(args)],
            (),
            ops_idx=len(by) + len(args) if _ops_col else None,
        )
        partials = proj.mapInArrow(fold, schema=phase1_schema)

        # merge+finish VECTORIZED (r10 perf): a native collect_list of the
        # O(partitions)-bounded pickled states per key (map-side partial,
        # codegen) and ONE scalar pandas UDF invocation per Arrow batch of
        # groups — applyInPandas called Python once per group, which at
        # high key cardinality is pure per-call overhead.  State merge
        # order stays arbitrary (UDAF contract: commutative+associative).
        result = (
            partials.groupBy(*knames)
            .agg(F.collect_list("__st0").alias("__aus_states"))
            .select(
                *knames,
                self.as_spark_mergevec()(F.col("__aus_states")).alias(
                    self.sig.name
                ),
            )
        )
        # restore user-facing key column names
        renames = dict(zip(knames, by))
        return result.select(
            *[F.col(k).alias(renames[k]) for k in knames], F.col(self.sig.name)
        )

    def agg_all(self, df: DataFrame, args: Sequence[str]) -> DataFrame:
        """Global (ungrouped) aggregate -> single-row DataFrame."""
        with_key = df.withColumn("__g", F.lit(0))
        out = self.agg(with_key, ["__g"], args)
        return out.drop("__g")

    def accumulate_or_retract(
        self, df: DataFrame, by: Sequence[str], args: Sequence[str], ops_col: str
    ) -> DataFrame:
        """Mixed accumulate/retract batch (reference ops bitmap, A8).

        Rows where ``ops_col`` is true are retracted (inverse-folded).  It
        runs :meth:`agg`, so retraction happens in the same map-side fold
        (:func:`build_multi_fold`) as ``.agg`` and the ``Registry.sql``
        rewrite.
        """
        if self.retract is None:
            raise ValueError(f"aggregate {self.sig.name} does not define retract")
        return self.agg(df, by, args, _ops_col=ops_col)


def udaf(
    input_types: Sequence[str] | str = (),
    result_type: str = "null",
    state_type: str = "pickle",
    name: Optional[str] = None,
    registry: Registry = GLOBAL,
) -> Callable[[type], AggregateFunction]:
    """Declare an aggregate from a class with the 5-phase protocol::

        @udaf(input_types=["int"], result_type="int", name="sum_udaf")
        class Sum:
            def create_state(self): return 0
            def accumulate(self, s, x): return s + (x or 0)
            def retract(self, s, x): return s - (x or 0)
            def merge(self, a, b): return a + b
            # finish optional
    """
    if isinstance(input_types, str):
        input_types = [input_types]

    def deco(cls: type) -> AggregateFunction:
        inst = cls()
        # registration-time validation from the reference runtime
        # (python/mod.rs:305): with no finish(), the state IS the output,
        # so a declared Arrow state type must equal the result type.  The
        # default "pickle" state is opaque and exempt (the reference's
        # pickled-state mode, pyarrow.rs:296-313).
        if getattr(inst, "finish", None) is None and state_type != "pickle":
            # compare NORMALIZED types, not raw strings: alias pairs like
            # 'time'/'time64' or 'date'/'date32' are logically equal and
            # must not raise, while textual equality of unnormalized
            # spellings is not the contract (ADVICE r3)
            st, rt = parse_type(state_type), parse_type(result_type)
            if st.dtype != rt.dtype or st.ext != rt.ext:
                raise ValueError(
                    "`output_type` must be the same as `state_type` "
                    "when `finish` is not defined"
                )
        af = AggregateFunction(
            sig=Signature(
                name=name or cls.__name__.lower(),
                arg_types=tuple(input_types),
                return_type=result_type,
                kind="aggregate",
            ),
            input_fields=tuple(parse_type(t) for t in input_types),
            result_field=parse_type(result_type),
            create_state=inst.create_state,
            accumulate=inst.accumulate,
            merge=inst.merge,
            retract=getattr(inst, "retract", None),
            finish=getattr(inst, "finish", None),
            accumulate_batch=getattr(inst, "accumulate_batch", None),
        )
        registry.add(af)
        return af

    return deco
