"""Scalar UDF evaluation core.

This is the Spark-native re-expression of the reference's scalar protocol
(reference: arrow-udf/src/lib.rs:30 ``fn(&RecordBatch)->RecordBatch``; row
loop arrow-udf-macros/src/codegen_utils.rs:569-577; batched/columnar mode
arrow-udf-runtime/src/javascript/mod.rs:536-625 and python server
``batch=True`` arrow-udf-remote/python/arrow_udf/__init__.py:51-96).

Design (SURVEY.md §2.A A1-A4, A11, A12):

- Functions execute as **pandas UDFs** — Arrow-batched, vectorized transfer
  between the JVM and the Python worker.  This is Spark's analogue of the
  reference's FFI / Flight boundary, and its fastest Python path.
- ``batch=True`` functions receive whole :class:`pandas.Series` columns
  (the reference's batched/columnar mode, A11); ``batch=False`` functions
  are called once per row (the reference's default row loop, A1) inside the
  worker, still amortized over Arrow batches.
- ``CallMode.RETURN_NULL_ON_NULL_INPUT`` masks null rows *before* the call
  and re-inserts nulls after (the reference's batched-mode null mask,
  javascript/mod.rs:568-618).
- Fallible functions (declared ``fallible=True``, the analogue of a Rust
  ``Result<T>`` return — codegen_utils.rs:398-414) produce a
  ``struct<value: T, error: string>`` column: per-row errors yield NULL
  value + message text, and never abort the batch.  Spark has no native
  row-level UDF error channel; this wrapper is that channel.
- ``io_threads=N`` maps each batch over a thread pool (reference python
  server ``io_threads``, __init__.py:75-87) for IO-bound row functions.
- ``async def`` functions (the reference's async mode, A12,
  javascript/mod.rs:954-974) run each batch on one event loop: a pool of
  ``io_threads`` (default 64) worker coroutines drains the rows and writes
  each result at its row's position, so output stays in row order.  There
  is no Task per row; a per-call ``timeout`` starts when the call starts.

Serialization note: the closure shipped to executors captures only an
:class:`_EvalSpec` of plain picklable values (the user fn via cloudpickle,
flags, the return DataType) — never the :class:`ScalarFunction` itself,
which holds JVM handles.
"""

from __future__ import annotations

import enum
import inspect
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeout
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, NamedTuple, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

try:  # explicit SCALAR eval type (hint inference can't see through our wrapper)
    from pyspark.sql.pandas.functions import PandasUDFType

    _SCALAR_EVAL = PandasUDFType.SCALAR
except ImportError:  # pragma: no cover
    _SCALAR_EVAL = 200

from ..plans.registry import GLOBAL, Registry, Signature
from ..plans.types import ExtField, expand_signature, parse_type, struct_to_row

__all__ = ["CallMode", "ScalarFunction", "udf"]


class CallMode(enum.Enum):
    """Reference arrow-udf-runtime/src/lib.rs:19-29."""

    CALLED_ON_NULL_INPUT = "called_on_null_input"
    RETURN_NULL_ON_NULL_INPUT = "return_null_on_null_input"


def _is_null(v: Any) -> bool:
    # covers None, float('nan'), pandas NA/NaT without importing numpy paths
    try:
        return v is None or v != v or v is pd.NA
    except Exception:
        return False


_INT_DTYPES = {
    T.ByteType: ("int8", "Int8"),
    T.ShortType: ("int16", "Int16"),
    T.IntegerType: ("int32", "Int32"),
    T.LongType: ("int64", "Int64"),
}


def _coerce(result: Any, dtype: T.DataType, n: int) -> pd.Series:
    """Coerce a user return (Series | list | scalar) to a pandas Series
    whose dtype round-trips cleanly through Arrow into ``dtype``."""
    if isinstance(result, pd.Series):
        s = result.reset_index(drop=True)
    elif isinstance(result, (list, tuple)):
        s = pd.Series(list(result), dtype="object")
    else:  # broadcast scalar (e.g. zero-arg functions)
        s = pd.Series([result] * n, dtype="object")
    for cls, (plain, nullable) in _INT_DTYPES.items():
        if isinstance(dtype, cls):
            try:
                return s.astype(plain if not s.isna().any() else nullable)
            except (TypeError, ValueError):
                return s
    if isinstance(dtype, T.DoubleType):
        try:
            return s.astype("float64")
        except (TypeError, ValueError):
            return s
    if isinstance(dtype, T.FloatType):
        try:
            return s.astype("float32")
        except (TypeError, ValueError):
            return s
    return s


class _EvalSpec(NamedTuple):
    """Everything the executor-side wrapper needs; all picklable."""

    fn: Callable
    dtype: T.DataType
    batch: bool
    fallible: bool
    skip_null: bool  # True for RETURN_NULL_ON_NULL_INPUT
    io_threads: Optional[int]
    timeout: Optional[float] = None  # per-call deadline in seconds (A21)
    # per-call memory cap in bytes (A21 second half, reference QuickJS
    # set_memory_limit javascript/mod.rs:229-231 / wasm StoreLimits
    # wasm/mod.rs:358-371): the batch is evaluated in a forked child under
    # RLIMIT_AS; a row whose allocations blow the cap raises MemoryError in
    # the child and becomes an error row — the executor never OOMs
    memory_limit: Optional[int] = None
    # zero-arg function: Spark pandas UDFs need >=1 column, so the caller
    # passes a dummy column that only provides the batch length
    nullary: bool = False
    # coroutine function: rows of a batch run concurrently on one event
    # loop (reference A12 async mode, javascript/mod.rs:954-974).  A pool of
    # io_threads (default 64) worker coroutines drains the batch's rows and
    # writes results in row order; there is no Task per row
    is_async: bool = False
    # error-column text convention: "message" = bare str(e) (the Rust macro
    # runtime's Display texts, e.g. "division by zero", tests/tests.rs:389),
    # "pyerr" = "Type: message" (PyO3's PyErr Display used by the embedded
    # Python runtime, python/mod.rs:374 e.to_string() — e.g.
    # "TypeError: neg() takes 1 positional argument but 2 were given")
    error_style: str = "message"


def _format_error(style: str) -> Callable[[BaseException], str]:
    """Error-column renderer for a given convention (see _EvalSpec)."""
    if style == "pyerr":
        return lambda e: f"{type(e).__name__}: {e}"
    return str


def _eval_rows(
    spec: _EvalSpec, cols: Sequence[pd.Series], n: int
) -> tuple[list, Optional[pd.Series]]:
    lists = [c.tolist() for c in cols]
    rows = list(zip(*lists)) if lists else [()] * n
    fn = spec.fn
    if spec.batch:
        # row-wise fallback of a batch fn: call on length-1 Series
        user = spec.fn

        def fn(*args):  # noqa: ANN001
            return user(*(pd.Series([a]) for a in args)).iloc[0]

    fmt = _format_error(spec.error_style)

    def call_one(args: tuple) -> tuple[Any, Optional[str]]:
        try:
            return fn(*(None if _is_null(a) else a for a in args)), None
        except MemoryError:  # A21 cap tripped (str(MemoryError()) is empty)
            return None, "memory limit exceeded"
        except Exception as e:  # row-level isolation, never abort the batch
            return None, fmt(e)

    if spec.is_async:
        import asyncio

        # the workers share one row iterator, so each row is called exactly
        # once, and write at the row's index, so results stay in row order
        results: list[tuple[Any, Optional[str]]] = [(None, None)] * len(rows)

        async def worker(todo: Iterator[tuple[int, tuple]]) -> None:
            for i, args in todo:
                try:
                    coro = fn(*(None if _is_null(a) else a for a in args))
                    if spec.timeout is not None:
                        results[i] = await asyncio.wait_for(coro, spec.timeout), None
                    else:
                        results[i] = await coro, None
                except asyncio.TimeoutError:
                    results[i] = None, "timeout"
                except Exception as e:
                    results[i] = None, fmt(e)

        async def run_all() -> None:
            todo = iter(enumerate(rows))
            workers = min(spec.io_threads or 64, len(rows))
            await asyncio.gather(*(worker(todo) for _ in range(workers)))

        asyncio.run(run_all())
    elif spec.timeout is not None:
        # per-call deadline (reference A21, javascript/mod.rs:245-260):
        # run each row on a watchdog pool; late rows become error rows.
        # The worker thread is not killed (CPython can't), but the batch
        # stops waiting for it: the pool is shut down without waiting and
        # with pending futures cancelled, so a wedged call leaks only its
        # one thread instead of blocking the executor task.  Deadlines are
        # measured from a shared batch start so n sequential waits cannot
        # compound to n*timeout.
        import time as _time
        from concurrent.futures import CancelledError

        workers = spec.io_threads or 1
        pool = ThreadPoolExecutor(max_workers=workers)
        try:
            futures = [pool.submit(call_one, r) for r in rows]
            # shared batch deadline: the legitimate budget is one timeout per
            # execution wave (ceil(n/workers)); waits on individual futures
            # overlap against it, so a single wedged call cannot make the
            # batch wait n*timeout.
            waves = -(-len(rows) // workers)
            deadline = _time.monotonic() + spec.timeout * waves
            results = []
            for f in futures:
                remaining = deadline - _time.monotonic()
                try:
                    results.append(f.result(timeout=max(0.0, remaining)))
                except (FuturesTimeout, TimeoutError, CancelledError):
                    results.append((None, "timeout"))
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
    elif spec.io_threads and spec.io_threads > 1:
        with ThreadPoolExecutor(max_workers=spec.io_threads) as pool:
            results = list(pool.map(call_one, rows))
    else:
        results = [call_one(r) for r in rows]
    values = [v for v, _ in results]
    errs = [e for _, e in results]
    errors = (
        pd.Series(errs, dtype="object") if any(e is not None for e in errs) else None
    )
    if not spec.fallible and errors is not None:
        # non-fallible function raised: surface the first error loudly,
        # matching Spark (and reference non-Result) behavior
        first = next(e for e in errs if e is not None)
        raise RuntimeError(first)
    return values, errors


def _vm_bytes() -> int:
    """Current virtual size of this process (Linux /proc)."""
    try:
        with open("/proc/self/statm") as f:
            pages = int(f.read().split()[0])
        import os

        return pages * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return 1 << 31  # unknown baseline: leave 2 GiB headroom


def _eval_memcapped(
    spec: _EvalSpec, cols: Sequence[pd.Series], n: int
) -> tuple[Any, Optional[pd.Series]]:
    """Run the batch in a forked child under ``RLIMIT_AS = current + cap``.

    Fork (not spawn) so the function and columns transfer by page sharing —
    no pickling of inputs; only the (values, errors) result crosses the
    pipe.  Per-row isolation comes from the row loop's existing try/except:
    a row whose allocations exceed the cap gets MemoryError -> error row.
    If the child dies outright (C-level abort), every row of the batch
    becomes an error row — the batch never kills the executor.
    """
    import os
    import pickle
    import resource

    inner = spec._replace(memory_limit=None)
    r_fd, w_fd = os.pipe()
    pid = os.fork()
    if pid == 0:  # child
        code = 1
        try:
            os.close(r_fd)
            cap = _vm_bytes() + spec.memory_limit
            # soft = cap; keep whatever hard limit the environment already
            # imposes (a finite container hard limit cannot be raised, and
            # asking for RLIM_INFINITY there is EPERM — which would turn
            # every capped batch into error rows).  The child lifts its own
            # soft limit back before pickling the (possibly large) result.
            saved_soft, saved_hard = resource.getrlimit(resource.RLIMIT_AS)
            soft = cap if saved_hard == resource.RLIM_INFINITY else min(cap, saved_hard)
            resource.setrlimit(resource.RLIMIT_AS, (soft, saved_hard))
            values, errors = _eval_clean(inner, cols, n)
            # Series/DataFrame pickle natively; list(DataFrame) would yield
            # its column labels — only listify opaque iterables.  The
            # listify still runs UNDER the cap (it may drive a user
            # generator); serialization of the already-materialized result
            # runs after the soft limit is restored, so a legitimately
            # large result doesn't MemoryError inside pickling and get
            # misreported as over-limit.
            if not isinstance(values, (list, pd.Series, pd.DataFrame)):
                values = list(values)
            if errors is not None:
                errors = list(errors)
            resource.setrlimit(resource.RLIMIT_AS, (saved_soft, saved_hard))
            payload = pickle.dumps((values, errors))
            with os.fdopen(w_fd, "wb") as w:
                w.write(payload)
            code = 0
        except BaseException:  # noqa: BLE001 — child must never re-raise
            pass
        finally:
            os._exit(code)
    os.close(w_fd)
    with os.fdopen(r_fd, "rb") as r:
        data = r.read()
    _, status = os.waitpid(pid, 0)
    if data and status == 0:
        values, errors = pickle.loads(data)
        return values, (None if errors is None else pd.Series(errors, dtype="object"))
    # the child died without delivering results.  Signal death (segfault in
    # a C extension, SIGKILL from the kernel OOM killer) is the reference's
    # wasm fault-injection scenario (tests/wasm.rs:33-70 segfault/oom
    # probes): the fork boundary contains it to this batch — the executor
    # and its Python worker survive.
    if os.WIFSIGNALED(status):
        msg = f"worker crashed: signal {os.WTERMSIG(status)}"
    else:
        msg = "memory limit exceeded"
    if not spec.fallible:
        raise MemoryError(
            f"{spec.fn.__name__}: {msg} "
            f"(per-call limit {spec.memory_limit} bytes)"
        )
    return [None] * n, pd.Series([msg] * n, dtype="object")


def _eval_clean(
    spec: _EvalSpec, cols: Sequence[pd.Series], n: int
) -> tuple[Any, Optional[pd.Series]]:
    """Evaluate on (possibly pre-masked) columns; return (values, errors)."""
    if spec.memory_limit is not None:
        return _eval_memcapped(spec, cols, n)
    if spec.batch:
        if not spec.fallible:
            return spec.fn(*cols), None
        try:
            res = spec.fn(*cols)
        except Exception:
            # vectorized fast path failed -> re-run row-wise to isolate errors
            return _eval_rows(spec, cols, n)
        if isinstance(res, pd.DataFrame) and {"value", "error"}.issubset(res.columns):
            # vectorized-fallible protocol: the batch fn computed the error
            # column itself (masked numpy arithmetic), so bad rows never
            # raise and the whole batch stays on the fast path.  Mirrors the
            # reference's batched Result mode.
            errs = res["error"].astype(object).where(res["error"].notna(), None)
            has = errs.notna().any()
            return res["value"].reset_index(drop=True), (
                errs.reset_index(drop=True) if has else None
            )
        return res, None
    return _eval_rows(spec, cols, n)


def _eval_batch(spec: _EvalSpec, *cols: pd.Series) -> pd.Series | pd.DataFrame:
    """The executor-side batch evaluator (one Arrow batch per call)."""
    # struct-typed arguments arrive as pandas DataFrames; normalize to a
    # Series of dicts so row functions see plain values
    cols = tuple(
        pd.Series(c.to_dict("records")) if isinstance(c, pd.DataFrame) else c
        for c in cols
    )
    n = len(cols[0]) if cols else 0
    if spec.nullary:
        # dummy column carries only the batch length
        values, errors = _eval_clean(spec._replace(nullary=False), (), n)
        out = _coerce(values, spec.dtype, n)
        if spec.fallible:
            if errors is None:
                errors = pd.Series([None] * n, dtype="object")
            return pd.DataFrame({"value": out, "error": errors})
        return out

    null_mask = None
    work_cols = cols
    if spec.skip_null and cols:
        null_mask = cols[0].isna()
        for c in cols[1:]:
            null_mask = null_mask | c.isna()
        if null_mask.any():
            work_cols = tuple(c[~null_mask].reset_index(drop=True) for c in cols)
        else:
            null_mask = None

    m = len(work_cols[0]) if work_cols else n
    values, errors = _eval_clean(spec, work_cols, m)
    if isinstance(values, pd.DataFrame):
        # batch struct contract: the fn returned a DataFrame of field
        # columns; normalize to a Series of row dicts so null-mask
        # reinsertion and _coerce treat it row-wise (a bare DataFrame would
        # be broadcast as a single opaque scalar)
        values = pd.Series(values.to_dict("records"))

    out = _coerce(values, spec.dtype, m)
    if null_mask is not None:
        # re-insert nulls at masked positions
        full = pd.Series([None] * n, dtype="object")
        full[~null_mask.to_numpy()] = out.to_numpy(dtype="object")
        out = _coerce(full, spec.dtype, n)
        if errors is not None:
            full_e = pd.Series([None] * n, dtype="object")
            full_e[~null_mask.to_numpy()] = errors.to_numpy(dtype="object")
            errors = full_e

    if spec.fallible:
        if errors is None:
            errors = pd.Series([None] * len(out), dtype="object")
        return pd.DataFrame({"value": out, "error": errors})
    if isinstance(spec.dtype, T.StructType):
        # pandas-UDF struct contract: return a DataFrame of field columns.
        # Accepts dicts or registered @struct_type class instances (reference
        # class-or-dict returns, tests/python.rs:489-569).  An outer-NULL
        # struct degrades to all-NULL fields (pandas limitation).
        names = [f.name for f in spec.dtype.fields]
        return pd.DataFrame(
            [struct_to_row(v, names) for v in out.tolist()],
            columns=names,
        )
    return out


def _make_wrapper(spec: _EvalSpec, name: str) -> Callable:
    """Build the plain function handed to pandas_udf (captures only spec)."""

    def eval_fn(*cols):
        return _eval_batch(spec, *cols)

    eval_fn.__name__ = name
    return eval_fn


@dataclass
class ScalarFunction:
    """A registered scalar function; calling it on Columns yields a Column."""

    fn: Callable
    sig: Signature
    input_fields: tuple[ExtField, ...]
    result_field: ExtField
    batch: bool = False
    fallible: bool = False
    mode: CallMode = CallMode.CALLED_ON_NULL_INPUT
    io_threads: Optional[int] = None
    timeout: Optional[float] = None
    #: per-call memory cap in bytes (A21); see _eval_memcapped
    memory_limit: Optional[int] = None
    # volatile fns (reference macro attr `volatile`, arrow-udf-macros/src/
    # lib.rs:297-330) must not be constant-folded / CSE'd by Catalyst
    volatile: bool = False
    # "message" (Rust-runtime bare texts) | "pyerr" (PyO3 "Type: message")
    error_style: str = "message"
    _udf: Any = field(default=None, repr=False, compare=False)

    def _spec(self) -> _EvalSpec:
        is_async = inspect.iscoroutinefunction(self.fn)
        return _EvalSpec(
            fn=self.fn,
            dtype=self.result_field.dtype,
            # a coroutine fn is always row-wise: the batch path would return
            # an un-awaited coroutine instead of a Series
            batch=self.batch and not is_async,
            fallible=self.fallible,
            skip_null=self.mode is CallMode.RETURN_NULL_ON_NULL_INPUT,
            io_threads=self.io_threads,
            timeout=self.timeout,
            memory_limit=self.memory_limit,
            nullary=not self.input_fields,
            is_async=is_async,
            error_style=self.error_style,
        )

    def _eval(self, *cols: pd.Series):
        """Driver-side direct evaluation (used by unit tests)."""
        return _eval_batch(self._spec(), *cols)

    # ---- Spark surface ----

    @property
    def spark_return_type(self) -> T.DataType:
        if self.fallible:
            return T.StructType(
                [
                    T.StructField("value", self.result_field.dtype),
                    T.StructField("error", T.StringType()),
                ]
            )
        return self.result_field.dtype

    def as_spark_udf(self):
        if self._udf is None:
            u = pandas_udf(
                _make_wrapper(self._spec(), self.sig.name),
                returnType=self.spark_return_type,
                functionType=_SCALAR_EVAL,
            )
            # error-capturing / masked UDFs must not be re-executed or
            # common-subexpression'd by Catalyst (SURVEY.md §7.9d)
            if self.fallible or self.volatile:
                u = u.asNondeterministic()
            self._udf = u
        return self._udf

    def __call__(self, *cols: Column | str) -> Column:
        cs = [F.col(c) if isinstance(c, str) else c for c in cols]
        if not self.input_fields and not cs:
            cs = [F.lit(0)]  # dummy batch-length carrier for nullary fns
        out = self.as_spark_udf()(*cs)
        return out.alias(self.sig.name)

    def value_and_error(self, *cols: Column | str) -> tuple[Column, Column]:
        """For fallible functions: (value, error) column pair from one eval.

        NOTE: projecting both fields in the SAME select duplicates the
        (nondeterministic, hence non-CSE'd) UDF — ExtractPythonUDFs emits
        ``ArrowEvalPython [f(...), f(...)]`` and pays 2x eval + transfer.
        Hot paths should use :meth:`apply` instead, which materializes the
        struct in its own projection so the function runs exactly once.
        """
        s = self(*cols)
        return s.getField("value").alias(self.sig.name), s.getField("error").alias(
            "error"
        )

    def apply(
        self,
        df: DataFrame,
        cols: Sequence[Column | str],
        passthrough: Sequence[str] = (),
        value_alias: Optional[str] = None,
        error_alias: str = "error",
    ) -> DataFrame:
        """Evaluate over ``df`` with single-eval guarantees.

        Fallible functions come back as two columns (value, error) projected
        from ONE evaluation: the struct lands in its own projection and the
        fields are split in a second one — CollapseProject refuses to merge
        them because the UDF is nondeterministic, so the plan keeps exactly
        one ``ArrowEvalPython`` entry.  Non-fallible functions are a plain
        single-column select.
        """
        name = value_alias or self.sig.name
        out = self(*cols)
        if not self.fallible:
            return df.select(*passthrough, out.alias(name))
        staged = df.select(*passthrough, out.alias("__res"))
        return staged.select(
            *passthrough,
            F.col("__res.value").alias(name),
            F.col("__res.error").alias(error_alias),
        )


def udf(
    input_types: Sequence[str] | str = (),
    result_type: str = "null",
    name: Optional[str] = None,
    batch: bool = False,
    fallible: bool = False,
    mode: CallMode = CallMode.CALLED_ON_NULL_INPUT,
    io_threads: Optional[int] = None,
    timeout: Optional[float] = None,
    memory_limit: Optional[int] = None,
    volatile: bool = False,
    variadic: bool = False,
    error_style: str = "message",
    registry: Registry = GLOBAL,
) -> Callable[[Callable], ScalarFunction]:
    """Declare a scalar function (reference ``#[function("name(t,..)->t")]``).

    Wildcard types (``int*``, ``float*``, ``number*``) expand into one
    registered overload per concrete type, all sharing the implementation
    (reference signature expansion, arrow-udf-macros/src/parse.rs:24-100).
    The returned handle is the first expansion.

    Example::

        @udf(input_types=["int", "int"], result_type="int", batch=True)
        def gcd(a: pd.Series, b: pd.Series) -> pd.Series: ...

    When ``result_type`` is omitted, it is inferred from the function's
    return annotation for plain Python types (the reference's ``type_infer``
    registration knob, arrow-udf-macros/src/parse.rs:71-97):
    ``int -> int64``, ``float -> float64``, ``str -> string``,
    ``bool -> boolean``, ``bytes -> binary``.
    """
    if isinstance(input_types, str):
        input_types = [input_types]
    if io_threads is not None and io_threads < 0:
        # a negative cap would leave an async fn's worker pool empty
        raise ValueError(f"io_threads must be >= 0, got {io_threads}")

    _PY_TYPES = {int: "int64", float: "float64", str: "string",
                 bool: "boolean", bytes: "binary"}

    def deco(fn: Callable) -> ScalarFunction:
        fname = name or fn.__name__
        res = result_type
        if res == "null":  # infer from the return annotation (type_infer)
            ann = getattr(fn, "__annotations__", {}).get("return")
            if ann in _PY_TYPES:
                res = _PY_TYPES[ann]
            elif isinstance(ann, str) and ann in (
                "int", "float", "str", "bool", "bytes"
            ):
                res = _PY_TYPES[{"int": int, "float": float, "str": str,
                                 "bool": bool, "bytes": bytes}[ann]]
        first: Optional[ScalarFunction] = None
        for ins, res_t in expand_signature(list(input_types), res):
            sf = ScalarFunction(
                fn=fn,
                sig=Signature(
                    name=fname,
                    arg_types=tuple(ins),
                    return_type=res_t,
                    variadic=variadic,
                    kind="scalar",
                ),
                input_fields=tuple(parse_type(t) for t in ins),
                result_field=parse_type(res_t),
                batch=batch,
                fallible=fallible,
                mode=mode,
                io_threads=io_threads,
                timeout=timeout,
                memory_limit=memory_limit,
                volatile=volatile,
                error_style=error_style,
            )
            registry.add(sf)
            first = first or sf
        return first

    return deco
