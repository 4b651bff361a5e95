"""Driver-side unit tests of the scalar eval core (no JVM needed)."""

import pandas as pd
import pytest

from arrow_udf_spark import CallMode, Registry, udf


@pytest.fixture()
def reg():
    return Registry()


def test_batch_eval(reg):
    @udf(input_types=["int", "int"], result_type="int", batch=True, registry=reg)
    def add(a, b):
        return a + b

    out = add._eval(pd.Series([1, 2]), pd.Series([10, 20]))
    assert out.tolist() == [11, 22]


def test_row_eval_null_passthrough(reg):
    @udf(input_types=["int"], result_type="int", registry=reg)
    def inc(x):
        return None if x is None else x + 1

    out = inc._eval(pd.Series([1, None, 3], dtype="object"))
    assert out.tolist()[0] == 2 and out.tolist()[2] == 4


def test_return_null_on_null_input(reg):
    calls = []

    @udf(
        input_types=["int", "int"],
        result_type="int",
        mode=CallMode.RETURN_NULL_ON_NULL_INPUT,
        registry=reg,
    )
    def add(a, b):
        calls.append((a, b))
        return a + b  # would crash on None

    out = add._eval(
        pd.Series([1, None, 3], dtype="object"), pd.Series([10, 20, None], dtype="object")
    )
    vals = out.tolist()
    assert vals[0] == 11
    assert pd.isna(vals[1]) and pd.isna(vals[2])
    assert calls == [(1, 10)]  # fn never saw a null row


def test_fallible_error_column(reg):
    @udf(input_types=["int", "int"], result_type="int", fallible=True, registry=reg)
    def div(a, b):
        if b == 0:
            raise ZeroDivisionError("division by zero")
        return a // b

    out = div._eval(pd.Series([6, 1]), pd.Series([3, 0]))
    assert isinstance(out, pd.DataFrame)
    assert out["value"].tolist()[0] == 2
    assert pd.isna(out["value"].tolist()[1])
    assert out["error"].tolist() == [None, "division by zero"]


def test_fallible_batch_fallback(reg):
    """Vectorized path raises -> row-level isolation still yields partials."""

    @udf(input_types=["int"], result_type="int", batch=True, fallible=True, registry=reg)
    def recip_scale(x):
        # .map raises on the zero element, failing the whole vectorized call
        return x.map(lambda v: 100 // v)

    out = recip_scale._eval(pd.Series([4, 0, 5]))
    assert out["value"].tolist()[0] == 25
    assert out["value"].tolist()[2] == 20
    assert pd.isna(out["value"].tolist()[1])
    assert out["error"][1] is not None


def test_non_fallible_raises(reg):
    @udf(input_types=["int"], result_type="int", registry=reg)
    def boom(x):
        raise ValueError("nope")

    with pytest.raises(RuntimeError, match="nope"):
        boom._eval(pd.Series([1]))


def test_zero_arg_broadcast(reg):
    @udf(input_types=[], result_type="int", batch=True, registry=reg)
    def zero():
        return 0

    # zero-arg fns broadcast over the batch; driver-side n=0 gives empty
    out = zero._eval()
    assert list(out) == []


def test_struct_return(reg):
    @udf(input_types=["string"], result_type="struct<key:string,value:string>", registry=reg)
    def kv(s):
        k, sep, v = s.partition("=")
        return {"key": k, "value": v} if sep else None

    out = kv._eval(pd.Series(["a=b", "nope"]))
    assert isinstance(out, pd.DataFrame)
    assert out.loc[0, "key"] == "a" and out.loc[0, "value"] == "b"
    assert pd.isna(out.loc[1, "key"])


def test_io_threads(reg):
    @udf(input_types=["int"], result_type="int", io_threads=4, registry=reg)
    def slowinc(x):
        return x + 1

    out = slowinc._eval(pd.Series(range(100)))
    assert out.tolist() == list(range(1, 101))


def test_async_fn(reg):
    """Coroutine UDFs run all rows of a batch concurrently on one event
    loop (reference A12 async mode, javascript/mod.rs:954-974)."""
    import asyncio

    @udf(input_types=["int"], result_type="int", io_threads=8, registry=reg)
    async def ainc(x):
        await asyncio.sleep(0)
        return None if x is None else x + 1

    out = ainc._eval(pd.Series([1, None, 3], dtype="object"))
    assert out.tolist()[0] == 2 and out.tolist()[2] == 4


def test_async_fn_timeout_and_error(reg):
    import asyncio

    @udf(
        input_types=["int"],
        result_type="int",
        fallible=True,
        timeout=0.2,
        registry=reg,
    )
    async def slow(x):
        if x == 99:
            await asyncio.sleep(5)
        if x < 0:
            raise ValueError("negative")
        return x

    out = slow._eval(pd.Series([1, 99, -1]))
    assert out.loc[0, "value"] == 1 and out.loc[0, "error"] is None
    assert pd.isna(out.loc[1, "value"]) and out.loc[1, "error"] == "timeout"
    assert pd.isna(out.loc[2, "value"]) and "negative" in out.loc[2, "error"]


def test_async_concurrency_cap_and_row_order(reg):
    """io_threads caps the rows in flight at once, and output stays in row
    order although rows finish out of order."""
    import asyncio

    state = {"now": 0, "peak": 0}
    finished = []

    @udf(input_types=["int"], result_type="int", io_threads=4, registry=reg)
    async def staggered(x):
        state["now"] += 1
        state["peak"] = max(state["peak"], state["now"])
        for _ in range(x % 5):
            await asyncio.sleep(0)
        state["now"] -= 1
        finished.append(x)
        return x * 10

    out = staggered._eval(pd.Series(range(50)))
    assert state["peak"] == 4
    assert finished != sorted(finished)
    assert out.tolist() == [x * 10 for x in range(50)]


def test_async_timeout_starts_at_call_start(reg):
    """The deadline is per call: six 0.1 s rows on two workers take at least
    0.3 s in all, yet each call stays within its 0.3 s timeout; one wedged
    row times out alone."""
    import asyncio
    import time

    @udf(
        input_types=["int"],
        result_type="int",
        fallible=True,
        io_threads=2,
        timeout=0.3,
        registry=reg,
    )
    async def nap(x):
        await asyncio.sleep(5 if x == 99 else 0.1)
        return x

    t0 = time.monotonic()
    out = nap._eval(pd.Series([1, 2, 3, 4, 5, 6]))
    assert time.monotonic() - t0 >= 0.3
    assert out["value"].tolist() == [1, 2, 3, 4, 5, 6]
    assert out["error"].tolist() == [None] * 6

    out = nap._eval(pd.Series([1, 2, 99, 4, 5, 6, 7]))
    assert out.loc[2, "error"] == "timeout" and pd.isna(out.loc[2, "value"])
    others = [0, 1, 3, 4, 5, 6]
    assert out.loc[others, "value"].tolist() == [1, 2, 4, 5, 6, 7]
    assert out.loc[others, "error"].tolist() == [None] * 6


def test_async_all_null_batch_skips_workers(reg):
    """An all-NULL batch under RETURN_NULL_ON_NULL_INPUT leaves no rows to
    call, so no worker starts, and every output row is NULL."""
    calls = []

    @udf(
        input_types=["int"],
        result_type="int",
        mode=CallMode.RETURN_NULL_ON_NULL_INPUT,
        registry=reg,
    )
    async def ainc(x):
        calls.append(x)
        return x + 1

    out = ainc._eval(pd.Series([None, None, None], dtype="object"))
    assert len(out) == 3 and out.isna().all()
    assert calls == []


def test_async_non_fallible_raises_first_error_in_row_order(reg):
    import asyncio

    @udf(input_types=["int"], result_type="int", io_threads=8, registry=reg)
    async def picky(x):
        # row 7 fails before row 3 does, so the first error in row order is
        # not the first to happen
        for _ in range(5 - x if x < 5 else 0):
            await asyncio.sleep(0)
        if x in (3, 7):
            raise ValueError(f"bad row {x}")
        return x

    with pytest.raises(RuntimeError, match="^bad row 3$"):
        picky._eval(pd.Series(range(10)))


def test_negative_io_threads_rejected(reg):
    with pytest.raises(ValueError, match="io_threads"):

        @udf(input_types=["int"], result_type="int", io_threads=-1, registry=reg)
        async def never(x):
            return x


def test_async_batch_flag_ignored(reg):
    """batch=True on a coroutine fn must not break: forced row-wise."""
    import asyncio

    @udf(input_types=["int"], result_type="int", batch=True, registry=reg)
    async def aident(x):
        await asyncio.sleep(0)
        return x

    out = aident._eval(pd.Series([5, 6]))
    assert out.tolist() == [5, 6]


def test_volatile_marks_nondeterministic(reg):
    @udf(input_types=["int"], result_type="int", volatile=True, registry=reg)
    def vol(x):
        return x

    assert vol.as_spark_udf().deterministic is False


def test_error_paths_runtime_and_type(reg):
    """Reference error-path corpus (arrow-udf-runtime/tests/python.rs:916-1120):
    runtime errors, type mismatches inside the fn, and bad output types all
    land in the error column row-by-row for fallible fns."""

    @udf(input_types=["string"], result_type="int", fallible=True, registry=reg)
    def parse_int(s):
        return int(s)  # raises ValueError on junk, TypeError on None-ish

    out = parse_int._eval(pd.Series(["7", "notanum", "8"]))
    assert out.loc[0, "value"] == 7 and out.loc[2, "value"] == 8
    assert "invalid literal" in out.loc[1, "error"]


def test_error_path_import(reg):
    @udf(input_types=["int"], result_type="int", fallible=True, registry=reg)
    def needs_missing_module(x):
        import not_a_real_module  # noqa: F401

        return x

    out = needs_missing_module._eval(pd.Series([1]))
    assert "not_a_real_module" in out.loc[0, "error"]


def test_error_path_output_type_mismatch(reg):
    """A fn declared int that returns a non-coercible value: the coercion
    layer keeps the object column and Spark's Arrow conversion would reject
    it loudly — driver-side we surface the raw value (documented delta)."""

    @udf(input_types=["int"], result_type="int", batch=True, registry=reg)
    def bad_out(x):
        return x.map(lambda v: "oops")

    out = bad_out._eval(pd.Series([1]))
    # not silently coerced to a wrong number
    assert out.tolist() == ["oops"]


def test_result_type_inference(reg):
    """result_type omitted -> inferred from the return annotation
    (reference type_infer knob, parse.rs:71-97)."""

    @udf(input_types=["bigint"], registry=reg)
    def doubled(x) -> int:
        return None if x is None else x * 2

    assert doubled.sig.return_type == "int64"
    assert doubled._eval(pd.Series([3])).tolist() == [6]

    @udf(input_types=["string"], registry=reg)
    def shout(s) -> "str":
        return None if s is None else s.upper()

    assert shout.sig.return_type == "string"
