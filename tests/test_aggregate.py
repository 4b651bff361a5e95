"""The map-side UDAF fold (``build_multi_fold``) that ``Registry.sql``,
``AggregateFunction.agg`` and ``accumulate_or_retract`` share: float group
keys and float MIN/MAX against native Spark, int64 exactness, and the
temp views a ``Registry.sql`` rewrite leaves behind."""

import pickle
import warnings

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from arrow_udf_spark import Registry
from arrow_udf_spark.operators.aggregate import build_multi_fold, udaf

NAN = float("nan")
#: NULL and NaN must stay two groups, -0.0 must join 0.0; results are keyed
#: by repr(), which tells NULL, NaN, -0.0 and 0.0 apart
FLOAT_KEYS = [NAN, None, 1.0, NAN, -0.0, 0.0]


@pytest.fixture(scope="module")
def reg():
    r = Registry()

    # row-only on purpose: no accumulate_batch, so every fold goes
    # through accumulate / retract
    @udaf(input_types=["bigint"], result_type="bigint", name="fold_rsum", registry=r)
    class RowSum:
        def create_state(self):
            return 0

        def accumulate(self, s, x):
            return s + (0 if x is None else int(x))

        def retract(self, s, x):
            return s - (0 if x is None else int(x))

        def merge(self, a, b):
            return a + b

    return r


def _float_key_df(spark):
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("x", T.LongType())]
    )
    rows = [(k, i + 1) for i, k in enumerate(FLOAT_KEYS)]
    return spark.createDataFrame(rows, schema).coalesce(1)


def _native_float_key_sums(spark):
    df = _float_key_df(spark)
    return {repr(r.k): r.s for r in df.groupBy("k").sum("x").toDF("k", "s").collect()}


def test_fold_float_keys_match_native_group_by(spark, reg):
    rsum = reg.get("fold_rsum")
    rb = pa.RecordBatch.from_arrays(
        [pa.array(FLOAT_KEYS, pa.float64()), pa.array(range(1, 7), pa.int64())],
        names=["k", "x"],
    )
    (out,) = build_multi_fold([rsum], 1, [1], ())([rb])
    got = {
        repr(k): pickle.loads(st)
        for k, st in zip(out.column(0).to_pylist(), out.column(1).to_pylist())
    }
    assert got == _native_float_key_sums(spark)


def test_agg_float_keys_match_native_group_by(spark, reg):
    out = reg.get("fold_rsum").agg(_float_key_df(spark), by=["k"], args=["x"])
    got = {repr(r.k): r.fold_rsum for r in out.collect()}
    assert got == _native_float_key_sums(spark)


def test_sql_float_keys_match_native_group_by(spark, reg):
    reg.register_sql(spark)
    _float_key_df(spark).createOrReplaceTempView("fold_fk")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no fallback
        out = reg.sql(spark, "SELECT k, fold_rsum(x) AS s FROM fold_fk GROUP BY k")
    got = {repr(r.k): r.s for r in out.collect()}
    assert got == _native_float_key_sums(spark)


def test_sql_float_min_max_match_native(spark, reg):
    reg.register_sql(spark)
    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("x", T.LongType()),
            T.StructField("f", T.DoubleType()),
        ]
    )
    rows = [
        ("a", 1, 1.0), ("a", 2, NAN), ("a", 3, -2.0),
        ("b", 4, NAN), ("b", 5, None),
        ("c", 6, 3.5), ("c", 7, None),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).createOrReplaceTempView("fold_mm")
    q = "SELECT g, {s}(x) AS s, MAX(f) AS mx, MIN(f) AS mn FROM fold_mm GROUP BY g"
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no fallback
        got = reg.sql(spark, q.format(s="fold_rsum")).collect()
    native = spark.sql(q.format(s="SUM")).collect()

    def norm(rs):
        return sorted((r.g, r.s, repr(r.mx), repr(r.mn)) for r in rs)

    assert norm(got) == norm(native)
    assert ("a", 6, "nan", "-2.0") in norm(got)


def _exact_df(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("x", T.LongType()),
            T.StructField("ops", T.BooleanType()),
        ]
    )
    rows = [
        ("a", 2**53 + 1, False), ("a", None, False), ("a", 7, False), ("a", 7, True),
    ]
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_agg_row_fold_keeps_int64_exact(spark, reg):
    """A NULL next to 2**53+1 must not turn the column into float64."""
    out = reg.get("fold_rsum").agg(_exact_df(spark), by=["k"], args=["x"])
    assert [(r.k, r.fold_rsum) for r in out.collect()] == [("a", 2**53 + 15)]


def test_retract_row_fold_keeps_int64_exact(spark, reg):
    out = reg.get("fold_rsum").accumulate_or_retract(
        _exact_df(spark), by=["k"], args=["x"], ops_col="ops"
    )
    assert [(r.k, r.fold_rsum) for r in out.collect()] == [("a", 2**53 + 1)]


def _temp_views(spark):
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def test_sql_leaves_no_fold_views(spark, reg):
    reg.register_sql(spark)
    _float_key_df(spark).createOrReplaceTempView("fold_tv")
    before = _temp_views(spark)
    q = "SELECT k, fold_rsum(x) AS s FROM fold_tv GROUP BY k"
    dfs = [reg.sql(spark, q) for _ in range(3)]
    assert _temp_views(spark) == before
    want = _native_float_key_sums(spark)
    for df in dfs:
        for _ in range(2):
            assert {repr(r.k): r.s for r in df.collect()} == want


def test_sql_fallback_leaves_no_fold_views(spark, reg):
    """The first UNION arm registers a fold view, the second (a subquery in
    HAVING) refuses the rewrite: the view must go with the fallback."""
    reg.register_sql(spark)
    _float_key_df(spark).createOrReplaceTempView("fold_tv")
    before = _temp_views(spark)
    q = (
        "SELECT k, fold_rsum(x) AS s FROM fold_tv GROUP BY k UNION ALL "
        "SELECT k, fold_rsum(x) AS s FROM fold_tv GROUP BY k "
        "HAVING fold_rsum(x) > (SELECT 0)"
    )
    with pytest.warns(RuntimeWarning, match="not rewritable"):
        df = reg.sql(spark, q)
    assert _temp_views(spark) == before
    assert len(df.collect()) == 8
