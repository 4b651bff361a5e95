"""The perfbench workloads and the class of each query.

The class of a query decides two things: which end-to-end throughput
metric its time feeds, and which layer (``scalar``, ``table``,
``aggregate``, ``flight``) its Python-worker SQL metrics are credited to.
"""

from __future__ import annotations

import inspect

#: workload -> {query name: class}
WORKLOADS: dict[str, dict[str, str]] = {
    # the arrow-udf surface itself: vectorized, fallible and extension-decimal
    # scalars, the async row-mode path, fan-out UDTFs with error rows,
    # DataFrame .agg UDAFs and the Flight runtime against our own server;
    # plus the largest Registry.sql two-phase shape, so that the SQL
    # rewrite and its map-side fold and salted merge are measured too
    "udf_core": {
        "gcd": "scalar",
        "div_error": "scalar",
        "decimal_add_fn": "scalar",
        "gcd_async": "rowmode",
        "series_udtf": "table",
        "json_array_elements_udtf": "table",
        "sum_udaf": "aggregate",
        "weighted_avg_udaf": "aggregate",
        "remote_gcd": "remote",
        "remote_series_udtf": "remote",
        "sql_agg_correlated_two_phase": "sql",
    },
    # iterative operators bound by driver-side construction and the eager
    # jobs it launches; the UDF batch path is nearly idle here
    "driver_loop": {
        "pagerank_docs": "driver",
        "bpe_train_encode": "driver",
        "unigram_lm_fit": "driver",
        "dup_span_cascade": "driver",
        "curation_pipeline_e2e": "driver",
        "kmeans_train_assign": "driver",
    },
}

#: query class -> layer its Python-worker node metrics are credited to
LAYER_OF_CLASS = {
    "scalar": "scalar",
    "rowmode": "scalar",
    "table": "table",
    "aggregate": "aggregate",
    "sql": "aggregate",
    "remote": "flight",
}

#: end-to-end throughput metric -> (query class, which rows count)
THROUGHPUT = {
    "scalar_rows_per_s": ("scalar", "input"),
    "rowmode_rows_per_s": ("rowmode", "input"),
    "table_rows_per_s": ("table", "output"),
    "aggregate_rows_per_s": ("aggregate", "input"),
    "remote_rows_per_s": ("remote", "input"),
}


def self_test(queries: dict, oracle: dict, workloads: dict = WORKLOADS) -> list[str]:
    """Problems that make a workload unrunnable here: a query missing from
    the catalog or the oracle, or one that launches the external reference
    implementation's server (the ``remote_ref_*`` family, through
    ``sources.ref_interop``), which is not part of this repository."""
    problems = []
    for workload, members in workloads.items():
        for name in members:
            if name not in queries:
                problems.append(f"{workload}: {name} is not in QUERIES")
                continue
            if name not in oracle:
                problems.append(f"{workload}: {name} has no ORACLE SQL")
            if name.startswith("remote_ref_") or "ref_interop" in inspect.getsource(
                queries[name]
            ):
                problems.append(f"{workload}: {name} needs the reference server")
    return problems
