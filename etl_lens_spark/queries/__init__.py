"""Declared-query registry: the correctness contract.

Every implemented operator from SURVEY.md §2 lands here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs
on the same parquet. The driver hash-compares both sides.

Cross-engine discipline (applies to every query):
- alias every computed column identically in Spark and SQL;
- cast aggregate outputs explicitly (DuckDB sum(BIGINT) is HUGEINT,
  Spark's is LONG — always ``CAST(... AS BIGINT)`` / ``.cast("long")``);
- never emit the raw ns-precision ``events.ts`` (Spark truncates to
  µs, DuckDB keeps ns) — emit ``unix_micros`` / ``epoch_us`` or a
  truncated timestamp;
- any LIMIT/top-k query orders by a fully deterministic key in BOTH
  engines (ties broken by a unique column, no NULLs in sort keys —
  Spark sorts NULLS FIRST asc, DuckDB NULLS LAST).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # included in bench.py


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Register a declared query under ``name``."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already defined by {REGISTRY[name].fn.__module__})"
            )
        REGISTRY[name] = QuerySpec(name, fn, oracle, headline)
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }


def headline_queries() -> dict[str, QuerySpec]:
    _load()
    return {n: s for n, s in REGISTRY.items() if s.headline}


# Setup/answer splits for setup-dominated headline queries: the
# registered callable runs UNTIMED before each bench run (building
# the in-query fixture — scratch-table writes, log commits) and
# returns a zero-arg thunk producing the result DataFrame; bench.py
# times only the thunk. Without the split, a metadata-only answer
# (microseconds) benches as its multi-second parquet fixture build,
# and round-over-round comparisons measure write throughput instead
# of the operator under test.
BENCH_SETUP: dict[
    str, Callable[[SparkSession, str], Callable[[], DataFrame]]
] = {}


def bench_setup(name: str):
    """Register a setup/answer split for headline query ``name``."""

    def deco(fn):
        BENCH_SETUP[name] = fn
        return fn

    return deco


def timed_thunk(
    name: str, spark: SparkSession, sf_dir: str
) -> Callable[[], DataFrame]:
    """The part of query ``name`` a timing or plan tool measures: for
    a split query, run its untimed setup now and return the answer
    thunk; otherwise return a thunk that builds the whole query."""
    _load()
    prepare = BENCH_SETUP.get(name)
    if prepare is not None:
        return prepare(spark, sf_dir)
    return lambda: REGISTRY[name].fn(spark, sf_dir)


_loaded = False


def _load() -> None:
    """Import all query modules (side effect: registry population)."""
    global _loaded
    if _loaded:
        return
    from etl_lens_spark.queries import (  # noqa: F401
        bpe_q,
        cdc_q,
        events_q,
        funcs_q,
        graph_q,
        io_q,
        joins_q,
        media_q,
        npipe,
        npipe2,
        npipe3,
        npipe4,
        mlprep_q,
        npipe5,
        npipe6,
        npipe7,
        npipe8,
        npipe9,
        npipe10,
        npipe11,
        npipe12,
        npipe13,
        npipe14,
        pca_q,
        quality_q,
        quant_q,
        rel,
        rel2,
        semantic_q,
        sketch_q,
        streaming_q,
        timeseries_q,
        tpch2,
        warehouse_q,
        winx_q,
    )

    _loaded = True
