"""Registry for the declared-query contract.

Each operator from SURVEY.md §2 registers here a named builder
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the
equivalent DuckDB oracle SQL. The driver (and our own parity tests)
runs both sides on identical parquet and compares row count + schema +
order-insensitive value hash — so every computed column is aliased
identically on both sides, aggregates over doubles are rounded, and
``events.ts`` (µs NTZ in parquet; the catalog pins the scan to
TimestampType) is cast ``::TIMESTAMP`` in the oracle so both engines
compare the same µs instants.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class ContractQuery:
    name: str
    build: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    covers: str  # operator ids from SURVEY §2


REGISTRY: dict[str, ContractQuery] = {}

# Temp dirs written by contract builders at build time (the persisted
# temp indexes of the incremental-serving queries). Builders register
# them here so bench.py can delete each query's dirs at the END of that
# query's own measurement instead of letting them accumulate until
# process exit — at-exit accumulation left 3 temp indexes per
# queries() sweep on disk AND let async writeback from one query's
# build bleed into the next query's timed runs (VERDICT r8 #1).
# Builders keep an atexit backstop for non-bench callers (the driver's
# correctness sweep builds all queries in one process).
TEMP_DERIVATION_DIRS: list[str] = []


def temp_derivation_dir(prefix: str) -> str:
    """A fresh temp dir for a builder's derivation, registered for
    per-query cleanup with an atexit ``rmtree`` backstop."""
    path = tempfile.mkdtemp(prefix=prefix)
    TEMP_DERIVATION_DIRS.append(path)
    atexit.register(shutil.rmtree, path, True)
    return path


def contract_query(name: str, *, oracle: str | None, covers: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a declared query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate contract query {name!r}")
        REGISTRY[name] = ContractQuery(name=name, build=fn, oracle=oracle, covers=covers)
        return fn

    return wrap


def queries() -> dict[str, QueryFn]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
