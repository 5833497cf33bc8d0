"""The benchmark's own op lists and drain modes.

Ops are named after ``__spark_entry__.queries()`` entries, the
registry every oracle is written against. The lists are kept here,
not read from ``bench.py``, so edits to its headline cannot move this
benchmark.

Drain modes: ``collect`` pulls a small result to the client, as a
CLI or notebook user would; ``hash`` folds every output column into
one ``bit_xor(xxhash64(...))`` value, so Catalyst cannot prune the
projection the way it does under ``count()``.

Two workloads of three ops each give 3-5 s of steady work per pass,
so that a run (a fresh, warmed session costs 12-22 s of it) stays
near 45 s on a 4-core host and a regression check can repeat it ten
times per workload and side within an hour. An odd op count keeps the median
op time on one op.
"""

from __future__ import annotations

import dataclasses


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[tuple[str, str], ...]
    # a registry entry of the same family that set-up runs once and no
    # pass times: the cold pass then pays for its own query shapes, not
    # for the JVM's first join or first manifest commit
    warmup: str
    # some op runs Python code on the executors, so set-up starts the
    # Python workers too
    python_workers: bool = False


def _c(*names: str) -> tuple[tuple[str, str], ...]:
    return tuple((n, "collect") for n in names)


def _h(*names: str) -> tuple[tuple[str, str], ...]:
    return tuple((n, "hash") for n in names)


PRQL_TPCH = Workload(
    "prql_tpch",
    _c("q1_pricing_summary", "q8_market_share", "q21_waiting_supplier"),
    warmup="q3_shipping_priority")

LAKEHOUSE_RW = Workload(
    "lakehouse_rw",
    _c("sources_snapshot_timetravel", "sources_snapshot_changes")
    + _h("sources_warc_read"),
    warmup="sources_snapshot_scan", python_workers=True)

WORKLOADS = {w.name: w for w in (PRQL_TPCH, LAKEHOUSE_RW)}


def builders() -> dict:
    """Op name -> ``fn(spark, data_dir) -> DataFrame``."""
    import __spark_entry__

    return dict(__spark_entry__.queries())


def prql_texts() -> dict[str, str]:
    import __spark_entry__

    return {n: text for n, (text, _sql) in __spark_entry__._PRQL_QUERIES.items()}
