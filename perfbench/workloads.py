"""The workloads: which queries a pass runs, the layer each query's
headline operator belongs to, and how its output is checked.

The queries are the registered ``__spark_entry__`` queries, run on the
seeded star-schema tables and checked against their registered DuckDB
``oracle_sql()``.  The raw MinHash operator has no exact oracle; it is
checked by recall against the exact-pair oracle of its certificate query
(every ground-truth pair must be among the candidates).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import functions as F

import __spark_entry__ as entry

from . import data

# layers: the modules whose public functions the workloads call
LAYERS = (
    "sources", "operators.merging", "operators.asof", "operators.intervals",
    "operators.resampling", "operators.sequences", "operators.modes",
    "operators.events", "streaming", "pipeline.dedup", "pipeline.similarity",
    "pipeline.sketches", "pipeline.text",
)
PACKAGE = "catabra_pandas_spark"


@dataclass
class Query:
    name: str
    layer: str                    # layer of the headline operator
    build: Callable               # (spark, table dir) -> DataFrame
    oracle: Optional[str] = None  # DuckDB SQL of the exact expected output
    recall_of: Optional[str] = None  # DuckDB SQL of pairs that must be found
    # Spark jobs the build must submit on every traced pass
    min_build_jobs: int = 0


@dataclass
class Workload:
    name: str
    queries: list
    sizes: dict                   # rows per table, as data.SF0_001


def _registered(name: str, layer: str, recall_of: Optional[str] = None,
                min_build_jobs: int = 0) -> Query:
    fn = getattr(entry, f"q_{name}")
    oracles = entry.oracle_sql()
    return Query(name, layer, fn,
                 oracle=None if recall_of else oracles[name],
                 recall_of=oracles[recall_of] if recall_of else None,
                 min_build_jobs=min_build_jobs)


def workloads() -> dict[str, Workload]:
    return {w.name: w for w in (
        # the interval family and EAV resampling in one pass: on their own,
        # the four interval queries made a 3.5 s pass whose time swung by a
        # quarter from run to run with the JIT's progress.  Row counts of
        # the testdata's sf0.01: enough lineitem rows that merge_auto_sweep's
        # detector measures both sides (projected scan above its tiny-input
        # cut) and flips to the sweep, as at sf0.1
        Workload("temporal", [
            # its build's own job plus the cost-auto detector's two stats
            # jobs (two each under AQE); one job alone means the
            # detector's plan memo hit
            _registered("merge_auto_sweep", "operators.merging", min_build_jobs=3),
            _registered("merge_overlap", "operators.merging"),
            _registered("merge_asof", "operators.asof"),
            _registered("group_intervals", "operators.intervals"),
            _registered("resample_eav_custom_multi", "operators.resampling"),
            _registered("impute_linear", "operators.sequences"),
            _registered("grouped_mode", "operators.modes"),
            _registered("stream_resample_interval", "streaming"),
            _registered("funnel", "operators.events"),
        ], data.SF0_01),
        # row counts of the testdata's sf0.001 (its documents and embeddings
        # tables are the same size at sf0.01)
        Workload("curation", [
            _registered("dedup_clusters", "pipeline.dedup"),
            _registered("minhash_lsh_raw", "pipeline.dedup", recall_of="minhash_lsh"),
            _registered("semantic_dedup", "pipeline.similarity"),
            _registered("heavy_hitters", "pipeline.sketches"),
            _registered("text_stats", "pipeline.text"),
        ], data.SF0_001),
    )}


def install_pass_predicate(pass_id: int) -> None:
    """Point the registered queries' ``read_table`` at a reader that adds
    the pass-indexed always-true predicate to every scanned table.  Every
    pass then gets plans that differ from every other pass's (the optimizer
    folds the predicate away), so plan-keyed caches see new data, as with
    a user's new batch."""
    from catabra_pandas_spark import sources

    def read_table(spark, sf_dir, name):
        # looked up at call time, so a tracing wrapper on the sources layer
        # sees this call
        return sources.read_table(spark, sf_dir, name).filter(
            F.lit(pass_id) >= F.lit(0))

    entry.read_table = read_table
