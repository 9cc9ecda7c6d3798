"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The harness grades only the first 50 entries of ``queries()``. Their
order is ``plans.registry.LANES``: positions 1–50 are the graded
registry, every one oracle-gated. The EXTRA lane holds
a hundred and eighty-five oracle-gated entries, verified locally by
tools/oracle_check.py; it follows position 50, so a 50-entry count cap
ignores it harmlessly and a larger budget grades it for free. Lane counts (50 graded / 185 EXTRA / 7 BENCH_ONLY)
are pinned by ``tests/test_operators.py::test_lane_counts_match_docs``.

Approximate operators are graded
through accuracy-contract oracles — a deterministic ``*_ok`` boolean
(recall / tolerance ≥ a measured floor) next to counts the oracle
recomputes exactly; the oracle asserts TRUE (SCALE.md §13):

- ``agg_distinct.approx_parts_ok``  — HLL++ estimate within 5% of exact
- ``dedup_fuzzy.recall_ok``         — MinHash-LSH / SimHash recall vs the
  exact shingle-Jaccard ≥ 0.5 pair set (floors 0.8 / 0.5)
- ``ann_ivf_topk.recall_ok``        — IVF recall@10 vs brute-force top-k
  (floor 0.8); exact twins: ``dedup_ngram_jaccard``, ``sim_topk``,
  ``sim_join``

Seven operators are deliberately OUTSIDE the graded registry
(``plans.registry.BENCH_ONLY``; benched + pytest-gated):
``sim_join_lsh`` and ``knn_graph_lsh`` (no high-cosine pairs exist in
the fixtures, so a recall gate would be vacuous),
``dedup_components_lsh`` (the LSH→connected-components scale
pipeline, accuracy via planted-cluster recall pytest),
``dedup_semantic`` (the SemDeDup composition — whiten → LSH →
components → keep-best; whitening's driver-side eigensolve has no SQL
twin, accuracy via planted-cluster recall pytest),
``lang_id_ngram`` (no ground truth — 0.20 agreement with the
synthetic lang labels), ``media_phash`` (the image-dedup lane:
from-spec decode + perceptual dHash + exact-group-then-band-join;
pixels are not SQL-reachable, accuracy via planted-pair pytest), and
``dedup_passages_scale`` (substring dedup over a 4x-inflated corpus;
the base ``dedup_passages`` oracle grades correctness).

All real logic lives in ``data_ingestion_s3_to_parquet_spark``; this
module only adapts the query registry
(``data_ingestion_s3_to_parquet_spark.plans.registry``) to the driver's
three-function surface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_ingestion_s3_to_parquet_spark.plans import registry as _registry
from data_ingestion_s3_to_parquet_spark.operators.relational import q_join_inner

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: revenue by nation —
    lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation), filtered on
    l_shipdate, grouped, decimal-exact revenue sum. Driver checks rows>0.
    """
    return q_join_inner(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query."""
    return _registry.oracle_sql()
