"""Degenerate-input regression gate (round 10): the queries the
all-empty (and one-row) sweeps found divergent must stay
Spark≡DuckDB on zero-row and one-row fixtures. The full sweep lives
in scripts/empty_sweep.py (all 250 oracle-backed queries, ~25 min,
`K=1` for the one-row variant); this test pins the fast subset of
the fixed queries — the slow streaming/write-path members are
exercised by their own unit tests and the sweep script.

Why it matters at 100 TB: an empty day partition or filtered-out
slice is routine, and the driver's correctness gate only runs at
sf0.01, so degenerate-input divergence is invisible to it by design.

At n=1 a handful of layout/heuristic audit booleans are exempt by
design (scripts/empty_sweep.py SCALE_FLOOR_EXEMPT): AQE's
non-empty-partition-ratio demotes every 1-row dim, a 1-row table
cannot be fragmented, parquet skips dictionaries/blooms on tiny
pages, a 1-file layout cannot show selective skipping.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import TABLES, assert_matches_oracle

# at n=1 these FIXED_FAST members pin heuristics below their scale
# floor (see module docstring) — empty-only
SCALE_FLOOR_EXEMPT = {
    "compaction_file_audit",
    "parquet_bloom_filter_audit",
    "zorder_skip_audit",
    "zstd_encoding_audit",
}

# fast members of the round-10 fix set (each < ~10 s on empty input)
FIXED_FAST = [
    "price_histogram",
    "ann_lsh_topk",
    "events_selfjoin_cardinality",
    "jl_projection_audit",
    "doc_fingerprints",
    "dedup_corpus_token_accounting",
    "constraint_audit_orders",
    "cube_events",
    "rollup_returns",
    "grouping_sets_revenue",
    "grouping_id_revenue_routing",
    "kmv_distinct_users",
    "kmv_overlap_audit",
    "embedding_pca_audit",
    "pq_quantization_audit",
    "ann_ivf_topk",
    "orc_roundtrip_audit",
    "schema_evolution_audit",
    "csv_quarantine_audit",
    "zorder_skip_audit",
    "zstd_encoding_audit",
    "parquet_bloom_filter_audit",
    "observe_metrics_audit",
    "compaction_file_audit",
    "dpp_audit",
    "partition_evolution_audit",
]


@pytest.fixture(scope="module", params=[0, 1], ids=["empty", "onerow"])
def fixture_dir(request, tmp_path_factory):
    k = request.param
    d = tmp_path_factory.mktemp(f"degenerate_fixture_k{k}")
    for t in TABLES:
        src = pq.read_table(f"{SF_SMOKE}/{t}.parquet")
        pq.write_table(src.slice(0, k), str(d / f"{t}.parquet"))
    return k, str(d)


@pytest.mark.parametrize("name", FIXED_FAST)
def test_degenerate_input_matches_oracle(spark, fixture_dir, name):
    k, d = fixture_dir
    if k >= 1 and name in SCALE_FLOOR_EXEMPT:
        pytest.skip("heuristic booleans below their scale floor at n=1")
    assert_matches_oracle(spark, d, name)
