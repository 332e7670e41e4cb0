"""Every queries() entry must match its DuckDB oracle at sf0.001 —
the local twin of the driver's CORRECTNESS gate (sf0.01 there)."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry_mod
from beats_spark import queries, queries_training
from tests.harness import compare

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_catalog_consistency():
    # every query has exactly one DuckDB twin
    assert set(ORACLES) == set(QUERIES)
    assert len(QUERIES) == 107


def test_duplicate_query_id_raises():
    before = dict(queries._REGISTRY)
    with pytest.raises(ValueError, match="q03_dissect"):
        queries.query("q03_dissect", queries.q_dissect)(queries.q_dissect_oracle)
    assert queries._REGISTRY == before


def test_every_oracle_twin_is_registered():
    # a twin whose @query line was forgotten would silently drop its query
    registered = {oracle for _, oracle in queries._REGISTRY.values()}
    for mod in (queries, queries_training):
        for name, fn in vars(mod).items():
            if name.startswith("q_") and name.endswith("_oracle"):
                assert fn in registered, f"{mod.__name__}.{name} has no @query"


def _rounds(root, **rounds):
    for name, qids in rounds.items():
        (root / f"CORRECTNESS_{name}.json").write_text(
            json.dumps({q: {"hash_match": True} for q in qids})
        )


def test_witness_order_rule(tmp_path):
    ids = ["q10_c", "q100_f", "q04_b", "q02_token_integrity", "q20_e",
           "q03_a", "q01_route_counts", "q05_d"]
    # no records: the pinned pair, then numeric id order (q20 before q100)
    assert queries.witness_order(ids, tmp_path) == [
        "q01_route_counts", "q02_token_integrity",
        "q03_a", "q04_b", "q05_d", "q10_c", "q20_e", "q100_f"]
    _rounds(tmp_path,
            r01=["q01_route_counts", "q03_a", "q04_b", "q10_c"],
            r02=["q01_route_counts", "q02_token_integrity", "q10_c", "q04_b"],
            r03=["q04_b"])
    # never witnessed first, then by last round holding the id, ties by id
    assert queries.witness_order(ids, tmp_path) == [
        "q01_route_counts", "q02_token_integrity",
        "q05_d", "q20_e", "q100_f", "q03_a", "q10_c", "q04_b"]


def test_catalog_head_follows_correctness_records():
    assert list(QUERIES)[:11] == [
        "q01_route_counts", "q02_token_integrity",
        "q53_zscore_anomalies", "q54_funnel", "q55_topk_per_group",
        "q56_pivot_matrix", "q57_retention", "q58_rollup", "q59_transitions",
        "q62_session_paths", "q63_sketch_rollup"]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    compare(spark, SF, name, QUERIES[name], ORACLES[name])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
