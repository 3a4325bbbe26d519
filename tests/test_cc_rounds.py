"""What ``_MAX_CC_ROUNDS`` bounds: the number of label-propagation
rounds, the last of which must change no label. A path graph whose
minimum sits at one end, with n nodes, changes labels for n-1 rounds
and is confirmed converged by round n."""

from __future__ import annotations

import pytest

from tiny_etl_multiproc_bigdata_spark.plans import dedup_groups


def _path_edges(spark, n_nodes: int):
    pairs = [(i, i + 1) for i in range(n_nodes - 1)]
    return spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )


@pytest.mark.parametrize("k", [1, 2, 4])
def test_path_needing_k_rounds_converges(spark, monkeypatch, k):
    monkeypatch.setattr(dedup_groups, "_MAX_CC_ROUNDS", k)
    got = dedup_groups._cc_labels(_path_edges(spark, k)).collect()
    assert {r.doc_id: r.group_id for r in got} == (
        {i: 0 for i in range(k)} if k > 1 else {}
    )


@pytest.mark.parametrize("k", [1, 2, 4])
def test_path_needing_k_plus_one_rounds_raises(spark, monkeypatch, k):
    monkeypatch.setattr(dedup_groups, "_MAX_CC_ROUNDS", k)
    with pytest.raises(RuntimeError, match=f"did not converge in {k} rounds"):
        dedup_groups._cc_labels(_path_edges(spark, k + 1))


@pytest.mark.parametrize("k", [1, 3])
def test_empty_edge_list_returns_no_rows(spark, monkeypatch, k):
    monkeypatch.setattr(dedup_groups, "_MAX_CC_ROUNDS", k)
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert dedup_groups._cc_labels(edges).collect() == []
