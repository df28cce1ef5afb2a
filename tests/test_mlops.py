"""Training-data heads (plans/mlops): canonical pick per near-dup
cluster, against its DuckDB oracle at sf0.001 plus hand-computed
argmax semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name",
    (
        "dedup_cluster_canonical",
    ),
)
def test_head_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)


def test_canonical_pick_semantics(spark):
    """The kept doc is a MEMBER of its cluster, carries the cluster's
    max quality, and the drop accounting balances: every cluster keeps
    exactly one doc, so Σ n_dropped = Σ n_members − n_clusters."""
    from processo_etl_spark.ml import dedup, textstats
    from processo_etl_spark.plans.common import t

    out = all_queries()["dedup_cluster_canonical"](spark, SF)
    rows = out.collect()
    assert rows, "sf0.001 corpus has near-dup clusters"
    docs = t(spark, SF, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=8, bands=2, threshold=0.2
    )
    members = {
        (r["cluster"], r["doc"])
        for r in dedup.connected_components(pairs).collect()
    }
    q = {
        r["doc_id"]: int(round(r["quality_score"] * 1000))
        for r in textstats.quality_features(docs, "text")
        .select("doc_id", "quality_score")
        .collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for c, d in members:
        by_cluster.setdefault(c, []).append(d)
    assert len(rows) == len(by_cluster)
    for r in rows:
        group = by_cluster[r["cluster"]]
        assert (r["cluster"], r["kept_doc"]) in members
        assert r["n_members"] == len(group)
        assert r["n_dropped"] == len(group) - 1
        best = max(q[d] for d in group)
        assert r["q1000_kept"] == best == q[r["kept_doc"]]
        # deterministic tie-break: smallest doc id among the best
        assert r["kept_doc"] == min(d for d in group if q[d] == best)


def test_canonical_argmax_tiebreak_hand_computed(spark):
    """Hand fixture through the SAME encoding arithmetic: identical
    quality inside a cluster must keep the SMALLEST doc id; a higher
    quality member wins regardless of id order."""
    from processo_etl_spark.plans.mlops import _ENC

    df = spark.createDataFrame(
        [
            # cluster 1: quality tie (700) between docs 11 and 7 -> 7
            (1, 7, 700),
            (1, 11, 700),
            (1, 20, 300),
            # cluster 2: doc 99 has the max quality -> 99
            (2, 3, 100),
            (2, 99, 900),
        ],
        "cluster long, doc long, q1000 long",
    )
    k = F.col("q1000") * F.lit(_ENC) + (F.lit(_ENC - 1) - F.col("doc"))
    got = {
        r["cluster"]: (r["kept"], r["q"])
        for r in df.groupBy("cluster")
        .agg(F.max(k).alias("mk"))
        .select(
            "cluster",
            (F.lit(_ENC - 1) - F.col("mk") % F.lit(_ENC)).alias("kept"),
            F.expr(f"mk div {_ENC}").alias("q"),
        )
        .collect()
    }
    assert got == {1: (7, 700), 2: (99, 900)}
