"""Near-dup clustering (connected components) over pair lists."""

from __future__ import annotations

from org_revue_de_presse_trends_spark.operators.dedup import (
    cluster_pairs,
    dedup_assignments,
)


def test_cluster_pairs_chain_and_islands(spark):
    # components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["cluster"] for r in cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dedup_assignments_keep_flags(spark):
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["id"]: (r["cluster"], r["keep"])
           for r in dedup_assignments(docs, pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
        99: (99, True),  # unpaired doc survives
    }
