"""Property tests for operators without SQL oracles (SURVEY §5.2
item 5): MinHash-LSH recall vs exact Jaccard, SimHash vs hamming
ground truth, IVF ANN recall vs brute force, null-aware anti-join,
as-of join, expression unit behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.functions import text as T
from org_revue_de_presse_trends_spark.functions.expressions import (
    civil_day,
    is_retweet_derived_sql,
    popularity_sql,
)
from org_revue_de_presse_trends_spark.operators.antijoin import anti_join
from org_revue_de_presse_trends_spark.operators.dedup import (
    minhash_lsh_pairs,
    shingle_pairs_jaccard,
    shingle_pairs_overlap,
    simhash_pairs,
)
from org_revue_de_presse_trends_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    pq_encode,
    pq_topk,
    pq_topk_rerank,
    train_centroids,
    train_pq_codebooks,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Corpus with planted near-duplicate pairs: doc 10x+1 is doc 10x
    with one word changed; plus unrelated docs."""
    # 40-word docs: one mutated word → Jaccard ≈ 0.86, so the
    # (16 band × 4 row) S-curve catches the pair with P≈1-3e-6 —
    # short docs sit near the S-curve knee where misses are expected
    base_words = [
        [f"{stem}{i}" for i in range(40)]
        for stem in ("alpha", "num", "color")
    ]
    rows = []
    for i, words in enumerate(base_words):
        rows.append((i * 10, " ".join(words)))
        mutated = list(words)
        mutated[len(mutated) // 2] = "MUTATED"
        rows.append((i * 10 + 1, " ".join(mutated)))
    rows.append((900, " ".join(f"unique{j}" for j in range(20))))
    rows.append((901, " ".join(f"distinct{j}" for j in range(20))))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_dups(spark, near_dup_docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(near_dup_docs, threshold=0.3).collect()
    }
    for base in (0, 10, 20):
        assert (base, base + 1) in pairs, f"planted pair {base} missed"
    # unrelated docs must not pair with anything
    flat = {i for p in pairs for i in p}
    assert 900 not in flat and 901 not in flat


def test_incremental_lsh_equals_batch_restricted(
    spark, near_dup_docs, tmp_path
):
    """Incremental pairs (new batch vs a PARQUET-persisted signature
    index) must equal the full-batch pair set restricted to pairs that
    touch at least one new doc — and the index side must never pair
    internally."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    old = near_dup_docs.filter(F.col("doc_id") % 2 == 0)
    new = near_dup_docs.filter(F.col("doc_id") % 2 == 1)
    idx_path = str(tmp_path / "minhash_index")
    minhash_index(old).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    inc = {
        (r["id_a"], r["id_b"]): (r["a_is_new"], r["b_is_new"])
        for r in minhash_lsh_pairs_incremental(
            new, index, threshold=0.3
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(near_dup_docs, threshold=0.3).collect()
    }
    new_ids = {r["doc_id"] for r in new.collect()}
    want = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert set(inc) == want
    # flags reflect sides, and no index×index pair leaks through
    for (ia, ib), (a_new, b_new) in inc.items():
        assert a_new == (ia in new_ids) and b_new == (ib in new_ids)
        assert a_new or b_new
    # planted cross-parity pairs (10x, 10x+1) must be found
    for base in (0, 10, 20):
        assert (base, base + 1) in inc


def test_incremental_lsh_reingest_prefers_fresh_signature(spark):
    """An id present in BOTH the index and the new batch uses the new
    batch's text: stale index text must not create pairs."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    words = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    index = minhash_index(
        spark.createDataFrame(
            [(1, words), (2, other)], ["doc_id", "text"]
        )
    )
    # doc 1 re-ingested with text now matching doc 2, not its old self
    new = spark.createDataFrame([(1, other)], ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_incremental(
            new, index, threshold=0.5
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_minhash_estimate_tracks_exact_jaccard(spark, near_dup_docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in shingle_pairs_jaccard(
            near_dup_docs, threshold=0.0
        ).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(near_dup_docs, threshold=0.0).collect()
    }
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) < 0.25, (pair, e, exact[pair])


def test_overlap_catches_contained_doc_jaccard_misses(spark):
    """A short doc fully contained in a long one: overlap coefficient
    is exactly 1.0 (every shingle of the short doc appears in the
    long), while Jaccard is diluted by the long doc's extra shingles —
    the sub-document-dedup case the containment measure exists for."""
    long_words = " ".join(f"w{j}" for j in range(60))
    short_words = " ".join(f"w{j}" for j in range(10))
    docs = spark.createDataFrame(
        [(1, long_words), (2, short_words), (3, "totally different text")],
        ["doc_id", "text"],
    )
    ov = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in shingle_pairs_overlap(docs, threshold=0.0).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in shingle_pairs_jaccard(docs, threshold=0.0).collect()
    }
    assert ov[(1, 2)] == 1.0
    # 8 shingles in the short doc, 58 in the long: J = 8/58
    assert abs(jac[(1, 2)] - 8 / 58) < 1e-12
    assert (1, 3) not in ov and (2, 3) not in ov


def test_max_shingle_df_bounds_stop_shingle_candidates(spark):
    """A stop-shingle shared by every doc must not generate O(n²)
    candidate pairs: with the df cap on (default), spurious pairs
    disappear while a planted near-dup (sharing many RARE shingles) is
    still found with high jaccard."""
    stop = "common stop phrase"
    rows = [
        (i, f"{stop} " + " ".join(f"u{i}w{j}" for j in range(10)))
        for i in range(30)
    ]
    planted = " ".join(f"shared{j}" for j in range(40))
    rows.append((1000, f"{stop} {planted}"))
    rows.append((1001, f"{stop} {planted.replace('shared20', 'MUT')}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = shingle_pairs_jaccard(
        docs, threshold=0.0, max_shingle_df=None
    ).collect()
    capped = shingle_pairs_jaccard(
        docs, threshold=0.0, max_shingle_df=5
    ).collect()
    # uncapped: every pair of the 32 docs shares the stop shingle
    assert len(uncapped) >= 30 * 29 // 2
    # capped: only pairs sharing rare shingles survive — bounded, and
    # the planted dup is among them with high jaccard
    assert len(capped) < 30
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped}
    assert by_pair.get((1000, 1001), 0.0) > 0.8


def test_simhash_near_dups_have_small_hamming(spark, near_dup_docs):
    """Deterministic data + deterministic hash → fixed outcome: one
    word changed in 40 flips only the bits where that word's ±1 vote
    was pivotal — hamming ≤ 4 for every planted pair."""
    pairs = simhash_pairs(near_dup_docs, max_hamming=10).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((0, 1)) == 2
    assert found.get((10, 11)) == 1
    assert found.get((20, 21)) == 4
    # exact duplicates always pair at hamming 0 (chunk match guaranteed)
    dup = near_dup_docs.sparkSession.createDataFrame(
        [(500, "same words here"), (501, "same words here")],
        ["doc_id", "text"],
    )
    exact = simhash_pairs(dup, max_hamming=0).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in exact] == [
        (500, 501, 0)
    ]


@pytest.fixture(scope="module")
def embeddings_df(spark):
    from org_revue_de_presse_trends_spark.catalog import load_table

    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def test_ivf_recall_vs_brute_force(spark, embeddings_df):
    queries = embeddings_df.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(embeddings_df, queries, k=10)
    truth = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }
    cents = train_centroids(embeddings_df, n_cells=8)
    approx = ivf_topk(embeddings_df, queries, cents, k=10, n_probe=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # Lloyd-refined centroids must stay a usable index
    from org_revue_de_presse_trends_spark.operators.similarity import (
        train_centroids_local,
    )

    refined = train_centroids_local(embeddings_df, n_cells=8, iters=2)
    approx2 = ivf_topk(embeddings_df, queries, refined, k=10, n_probe=4)
    got2 = {(r["query_id"], r["neighbor_id"]) for r in approx2.collect()}
    recall2 = len(got2 & truth) / len(truth)
    assert recall2 >= 0.5, f"refined IVF recall too low: {recall2:.2f}"
    # exact path: every query returns exactly k ranked 1..k
    by_q = {}
    for r in exact.collect():
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 11)) for v in by_q.values())


def test_pq_adc_matches_numpy_reconstruction(spark, embeddings_df):
    """The ADC lookup-table score must equal the explicit
    reconstruction cosine computed independently in numpy."""
    import numpy as np

    books = train_pq_codebooks(embeddings_df, m=8, n_codes=16, iters=1)
    q = embeddings_df.filter(F.col("vec_id") == 0)
    scored = pq_topk(embeddings_df, q, books, k=499)
    got = {r["neighbor_id"]: r["cos_pq"] for r in scored.collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in embeddings_df.filter(
            F.col("vec_id").isin([0, 1, 2, 77, 400])
        ).collect()
    }
    qv = vecs[0]
    for nid in (1, 2, 77, 400):
        codes = [
            int(
                np.argmin(
                    (
                        (np.array(books[j]) - vecs[nid][j * 8 : (j + 1) * 8])
                        ** 2
                    ).sum(axis=1)
                )
            )
            for j in range(8)
        ]
        recon = np.concatenate([books[j][codes[j]] for j in range(8)])
        want = float(
            qv @ recon / (np.linalg.norm(qv) * np.linalg.norm(recon))
        )
        assert abs(got[nid] - want) < 1e-9, nid


def test_pq_rerank_recall_vs_brute_force(spark, embeddings_df):
    queries = embeddings_df.filter(F.col("vec_id") < 8)
    exact_rows = brute_force_topk(embeddings_df, queries, k=10).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    books = train_pq_codebooks(embeddings_df, m=8, n_codes=16, iters=2)
    approx = pq_topk_rerank(
        embeddings_df, queries, books, k=10, shortlist=50
    )
    rows = approx.collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"PQ+rerank recall too low: {recall:.2f}"
    # every query returns exactly k rows ranked 1..k
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 11)) for v in by_q.values())
    # re-ranked scores are the EXACT cosines: each shortlisted pair's
    # cos must match the brute-force value where both rank it
    exact_cos = {
        (r["query_id"], r["neighbor_id"]): r["cos"] for r in exact_rows
    }
    for r in rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cos"] - exact_cos[key]) < 1e-9


def test_pq_encode_shape_and_determinism(spark, embeddings_df):
    books = train_pq_codebooks(embeddings_df, m=8, n_codes=16, iters=0)
    enc = pq_encode(embeddings_df, books)
    rows = enc.collect()
    assert len(rows) == embeddings_df.count()
    for r in rows[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
        assert r["rnorm"] > 0
    again = {
        r["vec_id"]: (tuple(r["codes"]), r["rnorm"])
        for r in pq_encode(embeddings_df, books).collect()
    }
    first = {r["vec_id"]: (tuple(r["codes"]), r["rnorm"]) for r in rows}
    assert first == again
    # seeds-only training is itself deterministic across invocations
    books2 = train_pq_codebooks(embeddings_df, m=8, n_codes=16, iters=0)
    assert books == books2


def test_anti_join_null_aware_vs_default(spark):
    left = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], ["id", "k"]
    )
    keys = spark.createDataFrame([(20,), (None,)], ["k2"])
    # default: non-null-key semantics — id 1 and the null-key row pass
    got = {r["id"] for r in
           anti_join(left, keys, on=("k", "k2")).collect()}
    assert got == {1, 3}
    # null-aware NOT IN: any NULL in the key set -> empty result
    got_na = anti_join(left, keys, on=("k", "k2"), null_aware=True).count()
    assert got_na == 0
    keys_nonnull = spark.createDataFrame([(20,)], ["k2"])
    got_na2 = {
        r["id"]
        for r in anti_join(
            left, keys_nonnull, on=("k", "k2"), null_aware=True
        ).collect()
    }
    assert got_na2 == {1}  # null-key left row excluded by NOT IN


def test_anti_join_null_aware_concurrent_independent(spark):
    """Two null-aware anti-joins built before either is collected must
    not share state (uuid-suffixed views; fixed names silently collide)."""
    left1 = spark.createDataFrame([(1, 10), (2, 20)], ["id", "k"])
    keys1 = spark.createDataFrame([(20,)], ["k2"])
    left2 = spark.createDataFrame([(7, 70), (8, 80)], ["id", "k"])
    keys2 = spark.createDataFrame([(70,)], ["k2"])
    aj1 = anti_join(left1, keys1, on=("k", "k2"), null_aware=True)
    aj2 = anti_join(left2, keys2, on=("k", "k2"), null_aware=True)
    assert {r["id"] for r in aj1.collect()} == {1}
    assert {r["id"] for r in aj2.collect()} == {8}
    # views are cleaned up after plan resolution
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__aj_")
    ]


def test_civil_day_shift_and_tz(spark):
    df = spark.createDataFrame(
        [("2024-03-02 00:30:00",), ("2024-03-02 01:30:00",),
         ("2024-03-02 23:30:00",)],
        ["s"],
    ).select(F.col("s").cast("timestamp").alias("ts"))
    shifted = [str(r[0]) for r in df.select(civil_day(F.col("ts"))).collect()]
    assert shifted == ["2024-03-01", "2024-03-02", "2024-03-02"]
    # corrected tz mode: CET in March is UTC+1 → same as -1h here
    tz = [str(r[0]) for r in
          df.select(civil_day(F.col("ts"), tz="Europe/Paris")).collect()]
    assert tz == shifted
    # but in July CEST is UTC+2 and the fixed shift diverges (the
    # reference's documented DST bug): 01:30 local is still the prior
    # civil day under the correct -2h conversion
    july = spark.createDataFrame(
        [("2024-07-02 01:30:00",)], ["s"]
    ).select(F.col("s").cast("timestamp").alias("ts"))
    fixed = str(july.select(civil_day(F.col("ts"))).collect()[0][0])
    correct = str(
        july.select(civil_day(F.col("ts"), tz="Europe/Paris")).collect()[0][0]
    )
    assert fixed == "2024-07-02" and correct == "2024-07-01"


def test_popularity_cascade(spark):
    rows = [
        Row(p=5, h=3, doc='{"retweet_count": 1}'),
        Row(p=None, h=3, doc='{"retweet_count": 1}'),
        Row(p=None, h=None, doc='{"retweet_count": 1}'),
        Row(p=None, h=None, doc="{broken"),
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        F.expr(popularity_sql("p", "h", "doc")).alias("v"),
    ).collect()
    assert [r["v"] for r in out] == [5, 3, 1, None]


def test_is_retweet_derivation(spark):
    rows = [
        Row(rt=True, doc="{}"),
        Row(rt=None, doc='{"retweeted_status_result": {}}'),
        Row(rt=None, doc='{"other": 1}'),
        Row(rt=None, doc="{broken"),
    ]
    df = spark.createDataFrame(rows)
    got = [
        r[0]
        for r in df.select(
            F.expr(is_retweet_derived_sql("rt", "doc"))
        ).collect()
    ]
    assert got == [True, True, False, False]


def test_approx_sketches_within_bounds(spark):
    """approx_count_distinct within rsd bounds of the exact count;
    approx quantiles bracketed by min/max."""
    from org_revue_de_presse_trends_spark.catalog import load_table
    from org_revue_de_presse_trends_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in
           QUERIES["approx_sketch_stats"](spark, sf).collect()}
    ev = load_table(spark, sf, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    for t, row in got.items():
        assert abs(row["approx_users"] - exact[t]["users"]) <= max(
            3, 0.1 * exact[t]["users"]
        )
        q50, q90, q99 = row["approx_p50"], row["approx_p90"], row["approx_p99"]
        assert exact[t]["lo"] <= q50 <= q90 <= q99 <= exact[t]["hi"]


def test_chunks_edge_cases(spark):
    from org_revue_de_presse_trends_spark.functions.text import (
        chunks_from_tokens,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(5))),    # shorter than size
            (2, " ".join(f"w{i}" for i in range(50))),   # exactly one chunk
            (3, " ".join(f"w{i}" for i in range(51))),   # needs 2 chunks
            (4, " ".join(f"w{i}" for i in range(130))),  # 3 chunks
        ],
        ["doc_id", "text"],
    ).withColumn("__toks", tokens(F.col("text")))
    out = df.select(
        "doc_id",
        F.explode(chunks_from_tokens(F.col("__toks"), 50, 10)).alias("c"),
    ).select("doc_id", "c.chunk_id", "c.n_tokens")
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["n_tokens"])
    assert got[1] == [5]
    assert got[2] == [50]
    assert sorted(got[3], reverse=True) == [50, 11]   # overlap keeps last 11
    assert sorted(got[4], reverse=True) == [50, 50, 50]
    # overlap >= size rejected
    with pytest.raises(ValueError):
        chunks_from_tokens(F.col("__toks"), 10, 10)


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"),
         (2, "el perro y los gatos que ladran"),
         (3, "der hund und die katze ist hier"),
         (4, "xyz qrs tuv")],
        ["id", "text"],
    )
    got = {r["id"]: r["g"] for r in
           df.select("id", T.lang_id(F.col("text")).alias("g")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_star_cc_matches_label_propagation(spark):
    """Large-star/small-star CC must produce identical clusters to
    min-label propagation — including on a 100-node CHAIN, the
    adversarial case: label propagation needs ~n rounds there, the star
    algorithm must finish within 15 (O(log² n))."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        cluster_pairs,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    star = {
        (r["id"], r["cluster"])
        for r in cluster_pairs(
            chain, max_iter=15, algorithm="star", small_graph_max=0
        ).collect()
    }
    label = {
        (r["id"], r["cluster"])
        for r in cluster_pairs(
            chain, max_iter=200, small_graph_max=0
        ).collect()
    }
    assert star == label
    assert len(star) == 101 and all(c == 0 for _, c in star)
    # the driver union-find fast path (default gate) must agree too
    fast = {
        (r["id"], r["cluster"]) for r in cluster_pairs(chain).collect()
    }
    assert fast == label

    import random

    rng = random.Random(7)
    raw = [(rng.randrange(500), rng.randrange(500)) for _ in range(300)]
    pdf = spark.createDataFrame(
        [(a, b) for a, b in raw if a != b], ["id_a", "id_b"]
    )
    s2 = {
        (r["id"], r["cluster"])
        for r in cluster_pairs(
            pdf, max_iter=30, algorithm="star", small_graph_max=0
        ).collect()
    }
    l2 = {
        (r["id"], r["cluster"])
        for r in cluster_pairs(
            pdf, max_iter=200, small_graph_max=0
        ).collect()
    }
    assert s2 == l2
    f2 = {(r["id"], r["cluster"]) for r in cluster_pairs(pdf).collect()}
    assert f2 == l2


def test_winnow_fingerprint_guarantee_and_density(spark):
    """Winnowing guarantee (SIGMOD'03): docs sharing a token run of
    length >= w + k - 1 (= 8 for k=5, w=4) share >= 1 fingerprint;
    density stays well below the full k-gram count."""
    shared_run = " ".join(f"plag{j}" for j in range(12))  # 12 > 8
    rows = [
        (1, "aaa bbb ccc " + shared_run + " ddd eee fff"),
        (2, "xxx yyy " + shared_run + " zzz www qqq rrr"),
        (3, " ".join(f"other{j}" for j in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: set(r["fps"])
        for r in T.with_winnow_fingerprints(df, "text", "fps", k=5, w=4)
        .select("doc_id", "fps")
        .collect()
    }
    assert out[1] & out[2], "shared 12-token run must share a fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])
    # density: fingerprints are a strict subset of the k-gram positions
    n_tokens = 30
    assert 1 <= len(out[3]) < n_tokens - 5 + 1
    # short-doc path: fewer than k tokens still yields one fingerprint
    tiny = spark.createDataFrame([(9, "two words")], ["doc_id", "text"])
    got = T.with_winnow_fingerprints(
        tiny, "text", "fps", k=5, w=4
    ).collect()[0]["fps"]
    assert len(got) == 1


def test_srp_lsh_recalls_planted_near_dup_vectors(spark):
    """Planted near-duplicate embeddings (copy + small perturbation,
    cos > 0.99) must collide in >= 1 SRP band and be emitted; random
    orthogonal-ish vectors must not pair at threshold 0.9."""
    import math
    import random

    from org_revue_de_presse_trends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    rng = random.Random(3)
    dim = 64
    rows = []
    for i in range(20):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((i * 10, v))
        rows.append((i * 10 + 1, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_lsh_pairs(df, threshold=0.9, dim=dim).collect()
    }
    for base in range(0, 200, 10):
        assert (base, base + 1) in pairs, f"planted pair {base} missed"
        assert pairs[(base, base + 1)] > 0.98
    # nothing else pairs: independent gaussians are near-orthogonal
    assert set(pairs) == {(b, b + 1) for b in range(0, 200, 10)}


def test_pack_sequences_invariants(spark):
    """Sequence packing: every chunk assigned exactly once, no sequence
    exceeds the budget (oversize chunks get singleton sequences),
    efficiency stays high, and results are layout-independent
    (hash bins, not spark partitions)."""
    from org_revue_de_presse_trends_spark.operators.packing import (
        pack_sequences,
    )

    import random

    rng = random.Random(11)
    rows = [
        (d, c, rng.randint(5, 60))
        for d in range(40)
        for c in range(rng.randint(1, 6))
    ]
    rows.append((999, 0, 200))  # oversize chunk > budget
    df = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_tokens"])
    packed = pack_sequences(df, budget=128, num_bins=8)
    out = packed.collect()
    assert len(out) == len(rows)
    assert {(r["doc_id"], r["chunk_id"]) for r in out} == {
        (d, c) for d, c, _ in rows
    }
    totals: dict[int, int] = {}
    members: dict[int, list] = {}
    for r in out:
        totals[r["seq_id"]] = totals.get(r["seq_id"], 0) + r["n_tokens"]
        members.setdefault(r["seq_id"], []).append(r)
    for sid, t in totals.items():
        if t > 128:
            assert len(members[sid]) == 1  # only a lone oversize chunk
    small_total = sum(t for t in totals.values() if t <= 128)
    n_small = sum(1 for t in totals.values() if t <= 128)
    assert small_total / (n_small * 128) >= 0.5
    # layout independence: different input partitioning, same packing
    repacked = pack_sequences(df.repartition(13), budget=128, num_bins=8)
    a = sorted(map(tuple, out))
    b = sorted(map(tuple, repacked.collect()))
    assert a == b


def test_pack_sequences_carries_input_column_types(spark):
    """Output schema mirrors the input's column types: 64-bit chunk ids
    must survive (a hardcoded int chunk column would downcast/overflow
    in Arrow)."""
    from org_revue_de_presse_trends_spark.operators.packing import (
        pack_sequences,
    )

    big = 1 << 40  # does not fit in 32 bits
    df = spark.createDataFrame(
        [(1, big + 1, 10), (1, big + 2, 20), (2, big + 3, 500)],
        "doc_id long, chunk_id long, n_tokens int",
    )
    packed = pack_sequences(df, budget=128, num_bins=4)
    assert dict(packed.dtypes)["chunk_id"] == "bigint"
    out = {r["chunk_id"] for r in packed.collect()}
    assert out == {big + 1, big + 2, big + 3}


def test_embedding_lsh_preserves_double_typed_vectors(spark):
    """array<double> embeddings must NOT round-trip through float32 in
    the banded mapInPandas schema: every emitted cos must equal the
    pure-Python double cosine of the original vectors (review finding:
    a fixed 'array<float>' output schema truncated doubles through
    Arrow and shifted threshold-boundary pairs)."""
    import math

    from org_revue_de_presse_trends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    rows = [
        (i, [0.1 * ((i + j) % 7) - 0.3 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assert df.schema["embedding"].dataType.simpleString() == "array<double>"
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_lsh_pairs(
            df, dim=8, threshold=0.99, n_bits=8, bands=2
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / na / nb

    assert got, "no pairs — weak test"
    for (i, j), c in got.items():
        assert abs(c - cos(rows[i][1], rows[j][1])) < 1e-12


def test_srp_lsh_duplicate_ids_emit_no_self_pairs(spark):
    """duplicate input ids must not surface as id_a == id_b self-pairs
    (the position-paired matmul kernel would otherwise emit cos-1.0
    rows the replaced join formulation's a.id < b.id excluded)."""
    import math
    import random

    from org_revue_de_presse_trends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(6):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        v = [x / n for x in v]
        rows.append((i, v))
        rows.append((i, v))  # exact duplicate id + vector
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = embedding_lsh_pairs(df, threshold=0.9, dim=dim).collect()
    assert all(r["id_a"] != r["id_b"] for r in got), got


def test_hamming_pairs_chunk_df_cap_drops_degenerate_hash(spark):
    """max_chunk_df guard: a degenerate hash value shared by m items
    (all-black pHash, silent-audio fingerprint) floods its chunk
    buckets with m rows each; the cap drops those buckets before the
    join while a planted distinct near-pair still pairs."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        hamming_pairs,
    )

    rows = [(i, 0) for i in range(30)]  # degenerate constant hash
    rows += [(100, 0x0F0F0F0F), (101, 0x0F0F0F0E)]  # hamming 1
    df = spark.createDataFrame(rows, ["id", "sh"])
    capped = {
        (r["id_a"], r["id_b"])
        for r in hamming_pairs(df, max_hamming=3, max_chunk_df=5).collect()
    }
    assert capped == {(100, 101)}, capped
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in hamming_pairs(df, max_hamming=3).collect()
    }
    assert len(uncapped) == 30 * 29 // 2 + 1, len(uncapped)


def test_blocked_exact_cosine_pairs_matches_join_form(spark):
    """The BLAS-prefilter + exact-rescore path must equal the label
    equi-join + scaled-long HOF formulation exactly (same pair set,
    bit-identical cos doubles) — including near-threshold pairs and
    duplicate-id exclusion."""
    import math
    import random

    from org_revue_de_presse_trends_spark.functions import vectors as V
    from org_revue_de_presse_trends_spark.operators.dedup import (
        blocked_exact_cosine_pairs,
    )

    rng = random.Random(11)
    dim = 16
    rows = []
    base = [rng.gauss(0, 1) for _ in range(dim)]
    bn = math.sqrt(sum(x * x for x in base))
    base = [x / bn for x in base]
    for i in range(40):
        if i % 4 == 0:  # near-threshold neighbors of base
            v = [x + rng.gauss(0, 0.9) for x in base]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, i % 3, v))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in blocked_exact_cosine_pairs(
            df, "label", threshold=0.2
        ).collect()
    }
    e = df.select(
        "vec_id", "label", "embedding",
        F.sqrt(
            V.dot_scaled(F.col("embedding"), F.col("embedding"))
            .cast("double")
        ).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    cos = (
        V.dot_scaled(F.col("a.embedding"), F.col("b.embedding"))
        .cast("double") / F.col("a.nrm") / F.col("b.nrm")
    )
    want = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.2)
        .collect()
    }
    assert set(got) == set(want)
    assert all(got[k] == want[k] for k in want), "cos doubles drifted"
    assert want, "test corpus produced no pairs — not exercising anything"


def test_kmv_jaccard_exact_when_union_fits_in_k(spark):
    """KMV with k >= |A ∪ B| degrades to the EXACT Jaccard of the
    hashed shingle sets; with small k it still ranks a planted
    high-overlap pair above unrelated ones."""
    from org_revue_de_presse_trends_spark.operators.kmv import (
        kmv_jaccard_pairs,
        kmv_sketches,
    )

    import random

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(400)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    rows = []
    base = doc(60)
    for i in range(5):
        rows.append((i, "A", base + " " + doc(20)))   # A≈B planted
        rows.append((100 + i, "B", base + " " + doc(20)))
        rows.append((200 + i, "C", doc(80)))          # unrelated
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # big k: exact
    sk = kmv_sketches(df, "source", k=100_000)
    est = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_jaccard_pairs(sk, k=100_000).collect()
    }
    # exact jaccard over the same shingle-hash sets, computed naively
    from org_revue_de_presse_trends_spark.operators.kmv import kmv_hash
    from org_revue_de_presse_trends_spark.functions import text as T

    hs = (
        T.with_shingles(df.select("source", "text"), "text", "sh", 3)
        .select("source", F.explode("sh").alias("shingle"))
        .select("source", kmv_hash(F.col("shingle")).alias("h"))
        .distinct()
        .collect()
    )
    sets: dict = {}
    for r in hs:
        sets.setdefault(r["source"], set()).add(r["h"])
    for (ga, gb), r in est.items():
        a, b = sets[ga], sets[gb]
        exact = len(a & b) / len(a | b)
        assert abs(r["est_jaccard"] - exact) < 1e-12, (ga, gb)
        assert r["n_union_kmin"] == len(a | b)
    # small k: estimator still separates planted from unrelated
    sk16 = kmv_sketches(df, "source", k=16)
    est16 = {
        (r["group_a"], r["group_b"]): r["est_jaccard"]
        for r in kmv_jaccard_pairs(sk16, k=16).collect()
    }
    assert est16[("A", "B")] > max(est16[("A", "C")], est16[("B", "C")])
