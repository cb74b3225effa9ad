"""Scale smoke: the core operator shapes on 10M generated rows (no
I/O) — verifies the plans complete with bounded memory on data 17×
the sf0.1 fixtures and that results stay exact (closed-form
checkable because the data is arithmetic)."""

from __future__ import annotations

from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.operators.argmax import argmax
from org_revue_de_presse_trends_spark.operators.topk import top_k

N = 10_000_000
G = 100_000  # groups


def _big(spark):
    return spark.range(N).select(
        F.col("id"),
        (F.col("id") % G).alias("g"),
        ((F.col("id") * 37) % 1_000_003).alias("v"),
    )


def test_argmax_10m(spark):
    """argmax over 100k groups: result is exact and closed-form — the
    winner of group g is the row with max ((id*37) mod p, id)."""
    df = _big(spark)
    out = argmax(
        df, group=["g"], order_key=F.struct(F.col("v"), F.col("id")),
        payload=["id", "v"],
    )
    assert out.count() == G
    sample = {r["g"]: (r["id"], r["v"]) for r in out.filter(F.col("g") < 3).collect()}
    for g, (rid, rv) in sample.items():
        best = max(
            ((i * 37) % 1_000_003, i) for i in range(g, N, G)
        )
        assert (rid, rv) == (best[1], best[0])


def test_topk_10m(spark):
    """Global top-5 via TakeOrderedAndProject: v=(id*37) mod p has a
    known maximum structure; verify against a driver-side scan of the
    top candidates."""
    df = _big(spark)
    got = [(r["v"], r["id"]) for r in
           top_k(df, [F.desc("v"), F.asc("id")], 5).collect()]
    # closed form: v = 1_000_002 occurs when id*37 ≡ -1 (mod p);
    # verify ordering invariants instead of enumerating 10M in python
    assert len(got) == 5
    assert got == sorted(got, key=lambda t: (-t[0], t[1]))
    assert got[0][0] == 1_000_002  # p-1 is attained (37 invertible mod p)


def test_grouped_topk_10m_few_groups(spark):
    """Two-phase grouped top-k with only 4 groups over 10M rows — the
    shape that motivates it: a bare PARTITION BY window would drag
    2.5M rows into each of 4 reducers.  Winners are closed-form."""
    import heapq

    from org_revue_de_presse_trends_spark.operators.similarity import (
        grouped_topk,
    )

    df = spark.range(N).select(
        (F.col("id") % 4).alias("query_id"),
        F.col("id").alias("neighbor_id"),
        ((F.col("id") * 37) % 1_000_003).cast("double").alias("cos"),
    )
    out = grouped_topk(df, k=3)
    got = {
        (r["query_id"], r["rank"]): (r["cos"], r["neighbor_id"])
        for r in out.collect()
    }
    assert len(got) == 12
    for q in range(4):
        want = heapq.nlargest(
            3,
            (((i * 37) % 1_000_003, -i) for i in range(q, N, 4)),
        )
        for rank, (v, neg_i) in enumerate(want, start=1):
            assert got[(q, rank)] == (float(v), -neg_i)


# --- LSH composites at 10× (round-3 verdict item 7) ------------------------
# Structural scaling check on the two LSH candidate generators: runtime
# AND shuffle volume must grow ~linearly in corpus size (quadratic =
# 100× at 10× data; the 30× ceilings leave 3× headroom over linear for
# host steal-time noise).  Shuffle bytes come from the metrics
# collector, so the bound is on actual exchange volume, not wall time.

import time as _time

from org_revue_de_presse_trends_spark.observability import MetricsCollector


def _synthetic_embeddings(spark, n: int, dim: int = 16):
    """Deterministic pseudo-random vectors in [-1,1]^dim (no RNG: the
    value is a hash of (id, coordinate))."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), "
            "j -> cast(xxhash64(id, j) as double) / 9.223372036854776e18)"
        ).alias("embedding"),
    )


def _synthetic_docs(spark, n: int, n_tokens: int = 30, vocab: int = 5000):
    """n distinct documents of pseudo-random tokens (hash-derived, so
    regeneration is exact)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(1, {n_tokens}), "
            f"i -> concat('w', pmod(xxhash64(id, i), {vocab}))), ' ')"
        ).alias("text"),
    )


def test_embedding_lsh_scales_linearly_10x(spark):
    from org_revue_de_presse_trends_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    mc = MetricsCollector(spark)
    dim, results = 16, {}
    for n in (2_000, 20_000):
        pairs = embedding_lsh_pairs(
            _synthetic_embeddings(spark, n, dim),
            dim=dim, threshold=0.95, n_bits=32, bands=2,
        )
        t0 = _time.perf_counter()
        _, qm = mc.measure(f"emb_lsh_{n}", pairs, action=lambda d: d.count())
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[20_000][0] / results[2_000][0]
    s_ratio = results[20_000][1] / max(results[2_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× vectors"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× vectors"


def test_minhash_lsh_scales_linearly_10x(spark):
    from org_revue_de_presse_trends_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        pairs = minhash_lsh_pairs(_synthetic_docs(spark, n))
        t0 = _time.perf_counter()
        _, qm = mc.measure(f"mh_lsh_{n}", pairs, action=lambda d: d.count())
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def test_incremental_lsh_cost_tracks_batch_not_index(spark):
    """The continuous-ingest claim, measured: with a FIXED new batch,
    growing the signature index 10× must grow runtime and shuffle far
    less than the full-batch rerun it replaces (which reprocesses all
    text).  Bound is generous (<5×) for host noise; the point is it
    cannot be ~10×."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    mc = MetricsCollector(spark)
    batch = _synthetic_docs(spark, 200).filter(F.col("doc_id") < 200)
    results = {}
    for n_index in (1_000, 10_000):
        # index ids offset so they never collide with the batch
        index = minhash_index(
            _synthetic_docs(spark, n_index + 1_000)
            .filter(F.col("doc_id") >= 1_000)
        ).localCheckpoint()  # persisted artifact stand-in
        pairs = minhash_lsh_pairs_incremental(batch, index, threshold=0.9)
        t0 = _time.perf_counter()
        _, qm = mc.measure(
            f"inc_lsh_{n_index}", pairs, action=lambda d: d.count()
        )
        results[n_index] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
        )
    t_ratio = results[10_000][0] / results[1_000][0]
    assert t_ratio < 5, (
        f"runtime grew {t_ratio:.1f}× for 10× index with a fixed batch"
    )


def test_pq_encode_scales_linearly_10x(spark):
    """PQ encode is a pure map stage: 10× vectors must cost <30× wall
    and produce ZERO shuffle at any size."""
    from org_revue_de_presse_trends_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    mc = MetricsCollector(spark)
    dim = 16
    small = _synthetic_embeddings(spark, 2_000, dim)
    books = train_pq_codebooks(
        small, m=4, n_codes=16, iters=0, dim=dim
    )
    results = {}
    for n in (2_000, 20_000):
        enc = pq_encode(_synthetic_embeddings(spark, n, dim), books)
        t0 = _time.perf_counter()
        # noop writer: a count() would add its own final-aggregate
        # exchange and mask the zero-shuffle claim
        _, qm = mc.measure(
            f"pq_enc_{n}",
            enc,
            action=lambda d: d.write.format("noop").mode(
                "overwrite"
            ).save(),
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert qm.shuffle_bytes_written == 0, "encode must not shuffle"
    t_ratio = results[20_000][0] / results[2_000][0]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× vectors"


def test_semantic_dedup_scales_linearly_10x(spark):
    """SemDeDup with n_cells ∝ corpus (the documented 100 TB knob:
    fixed expected cell occupancy ⇒ Σ|cell|² grows linearly): runtime
    and shuffle bytes must stay sub-quadratic for 10× vectors.  The
    iterative phases (k-means collects, CC rounds) contribute a fixed
    per-run driver-sync cost, so the wall ratio sits well under the
    pair-work bound."""
    from org_revue_de_presse_trends_spark.operators.semdedup import (
        semantic_dedup,
    )

    mc = MetricsCollector(spark)
    dim, results = 16, {}
    for n in (2_000, 20_000):
        out = semantic_dedup(
            _synthetic_embeddings(spark, n, dim),
            n_cells=max(8, n // 250), threshold=0.95,
            kmeans_iters=1, dim=dim,
        )
        t0 = _time.perf_counter()
        _, qm = mc.measure(f"semdedup_{n}", out, action=lambda d: d.count())
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[20_000][0] / results[2_000][0]
    s_ratio = results[20_000][1] / max(results[2_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× vectors"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× vectors"


def test_span_decontamination_scales_linearly_10x(spark):
    """remove_contaminated_spans over 10× docs: runtime and shuffle
    grow < 30×.  A fixed small benchmark (20 docs sampled from the
    corpus generator) stays broadcast; the rebuild stage touches only
    the contaminated subset, so corpus growth must not drag the whole
    pipeline super-linearly."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        docs = _synthetic_docs(spark, n)
        bench = (
            _synthetic_docs(spark, 20)
            .select(F.col("doc_id").alias("bench_id"), "text")
        )
        out = remove_contaminated_spans(docs, bench, n=13)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"span_decon_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def _synthetic_videos(spark, n: int):
    """n videos sharing ONE ubiquitous 128-byte intro frame (frame 0)
    with unique remaining frames — 1024-byte payloads sliced into 8
    frames by the fake decoder.  Spark-side generation, no driver
    loop."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.expr(
            "cast(concat(repeat('I', 128), "
            "substring(repeat(md5(cast(id as string)), 28), 1, 896)) "
            "as binary)"
        ).alias("payload"),
        F.expr(
            "named_struct('mime', cast(null as string), "
            "'width', cast(null as int), 'height', cast(null as int), "
            "'duration_ms', 8000)"
        ).alias("meta"),
    )


def test_video_near_dup_capped_scales_linearly_10x(spark):
    """The max_frame_df guard keeps the frame-hash self-join linear
    when every video shares an intro frame — uncapped this shape is
    Σm² = n² candidate rows, so 10× videos would grow runtime and
    shuffle ~100×."""
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (1_000, 10_000):
        pairs = video_near_dup_pairs(
            _synthetic_videos(spark, n), every_ms=1000, threshold=0.1,
            decoder="fake", max_frame_df=100,
        )
        t0 = _time.perf_counter()
        _, qm = mc.measure(
            f"video_dup_{n}", pairs, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[10_000][0] / results[1_000][0]
    s_ratio = results[10_000][1] / max(results[1_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× videos"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× videos"


def test_hamming_pairs_capped_scales_linearly_10x(spark):
    """Degenerate constant hash (10% of items) + max_chunk_df: the
    chunk join must stay linear in n, not quadratic in the degenerate
    mass — the pHash/audio-fingerprint skew shape."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        hamming_pairs,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (20_000, 200_000):
        hashed = spark.range(n).select(
            F.col("id"),
            # 10% collapse to sh=0 (degenerate); the rest pseudo-random
            F.expr(
                "case when id % 10 = 0 then cast(0 as bigint) "
                "else xxhash64(id) end"
            ).alias("sh"),
        )
        pairs = hamming_pairs(hashed, max_hamming=3, max_chunk_df=100)
        t0 = _time.perf_counter()
        _, qm = mc.measure(
            f"hamming_{n}", pairs, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[200_000][0] / results[20_000][0]
    s_ratio = results[200_000][1] / max(results[20_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× hashes"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× hashes"


def test_blocked_exact_cosine_scales_linearly_10x(spark):
    """blocked_exact_cosine_pairs: per-block BLAS prefilter + exact
    rescore must scale with Σ|block|²·dim, which under a fixed block
    count grows ~100× for 10× vectors — so we scale the BLOCK COUNT
    with n (the operator's documented occupancy contract) and runtime/
    shuffle must then stay ~linear."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        blocked_exact_cosine_pairs,
    )

    mc = MetricsCollector(spark)
    dim, results = 16, {}
    for n, nblocks in ((2_000, 20), (20_000, 200)):
        vecs = _synthetic_embeddings(spark, n, dim).select(
            "vec_id", "embedding",
            (F.col("vec_id") % nblocks).alias("blk"),
        )
        pairs = blocked_exact_cosine_pairs(
            vecs, "blk", threshold=0.6,
        )
        t0 = _time.perf_counter()
        _, qm = mc.measure(f"bec_{n}", pairs, action=lambda d: d.count())
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
    t_ratio = results[20_000][0] / results[2_000][0]
    s_ratio = results[20_000][1] / max(results[2_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× vectors"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× vectors"


def test_qchunk_edit_distance_scales_subquadratically_10x(spark):
    """edit_distance_pairs_qchunk (the r7 bounded-threshold candidate
    path): 10× docs must grow runtime and shuffle far below the ~100×
    a per-block cross product would show.  Docs are hash-random
    (~300 chars, 4 sources); every doc with id % 50 == 4 is a copy of
    doc id-4 (same source) with one token substituted, so the operator
    has real pairs to find — each planted pair is within edit distance
    ~8 < 20 and the planted count scales with n."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        edit_distance_pairs_qchunk,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).alias("source"),
            F.expr(
                "array_join(transform(sequence(1, 50), i -> CASE "
                "WHEN i = 7 AND id % 50 = 4 THEN 'edited' "
                "ELSE concat('w', pmod(xxhash64(CASE WHEN id % 50 = 4 "
                "THEN id - 4 ELSE id END, i), 5000)) END), ' ')"
            ).alias("text"),
        )
        pairs = edit_distance_pairs_qchunk(
            docs, block_cols=["source"], max_dist=20
        )
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"qchunk_{n}", pairs, action=lambda d: d.count()
        )
        results[n] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
            rows,
        )
    # every planted (id-4, id) pair is same-source and within the
    # threshold: the operator must find at least all of them
    assert results[500][2] >= 9
    assert results[5_000][2] >= 99
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def test_merge_changes_scales_linearly_10x(spark):
    """CDC MERGE (operators/scd.merge_changes): union + one max_by
    hash aggregate — runtime and shuffle must track input size, not
    keys² (r6 verdict item 4: the CDC/KMV/zorder family had no growth
    pin)."""
    from org_revue_de_presse_trends_spark.operators.scd import (
        merge_changes,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (50_000, 500_000):
        snap = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        chg = spark.range(n // 2).select(
            (F.col("id") * 2).alias("k"),
            (F.col("id") * 7).alias("v"),
            F.when(F.col("id") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("id").alias("seq"),
        )
        out = merge_changes(snap, chg, key_cols=["k"], seq_cols=["seq"])
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"merge_{n}", out, action=lambda d: d.count()
        )
        results[n] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
            rows,
        )
        # closed form: keys = n; deletes remove the n//20 even keys
        # whose change id % 10 == 0
        assert rows == n - n // 20
    t_ratio = results[500_000][0] / results[50_000][0]
    s_ratio = results[500_000][1] / max(results[50_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× rows"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× rows"


def test_scd2_scales_linearly_10x(spark):
    """SCD2 history build: all window work inside one key partitioning
    — 10× observations with 10× keys (fixed obs-per-key) must stay
    ~linear in runtime and shuffle."""
    from org_revue_de_presse_trends_spark.operators.scd import (
        scd2_from_observations,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (100_000, 1_000_000):
        keys = n // 10  # 10 observations per key at both scales
        obs = spark.range(n).select(
            (F.col("id") % keys).alias("k"),
            # attribute flips halfway through each key's history
            # (each key observes ids {k, k+keys, ..., k+9·keys})
            (F.col("id") >= F.lit(5) * F.lit(keys))
            .cast("int")
            .alias("attr"),
            F.col("id").alias("ts"),
            F.col("id").alias("tb"),
        )
        out = scd2_from_observations(
            obs, key_cols=["k"], attr_cols=["attr"],
            ts_col="ts", tiebreak_col="tb",
        )
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"scd2_{n}", out, action=lambda d: d.count()
        )
        results[n] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
            rows,
        )
        # each key has exactly 2 intervals (attr flips once)
        assert rows == 2 * keys
    t_ratio = results[1_000_000][0] / results[100_000][0]
    s_ratio = results[1_000_000][1] / max(results[100_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× rows"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× rows"


def test_kmv_sketches_scales_linearly_10x(spark):
    """KMV sketch build: the two-phase hash-binned k-min must keep the
    final sketch size FIXED (k per group) while scan-side work grows
    linearly — runtime/shuffle ratio far below quadratic, and the
    sketch row count pinned to the group count at both scales."""
    from org_revue_de_presse_trends_spark.operators.kmv import (
        kmv_sketches,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        docs = _synthetic_docs(spark, n).select(
            (F.col("doc_id") % 8).alias("source"), "text"
        )
        sk = kmv_sketches(docs, "source", k=64)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"kmv_{n}", sk, action=lambda d: d.count()
        )
        results[n] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
            rows,
        )
        assert rows == 8  # one sketch row per group, at every scale
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def test_zorder_key_scales_linearly_10x(spark):
    """Z-order key projection: one min/max aggregate for edges plus a
    per-row bit interleave — embarrassingly linear; pin it."""
    from org_revue_de_presse_trends_spark.sources.zorder import (
        linear_edges,
        with_zorder_key,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (100_000, 1_000_000):
        df = spark.range(n).select(
            F.col("id").alias("x"),
            ((F.col("id") * 37) % 1_000_003).alias("y"),
        )
        edges = linear_edges(df, ["x", "y"])
        keyed = with_zorder_key(df, ["x", "y"], edges, bits=8)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"zorder_{n}", keyed, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n
    t_ratio = results[1_000_000][0] / results[100_000][0]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× rows"


def test_duplicate_span_removal_scales_linearly_10x(spark):
    """remove_duplicate_spans: 10× docs (with planted duplicated runs
    scaling alongside) must grow runtime/shuffle ~linearly — the gram
    count-window partitions by fingerprint, never by corpus."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_duplicate_spans,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        # every 10th doc shares a 12-token run with its neighbor
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "array_join(transform(sequence(1, 40), i -> CASE "
                "WHEN i BETWEEN 5 AND 16 THEN concat('shared', "
                "pmod(CASE WHEN id % 10 = 1 THEN id - 1 ELSE id END, 50), "
                "'tok', i) "
                "ELSE concat('w', pmod(xxhash64(id, i), 50000)) END), ' ')"
            ).alias("text"),
        )
        out = remove_duplicate_spans(docs, n=10, min_count=2)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"spans_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def test_funnel_scales_linearly_10x(spark):
    """funnel_steps: per-step aggregates + user-keyed joins — 10×
    events over 10× users must stay ~linear, and the completion
    counts are closed-form (every user emits view<click<purchase)."""
    from org_revue_de_presse_trends_spark.operators.funnel import (
        funnel_steps,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (30_000, 300_000):
        users = n // 3
        ev = spark.range(n).select(
            (F.col("id") % users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") / users).cast("long")
            ).alias("ts"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                ((F.col("id") / users).cast("int") % 3) + 1,
            ).alias("event_type"),
        )
        out = funnel_steps(ev, ["view", "click", "purchase"])
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"funnel_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == users
    t_ratio = results[300_000][0] / results[30_000][0]
    s_ratio = results[300_000][1] / max(results[30_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× events"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× events"


def test_cms_scales_with_fixed_state_10x(spark):
    """Count-min sketch: 10× the stream must leave the counter table
    at its fixed depth×width bound (the whole point), keep per-row
    stream mass exact, and grow runtime/shuffle sub-quadratically."""
    from org_revue_de_presse_trends_spark.operators.cms import cms_table

    mc = MetricsCollector(spark)
    results = {}
    for n in (50_000, 500_000):
        df = spark.range(n).select(
            (F.col("id") % 997).alias("k")  # 997 distinct keys
        )
        tab = cms_table(df, "k", depth=4, width=64)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"cms_{n}", tab, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows <= 4 * 64  # state bound independent of stream size
        # every sketch row holds the full stream weight
        mass = {
            r["row"]: r["m"]
            for r in tab.groupBy("row")
            .agg(F.sum("c").alias("m"))
            .collect()
        }
        assert mass == {r: n for r in range(4)}
    t_ratio = results[500_000][0] / results[50_000][0]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× stream"


def test_bloom_probe_scales_linearly_10x(spark):
    """Bloom probe: the filter stays ≤ n_words rows at any key count
    and the probe side is map-only (zero shuffle both scales)."""
    from org_revue_de_presse_trends_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    mc = MetricsCollector(spark)
    results = {}
    keys = spark.range(2_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("g")
    )
    bf = bloom_build(keys, "g", n_words=32, k=3)
    assert bf.count() <= 32
    for n in (50_000, 500_000):
        probes = spark.range(n).select(
            F.concat(F.lit("p"), (F.col("id") % 10_000)).alias("g")
        )
        out = bloom_probe(probes, "g", bf, n_words=32, k=3)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"bloom_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n  # row-preserving
        # only count()'s own final partial-aggregate exchange (~1.4KB,
        # scale-independent) — the probe itself is map-only
        assert qm.shuffle_bytes_written < 5_000, "probe must stay map-only"
    t_ratio = results[500_000][0] / results[50_000][0]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× probes"


def test_stupid_backoff_scales_linearly_10x(spark):
    """Held-out LM scoring: LM tables are vocab-bounded broadcasts;
    10× the corpus must grow runtime/shuffle sub-quadratically and
    score every val doc with ≥ 3 tokens."""
    from org_revue_de_presse_trends_spark.operators.lm import (
        stupid_backoff_doc_scores,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        docs = _synthetic_docs(spark, n)
        train = docs.filter(F.col("doc_id") % 10 != 0)
        val = docs.filter(F.col("doc_id") % 10 == 0)
        out = stupid_backoff_doc_scores(train, val)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"lm_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n // 10  # every val doc scored
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× docs"


def test_token_chunks_scales_and_never_copies_the_array_10x(spark):
    """Chunking is map-only (zero shuffle) with exact closed-form row
    counts, including one giant document (100k tokens → 4167 chunks)
    that an explode-first formulation would blow up on."""
    from org_revue_de_presse_trends_spark.operators.packing import (
        token_chunks,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (1_000, 10_000):
        docs = _synthetic_docs(spark, n)  # 30 tokens → 2 chunks each
        out = token_chunks(docs, size=32, stride=24)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"chunks_{n}", out, action=lambda d: d.count()
        )
        results[n] = _time.perf_counter() - t0
        assert rows == 2 * n
        # only count()'s partial-aggregate exchange (scale-independent)
        assert qm.shuffle_bytes_written < 5_000, "chunking must be map-only"
    t_ratio = results[10_000] / results[1_000]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× docs"
    giant = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(1, 100000), "
            "i -> concat('w', pmod(i, 50))), ' ')"
        ).alias("text"),
    )
    out = token_chunks(giant, size=32, stride=24)
    assert out.count() == (100_000 - 1) // 24 + 1


def test_hll_scales_with_fixed_state_10x(spark):
    """HyperLogLog: 10× the stream must leave the register table at
    its fixed 2**p bound per group (the whole point — the shuffle
    payload is the sketch, never the distinct stream) and grow runtime
    sub-quadratically."""
    from org_revue_de_presse_trends_spark.operators.hll import (
        hll_distinct,
        hll_registers,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (50_000, 500_000):
        df = spark.range(n).select(
            (F.col("id") % 5).cast("string").alias("grp"),
            (F.col("id") % 20_011).alias("v"),  # ~20k distinct per grp
        )
        reg = hll_registers(df, ["grp"], "v", p=8)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"hll_{n}", reg, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows <= 5 * 256  # state bound independent of stream size
    # estimates stay sane at the big scale: gcd(5, 20011) = 1, so each
    # group's 100k ids sweep ALL 20011 residues — truth is 20011/group
    est = {
        r["grp"]: r["est_corrected"]
        for r in hll_distinct(
            spark.range(500_000).select(
                (F.col("id") % 5).cast("string").alias("grp"),
                (F.col("id") % 20_011).alias("v"),
            ),
            ["grp"],
            "v",
            p=8,
        ).collect()
    }
    for g, e in est.items():
        assert abs(e - 20011) / 20011 < 0.25, f"group {g} estimate {e}"
    t_ratio = results[500_000][0] / results[50_000][0]
    s_ratio = results[500_000][1] / max(results[50_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× stream"
    # shuffle carries ≤ m register rows per group per task either way
    assert s_ratio < 5, f"shuffle grew {s_ratio:.1f}× for 10× stream"


def test_pagerank_scales_linearly_10x(spark):
    """Weighted PageRank: 10× the edges must grow runtime and shuffle
    ~linearly (per round: one edges⋈ranks join + one integer-sum
    aggregate — nothing quadratic anywhere), with the round count
    pinned by the iterations parameter."""
    from org_revue_de_presse_trends_spark.operators.graph import (
        weighted_pagerank,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (20_000, 200_000):
        edges = spark.range(n).select(
            (F.col("id") % 4_001).cast("string").alias("src"),
            ((F.col("id") * 7 + 3) % 4_001).cast("string").alias("dst"),
            ((F.col("id") % 5) + 1).alias("weight"),
        )
        # force the distributed loop — the smoke pins ITS scaling (the
        # driver fast path is for small graphs and has its own tests)
        out = weighted_pagerank(edges, iterations=3, small_graph_max=0)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"pagerank_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == 4_001  # one rank row per node
    t_ratio = results[200_000][0] / results[20_000][0]
    s_ratio = results[200_000][1] / max(results[20_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× edges"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× edges"


def test_poisson_bootstrap_scales_linearly_10x(spark):
    """Poisson bootstrap: 10× the rows at fixed B must grow runtime
    ~linearly and keep the exchange at B partial rows per task (the
    map-side combine is the whole point — never B×n through the
    shuffle)."""
    from org_revue_de_presse_trends_spark.operators.bootstrap import (
        poisson_bootstrap_means,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (20_000, 200_000):
        df = spark.range(n).select(
            F.col("id"),
            ((F.col("id") % 101).cast("double") + 0.5).alias("value"),
        )
        out = poisson_bootstrap_means(df, "value", "id", n_resamples=32)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"boot_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == 32
    t_ratio = results[200_000][0] / results[20_000][0]
    s_ratio = results[200_000][1] / max(results[20_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× rows"
    # shuffle is B rows per task both scales — must stay ~flat
    assert s_ratio < 5, f"shuffle grew {s_ratio:.1f}× for 10× rows"


def test_histogram_quantiles_scale_with_fixed_state_10x(spark):
    """Histogram sketch: 10× the values must leave the per-group state
    at |bins| rows (the whole point — the value stream never crosses
    an exchange) and grow runtime sub-quadratically."""
    from org_revue_de_presse_trends_spark.operators.histogram import (
        histogram,
        histogram_quantiles,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (50_000, 500_000):
        df = spark.range(n).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (((F.col("id") * 37) % 1009).cast("double") / 2.0).alias(
                "value"
            ),
        )
        h = histogram(df, "value", ["g"], width=4.0)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"hist_{n}", h, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows <= 3 * (1009 // 8 + 2)  # |groups| x |bins| bound
        q = histogram_quantiles(h, qs=(0.5,), group_cols=["g"], width=4.0)
        est = {r["g"]: r["q_0_5"] for r in q.collect()}
        # values are ~uniform on [0, 504.5): median ~252 within width/2+
        for g, e in est.items():
            assert abs(e - 252.25) < 6.0, (g, e)
    t_ratio = results[500_000][0] / results[50_000][0]
    s_ratio = results[500_000][1] / max(results[50_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× values"
    assert s_ratio < 5, f"shuffle must stay ~flat, grew {s_ratio:.1f}×"


def test_fuzzy_join_scales_linearly_10x(spark):
    """Cross-table fuzzy join: 10× both tables at fixed planted-match
    density must grow runtime/shuffle ~linearly (candidates are an
    equi-join on (chunk_len, gram) over random keys — never |L|×|R|)."""
    from org_revue_de_presse_trends_spark.operators.linkage import (
        fuzzy_join,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (2_000, 20_000):
        right = spark.range(n).select(
            F.col("id").alias("rid"), F.md5(F.col("id").cast("string")).alias("txt")
        )
        left = spark.range(n).select(
            (F.col("id") + 10_000_000).alias("lid"),
            # every 2nd entry gets one char substituted (planted link)
            F.when(
                F.col("id") % 2 == 0,
                F.concat(
                    F.expr("substring(md5(cast(id as string)), 1, 9)"),
                    F.lit("z"),
                    F.expr("substring(md5(cast(id as string)), 11)"),
                ),
            )
            .otherwise(F.md5(F.col("id").cast("string")))
            .alias("txt"),
        )
        out = fuzzy_join(
            left, right, "txt", "txt", "lid", "rid", max_dist=2
        )
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"fuzzy_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n  # every left entry links to exactly its source
    t_ratio = results[20_000][0] / results[2_000][0]
    s_ratio = results[20_000][1] / max(results[2_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× rows"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}× for 10× rows"


def test_triangle_planted_clique_capped_10x(spark):
    """Degree-oriented triangle counting with the hub cap: a ring
    graph (each node in exactly 3 triangles, closed form) plus a
    planted CLIQUE — the worst case the cap exists for (a real
    duplicate family has C(m,3) triangles; no enumeration beats its
    own output size).  10× the graph grows the clique's edge count
    ~70× and its UNCAPPED triangle count ~1000×; with the cap the
    clique's edges are dropped pre-join, so runtime and shuffle must
    track total EDGES (~linear), pinning sub-cubic growth."""
    from org_revue_de_presse_trends_spark.operators.graph import (
        triangle_stats,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n, m in ((50_000, 100), (500_000, 1_000)):
        ring = spark.range(n).select(
            F.col("id").alias("id_a"),
            ((F.col("id") + 1) % n).alias("id_b"),
        ).unionAll(
            spark.range(n).select(
                F.col("id").alias("id_a"),
                ((F.col("id") + 2) % n).alias("id_b"),
            )
        )
        # clique on m nodes disjoint from the ring (ids >= 10^9)
        clique = (
            spark.range(m * m)
            .select(
                (F.col("id") / m).cast("long").alias("i"),
                (F.col("id") % m).alias("j"),
            )
            .where(F.col("i") < F.col("j"))
            .select(
                (F.col("i") + 1_000_000_000).alias("id_a"),
                (F.col("j") + 1_000_000_000).alias("id_b"),
            )
        )
        out = triangle_stats(
            ring.unionAll(clique), max_degree=50
        ).localCheckpoint()
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"tri_{n}", out, action=lambda d: d.count()
        )
        results[n] = (_time.perf_counter() - t0, qm.shuffle_bytes_written)
        assert rows == n + m  # every node reported
        # closed form: ring node degree 4 (<= cap 50), 3 triangles,
        # clustering 2*3/(4*3) = 0.5; clique nodes keep their TRUE
        # degree m-1 but over-cap edges are dropped -> 0 triangles
        agg = out.groupBy(
            (F.col("node") >= 1_000_000_000).alias("is_clique")
        ).agg(
            F.sum("n_triangles").alias("t"),
            F.min("degree").alias("dmin"),
            F.max("degree").alias("dmax"),
            F.min("clustering").alias("cmin"),
            F.max("clustering").alias("cmax"),
        ).collect()
        got = {r["is_clique"]: r for r in agg}
        assert got[False]["t"] == 3 * n
        assert got[False]["dmin"] == got[False]["dmax"] == 4
        assert got[False]["cmin"] == got[False]["cmax"] == 0.5
        assert got[True]["t"] == 0
        assert got[True]["dmin"] == got[True]["dmax"] == m - 1
        assert got[True]["cmax"] == 0.0
    t_ratio = results[500_000][0] / results[50_000][0]
    s_ratio = results[500_000][1] / max(results[50_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}x for 10x graph"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}x for 10x graph"


def test_scd2_hot_key_skew(spark):
    """SCD2 with one GIANT key: a single user holding 30% of all
    observations must not blow up vs the balanced layout (the island
    window is inherently sequential per key, so the hot key serializes
    into ONE task's sort+scan — acceptable while that task stays
    in-memory; this smoke pins the factor so a regression to
    pathological behavior (spill loop, repeated exchange) is caught."""
    from org_revue_de_presse_trends_spark.operators.scd import (
        scd2_from_observations,
    )

    n = 1_000_000
    hot = n * 3 // 10

    def run(df, keys_expr):
        obs = df.select(
            keys_expr.alias("k"),
            (F.col("id") % 7 == 0).cast("int").alias("attr"),
            F.col("id").alias("ts"),
            F.col("id").alias("tb"),
        )
        out = scd2_from_observations(
            obs, key_cols=["k"], attr_cols=["attr"],
            ts_col="ts", tiebreak_col="tb",
        )
        t0 = _time.perf_counter()
        cnt = out.count()
        return _time.perf_counter() - t0, cnt

    base = spark.range(n)
    # balanced: 100k keys, 10 obs each
    t_bal, _ = run(base, F.col("id") % 100_000)
    # hot: first 30% of rows all belong to key 0, rest spread
    t_hot, _ = run(
        base,
        F.when(F.col("id") < hot, F.lit(0)).otherwise(
            F.col("id") % 100_000
        ),
    )
    # the hot key's 300k-row window runs in one task; pin the factor
    assert t_hot < max(6.0 * t_bal, t_bal + 20.0), (
        f"hot-key SCD2 {t_hot:.1f}s vs balanced {t_bal:.1f}s"
    )


def test_url_canonicalization_600k_closed_form(spark):
    """The 14-stage canonicalization chain + canonical-dedup groupBy on
    600k synthetic documents (id, source = 'src'||id%20): the canonical
    identity is a pure function of id mod 60 (source id%20, tld id%3,
    news-subdomain id%5, path id%10, query-id id%2 — lcm 60), so the
    dedup output is EXACTLY 60 canonical URLs with 10 000 members each.
    Verifies the chain completes with bounded memory at 120x the sf0.1
    fixture and stays projection-shaped (one groupBy, no joins)."""
    from org_revue_de_presse_trends_spark.operators import urls as U

    n = 600_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
    )
    c = U.with_canonical_url(
        docs.withColumn("raw_url", U.synth_url("spark")), "raw_url"
    )
    groups = (
        c.groupBy("canonical_url")
        .count()
        .groupBy("count")
        .count()
        .collect()
    )
    sizes = {r[0]: r[1] for r in groups}
    assert sizes == {n // 60: 60}, sizes


def test_url_robots_600k_closed_form(spark):
    """robots_verdicts on the same 600k synthetic corpus: each of the
    60 registrable domains covers exactly one residue class mod 60, so
    every document of a domain shares one canonical path and the
    allowed/denied totals are computable exactly in Python from the
    same md5 buckets the rules derive from."""
    import hashlib

    from org_revue_de_presse_trends_spark.operators import urls as U

    n = 600_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
    )
    c = U.with_canonical_url(
        docs.withColumn("raw_url", U.synth_url("spark")), "raw_url"
    )
    urls = c.select(
        "doc_id", "registrable_domain", "canonical_path"
    ).localCheckpoint()
    doms = urls.select(
        F.col("registrable_domain").alias("dom")
    ).distinct()
    # the SHARED rule builder (operators/urls) — the smoke's
    # closed-form expectation below recomputes the same buckets
    # independently in Python, so a rule-set change breaks loudly here
    rules = U.synthetic_robots_rules(doms)
    got = (
        U.robots_verdicts(urls, rules, id_cols=["doc_id"])
        .groupBy("allowed")
        .count()
        .collect()
    )
    got = {r["allowed"]: r["count"] for r in got}

    # closed-form expectation: domain of residue r (mod 60) is
    # src{r%20}.{tld(r%3)} with path /articles/{r%10}
    tlds = {0: "com", 1: "org", 2: "co.uk"}
    per_class = n // 60
    want_allowed = 0
    for r in range(60):
        dom = f"src{r % 20}.{tlds[r % 3]}"
        bucket = int(hashlib.md5(dom.encode()).hexdigest()[:6], 16) % 3
        path_n = r % 10
        if bucket == 1:
            allowed = path_n == 2  # deny /articles, carve-out /articles/2
        elif bucket == 0:
            allowed = path_n != 7  # deny /articles/7
        else:
            allowed = True
        want_allowed += per_class if allowed else 0
    assert got.get(True, 0) == want_allowed, (got, want_allowed)
    assert got.get(True, 0) + got.get(False, 0) == n


def test_psl_ladder_is_map_only(spark):
    """The full-PSL registrable-domain extraction must stay a pure
    per-row projection — the 9.5k-rule ladder is an InSet probe, never
    a join: the canonicalization plan may contain NO Exchange and no
    join operator at any corpus size."""
    from org_revue_de_presse_trends_spark.operators import urls as U

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
    )
    c = U.with_canonical_url(
        docs.withColumn("raw_url", U.synth_url("spark")), "raw_url"
    ).select("doc_id", "registrable_domain", "canonical_url")
    plan = c._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_unigram_distributed_auto_switch_and_equality_at_10x_vocab(spark):
    """train_unigram's 100 TB path: a vocabulary past max_words must
    (a) auto-switch to the distributed E-step (the word table never
    collects) and (b) still produce the EXACT driver-path vocabulary —
    the quantized-integer accumulation makes the paths bit-identical
    on a 10x-larger synthetic vocabulary too, not just fixtures."""
    from org_revue_de_presse_trends_spark.operators.unigram import (
        train_unigram,
    )

    docs = _synthetic_docs(spark, 400, n_tokens=12, vocab=300)
    kw = dict(vocab_size=40, seed_size=150, max_piece_len=4)
    auto = train_unigram(docs, max_words=10, distributed="auto", **kw)
    driver = train_unigram(docs, distributed="never", **kw)
    assert auto == driver
    assert len(auto) <= 40 and any(len(p) > 1 for p, _ in auto)


def test_bpe_distributed_learn_scales_linearly_10x(spark):
    """Distributed BPE training: per-round cost is one pair-count
    groupBy + one TakeOrdered over the WORD DICTIONARY, so 10× the
    unique-word count must grow runtime ~linearly (the corpus itself
    never re-enters the loop)."""
    from org_revue_de_presse_trends_spark.operators.bpe import train_bpe

    results = {}
    for n in (2_000, 20_000):
        # vocab scales with n → the dictionary (the loop's input) is
        # ~n unique words; 4 rounds, distributed path forced
        docs = _synthetic_docs(spark, n, n_tokens=10, vocab=n)
        t0 = _time.perf_counter()
        merges = train_bpe(docs, n_merges=4, distributed="always")
        results[n] = _time.perf_counter() - t0
        assert len(merges) == 4
    t_ratio = results[20_000] / results[2_000]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}× for 10× vocab"


def test_real_webm_decode_scales_linearly_10x(spark):
    """The real-codec video path (EBML demux + native VP8 decode per
    sampled frame) is embarrassingly parallel per video — 10x videos
    must cost ~10x, no shuffle of payloads.  Frames are genuine VP8
    (our encoder; libwebp-verified elsewhere), videos differ by frame
    rotation so the decode work is real, not cached."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions.codec_vp8_enc import (
        encode_vp8,
    )
    from org_revue_de_presse_trends_spark.functions.container_webm import (
        mux_webm_vp8,
    )
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        sample_video_frames,
    )

    rng = np.random.default_rng(11)
    pool = [
        encode_vp8(rng.integers(0, 256, (16, 16)).astype(np.uint8),
                   rng.integers(0, 256, (8, 8)).astype(np.uint8),
                   rng.integers(0, 256, (8, 8)).astype(np.uint8), qi=40)
        for _ in range(8)
    ]
    webms = [
        mux_webm_vp8([pool[i % 8], pool[(i + 3) % 8]], 16, 16,
                     frame_duration_ms=100)
        for i in range(8)
    ]

    def media(n):
        rows = [(i, "video", webms[i % 8],
                 ("video/webm", 16, 16, 200)) for i in range(n)]
        return spark.createDataFrame(
            rows,
            "media_id long, kind string, payload binary, "
            "meta struct<mime:string,width:int,height:int,"
            "duration_ms:int>",
        )

    mc = MetricsCollector(spark)
    results = {}
    for n in (30, 300):
        frames = sample_video_frames(media(n), every_ms=100,
                                     decoder="auto")
        t0 = _time.perf_counter()
        cnt, qm = mc.measure(
            f"webm_decode_{n}", frames, action=lambda d: d.count()
        )
        assert cnt == 2 * n
        results[n] = (_time.perf_counter() - t0,
                      qm.shuffle_bytes_written)
    t_ratio = results[300][0] / results[30][0]
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}x for 10x videos"
    # the decode map shuffles only count partials (a few bytes per
    # task), never payload bytes: 300 webms are ~350 KB
    assert results[300][1] < 50_000, "payload bytes leaked into a shuffle"


def test_auc_scales_with_fixed_state_10x(spark):
    """Exact AUC (operators/evalmetrics.auc): 10x the rows with a
    bounded score grid must keep the shuffle at the distinct-score
    sketch size (map-side-combined groupBy(score) + one |distinct|-row
    window + one scalar agg — raw rows never shuffle) and grow runtime
    sub-quadratically.  Closed-form check: scores and labels are both
    functions of id on a full residue sweep, so AUC is identical at
    both sizes."""
    import time as _time

    from org_revue_de_presse_trends_spark.operators.evalmetrics import auc

    mc = MetricsCollector(spark)
    results = {}
    for n in (100_000, 1_000_000):
        # 1000 distinct quantized scores; label correlates with score
        # (y=1 exactly on the upper half of each 8-residue block)
        df = spark.range(n).select(
            ((F.col("id") % 1000).cast("double") / F.lit(4.0)).alias(
                "score"
            ),
            ((F.col("id") % 8) >= 4).alias("y"),
        )
        res = auc(df, "score", F.col("y"), scale=100)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"auc_{n}", res, action=lambda d: d.collect()
        )
        results[n] = (
            _time.perf_counter() - t0,
            qm.shuffle_bytes_written,
            rows,
        )
    a_small = results[100_000][2][0]
    a_big = results[1_000_000][2][0]
    # full sweeps of lcm(1000, 8) divide both sizes → identical counts
    # up to the 10x factor and an IDENTICAL auc value
    assert a_big["n_pos"] == 10 * a_small["n_pos"]
    assert a_big["auc"] == a_small["auc"]
    assert a_small["auc"] is not None and 0.4 < a_small["auc"] < 0.6
    t_ratio = results[1_000_000][0] / results[100_000][0]
    s_ratio = results[1_000_000][1] / max(results[100_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}x for 10x rows"
    # shuffle carries <= tasks x 1000 combined score rows either way
    assert s_ratio < 5, f"shuffle grew {s_ratio:.1f}x for 10x rows"


def test_spearman_scales_with_fixed_state_10x(spark):
    """Spearman (operators/evalmetrics.spearman): 10x the rows with a
    bounded value grid must keep shuffles at the distinct-value sketch
    size (two combined marginals + two rank re-attach joins) and grow
    runtime sub-quadratically; full residue sweeps make rho identical
    at both sizes."""
    import time as _time

    from org_revue_de_presse_trends_spark.operators.evalmetrics import (
        spearman,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (100_000, 1_000_000):
        df = spark.range(n).select(
            ((F.col("id") % 500).cast("double") / F.lit(4.0)).alias("x"),
            (((F.col("id") * 7) % 500).cast("double") / F.lit(2.0)).alias(
                "y"
            ),
        )
        res = spearman(df, "x", "y", scale_x=100, scale_y=100)
        # best-of-2 per size: in-suite the small run is fully warm
        # (~0.1 s) and one shared-VM steal pause on the big run can
        # read as a >30x "blow-up" (observed r9: passes standalone,
        # tripped twice in loaded full-suite runs) — min is the same
        # estimator the bench's spike guard uses
        best = None
        for _ in range(2):
            t0 = _time.perf_counter()
            rows, qm = mc.measure(
                f"spearman_{n}", res, action=lambda d: d.collect()
            )
            took = _time.perf_counter() - t0
            if best is None or took < best[0]:
                best = (took, qm.shuffle_bytes_written, rows[0])
        results[n] = best
    small, big = results[100_000][2], results[1_000_000][2]
    assert big["n"] == 10 * small["n"]
    # gcd(7, 500) = 1: y sweeps the same residue set -> identical rho
    assert big["rho"] == small["rho"] and small["rho"] is not None
    t_ratio = results[1_000_000][0] / results[100_000][0]
    s_ratio = results[1_000_000][1] / max(results[100_000][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}x for 10x rows"
    # rank tables are <= 500 rows each; only the rank re-attach joins
    # move row-proportional bytes (two skinny long columns)
    assert s_ratio < 15, f"shuffle grew {s_ratio:.1f}x for 10x rows"


def test_line_dedup_scales_linearly_10x(spark):
    """remove_duplicate_lines: 10x docs (every doc carries one of 40
    shared boilerplate lines + unique body lines) must grow runtime
    and shuffle ~linearly — the keep-first aggregate's map-side
    combine absorbs the boilerplate skew (one norm, n/40 occurrences),
    and the kept-count per shared line stays 1 at any scale."""
    from org_revue_de_presse_trends_spark.operators.linededup import (
        remove_duplicate_lines,
    )

    mc = MetricsCollector(spark)
    results = {}
    for n in (500, 5_000):
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "concat_ws('\n', "
                "concat('unique body line ', id, ' alpha beta'), "
                "concat('shared boilerplate line number ', id % 40), "
                "concat('unique tail line ', id, ' gamma delta'))"
            ).alias("text"),
        )
        out = remove_duplicate_lines(docs, min_chars=10)
        t0 = _time.perf_counter()
        rows, qm = mc.measure(
            f"linededup_{n}", out,
            action=lambda d: d.agg(F.sum("n_kept"), F.sum("n_dropped"))
            .collect(),
        )
        results[n] = (
            _time.perf_counter() - t0, qm.shuffle_bytes_written,
            rows[0],
        )
    for n in (500, 5_000):
        kept, dropped = results[n][2][0], results[n][2][1]
        # closed form: 2n unique lines + 40 kept boilerplate occurrences
        assert kept == 2 * n + 40, (n, kept)
        assert dropped == n - 40, (n, dropped)
    t_ratio = results[5_000][0] / results[500][0]
    s_ratio = results[5_000][1] / max(results[500][1], 1)
    assert t_ratio < 30, f"runtime grew {t_ratio:.1f}x for 10x docs"
    assert s_ratio < 30, f"shuffle grew {s_ratio:.1f}x for 10x docs"
