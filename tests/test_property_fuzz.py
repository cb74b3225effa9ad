"""Hypothesis fuzz: engine text expressions vs pure-Python references
on adversarial inputs (unicode, repeated tokens, single-token docs).
Batched: each example set becomes ONE DataFrame so Spark round-trips
stay cheap.
"""

from __future__ import annotations

import hashlib

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from org_revue_de_presse_trends_spark.functions import text as T

# tokens: non-space printable unicode runs, joined by single spaces
token_st = st.text(
    alphabet=st.characters(blacklist_categories=("Zs", "Zl", "Zp", "Cc", "Cs")),
    min_size=1,
    max_size=8,
)
doc_st = st.lists(token_st, min_size=1, max_size=30).map(" ".join)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(st.lists(doc_st, min_size=1, max_size=20))
def test_token_count_and_fingerprint_match_python(spark, docs):
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               ["id", "text"])
    rows = df.select(
        "id",
        F.size(T.tokens(F.col("text"))).alias("n"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    got = {r["id"]: (r["n"], r["fp"]) for r in rows}
    for i, d in enumerate(docs):
        expect_n = len(d.split(" "))
        expect_fp = hashlib.md5(d.lower().strip().encode()).hexdigest()
        assert got[i] == (expect_n, expect_fp), (d, got[i])


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(st.lists(doc_st, min_size=1, max_size=10))
def test_shingle_hash_count_invariant(spark, docs):
    """|with_shingle_hashes(text,k)| == |distinct k-windows| (collisions
    in a 64-bit space are effectively impossible at this size) and >= 1."""
    k = 3
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               ["id", "text"])
    rows = T.with_shingle_hashes(df, "text", "sh", k).select(
        "id", F.size("sh").alias("n")
    ).collect()
    got = {r["id"]: r["n"] for r in rows}
    for i, d in enumerate(docs):
        toks = d.split(" ")
        if len(toks) < k:
            expect = 1
        else:
            expect = len(
                {tuple(toks[j : j + k]) for j in range(len(toks) - k + 1)}
            )
        assert got[i] == expect, (d, got[i], expect)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(doc_st, min_size=1, max_size=8),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
def test_chunk_coverage_invariants(spark, docs, size, overlap):
    """Every chunk has 1..size tokens; reassembling chunks with the
    overlap removed reproduces the original token stream."""
    if overlap >= size:
        overlap = size - 1
    step = size - overlap
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["id", "text"]
    ).withColumn("__toks", T.tokens(F.col("text")))
    rows = (
        df.select(
            "id",
            F.explode(
                T.chunks_from_tokens(F.col("__toks"), size, overlap)
            ).alias("c"),
        )
        .select("id", "c.chunk_id", "c.chunk", "c.n_tokens")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["n_tokens"] <= size
        by_doc.setdefault(r["id"], []).append((r["chunk_id"], r["chunk"]))
    for i, d in enumerate(docs):
        chunks = [c for _, c in sorted(by_doc[i])]
        rebuilt = chunks[0].split(" ")
        for c in chunks[1:]:
            rebuilt.extend(c.split(" ")[overlap:])
        assert rebuilt == d.split(" "), (d, chunks)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(st.lists(token_st, min_size=1, max_size=40), min_size=2,
             max_size=8),
    st.integers(min_value=0, max_value=10**6),
)
def test_winnow_guarantee_fuzz(spark, token_lists, salt):
    """Winnowing guarantee on arbitrary docs: plant one shared
    (w + k - 1)-token run into every doc — all pairs must share a
    fingerprint.  Tokens are salted so runs don't collide with the
    random content by construction."""
    k, w = 5, 4
    shared = [f"__run{salt}_{j}" for j in range(w + k - 1)]
    docs = [
        " ".join(toks[: len(toks) // 2] + shared + toks[len(toks) // 2 :])
        for toks in token_lists
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["id", "text"]
    )
    rows = T.with_winnow_fingerprints(df, "text", "fps", k=k, w=w).select(
        "id", "fps"
    ).collect()
    fps = {r["id"]: set(r["fps"]) for r in rows}
    base = fps[0]
    for i in range(1, len(docs)):
        assert fps[i] & base, (docs[0], docs[i])


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=1, max_value=200),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(min_value=16, max_value=128),
)
def test_pack_sequences_fuzz(spark, chunks, budget):
    """Packing invariants under arbitrary chunk sets: exactly-once
    assignment; any sequence over budget is a singleton oversize chunk."""
    from org_revue_de_presse_trends_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(chunks, ["doc_id", "chunk_id", "n_tokens"])
    out = pack_sequences(df, budget=budget, num_bins=4).collect()
    assert {(r["doc_id"], r["chunk_id"]) for r in out} == {
        (d, c) for d, c, _ in chunks
    }
    assert len(out) == len(chunks)
    seqs: dict[int, list] = {}
    for r in out:
        seqs.setdefault(r["seq_id"], []).append(r["n_tokens"])
    for members in seqs.values():
        if sum(members) > budget:
            assert len(members) == 1 and members[0] > budget


# ---------------------------------------------------------------------------
# Codec fuzz: PNG/WAV round-trips on arbitrary shapes/values (pure
# Python — no Spark session needed, so examples are cheap)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None, derandomize=True, database=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([1, 2, 3, 4]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_fuzz(h, w, ch, seed):
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, ch), dtype=np.uint8
    )
    out = codecs.decode_png(codecs.encode_png(img))
    assert out.shape == (h, w, ch)
    assert np.array_equal(out, img)


@settings(max_examples=25, deadline=None, derandomize=True, database=None)
@given(
    st.integers(min_value=1, max_value=2000),
    st.sampled_from([1, 2]),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_fuzz(n, ch, rate, seed):
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs

    samples = (
        np.random.default_rng(seed)
        .uniform(-1.0, 1.0, size=(n, ch))
        .astype(np.float32)
    )
    out, got_rate = codecs.decode_wav(codecs.encode_wav(samples, rate))
    assert got_rate == rate and out.shape == (n, ch)
    assert float(np.abs(out - samples).max()) < 2.0 / 32768


# ---------------------------------------------------------------------------
# Banded interval join vs brute force on arbitrary value sets
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None, derandomize=True, database=None)
@given(
    st.integers(min_value=0, max_value=25),
    st.integers(min_value=1, max_value=9),
    st.floats(min_value=-0.5, max_value=0.99),
    st.integers(min_value=0, max_value=10_000),
)
def test_blocked_cosine_pairs_matches_brute_force(n, block, threshold, seed):
    """The shared row-blocked matmul kernel (semdedup cells + SRP
    buckets) must emit exactly the brute-force O(n²) upper-triangle
    pair set for every block size — block boundaries are where an
    off-by-one would hide."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions.vectors import (
        blocked_cosine_pairs,
    )

    rng = np.random.RandomState(seed)
    vecs = np.empty(n, dtype=object)
    for i in range(n):
        vecs[i] = rng.randn(6)
    if n > 2:
        vecs[n - 1] = np.zeros(6)  # zero-norm guard path
    rows, cols, cos = blocked_cosine_pairs(vecs, threshold, block)
    got = {(int(r), int(c)): s for r, c, s in zip(rows, cols, cos)}
    # brute force over unit-normalized doubles
    want = {}
    if n >= 2:
        u = np.stack(vecs).astype("float64")
        nrm = np.linalg.norm(u, axis=1)
        nrm[nrm == 0.0] = 1.0
        u = u / nrm[:, None]
        full = u @ u.T
        for i in range(n):
            for j in range(i + 1, n):
                if full[i, j] >= threshold:
                    want[(i, j)] = full[i, j]
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


@settings(max_examples=25, deadline=None, derandomize=True, database=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 3]),
    st.booleans(),
    st.sampled_from([0, 2]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_roundtrip_fuzz(h, w, ch, subsample, restart, seed):
    """Arbitrary shapes/channels/subsampling/restart intervals decode
    back to the right geometry with bounded reconstruction error —
    random noise is the JPEG worst case, so the bound is loose (the
    high-frequency spectrum is quantized away) but shape, determinism,
    and absence of structural corruption are exact."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs

    rng = np.random.default_rng(seed)
    # mix smooth structure with mild noise so error stays bounded
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 5 + xx * 3) % 256
    img = np.stack(
        [(base + 17 * c) % 256 for c in range(ch)], axis=2
    ).astype(np.uint8)
    img = np.clip(
        img.astype(np.int64) + rng.integers(-8, 9, size=img.shape),
        0, 255,
    ).astype(np.uint8)
    if ch == 1:
        img2 = img[:, :, 0]
    else:
        img2 = img
    payload = codecs.encode_jpeg(
        img2, quality=95, subsample=subsample and ch == 3,
        restart_interval=restart,
    )
    dec = codecs.decode_jpeg(payload)
    assert dec.shape == (h, w, ch)
    # deterministic: same input → same bytes → same pixels
    assert payload == codecs.encode_jpeg(
        img2, quality=95, subsample=subsample and ch == 3,
        restart_interval=restart,
    )
    err = np.mean(
        np.abs(dec.astype(np.float64) - img.astype(np.float64))
    )
    assert err < 16, f"reconstruction error {err:.1f} too high"


@settings(max_examples=40, deadline=None, derandomize=True, database=None)
@given(st.binary(min_size=0, max_size=400), st.integers(0, 2**32 - 1))
def test_jpeg_decoder_rejects_garbage_cleanly(data, seed):
    """Random bytes (optionally wearing a JPEG SOI) must raise
    ValueError/NotImplementedError — never hang, crash, or return."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs

    rng = np.random.default_rng(seed)
    payload = (b"\xff\xd8" if rng.integers(2) else b"") + data
    try:
        codecs.decode_jpeg(payload)
    except (ValueError, NotImplementedError):
        pass  # the ONLY admissible failure modes at the boundary


@settings(max_examples=15, deadline=None, derandomize=True, database=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 3]),
    st.booleans(),
    st.sampled_from([50, 85, 95]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_progressive_equals_baseline_fuzz(h, w, ch, subsample, q, seed):
    """Arbitrary content/shape: progressive and baseline encodings of
    the same image must decode IDENTICALLY (shared quantized
    coefficients; only the entropy layer differs)."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch)).astype(np.uint8)
    if ch == 1:
        img = img[:, :, 0]
    dp = codecs.decode_jpeg(
        codecs.encode_jpeg_progressive(img, q, subsample=subsample and ch == 3)
    )
    db = codecs.decode_jpeg(
        codecs.encode_jpeg(img, q, subsample=subsample and ch == 3)
    )
    assert np.array_equal(dp, db)


def _py_duplicate_span_removal(docs, n, keep_first=False):
    """Pure-Python reference for remove_duplicate_spans[_keep_first]:
    token n-grams (whole text for docs shorter than n), corpus-wide
    multiplicity, forward kill window — mirrors the documented
    semantics independently of the Spark formulation."""
    toks = {i: [t for t in d.split(" ") if t != ""] for i, d in docs}
    occ = {}  # gram -> list of (doc, end_pos) in (doc, pos) order
    for i in sorted(toks):
        t = toks[i]
        if 0 < len(t) < n:
            occ.setdefault(tuple(t), []).append((i, len(t) - 1))
        for e in range(n - 1, len(t)):
            occ.setdefault(tuple(t[e - n + 1 : e + 1]), []).append((i, e))
    marked = set()
    for g, places in occ.items():
        if len(places) >= 2:
            keep = {min(places)} if keep_first else set()
            marked |= set(places) - keep
    out = {}
    for i, t in toks.items():
        kill = [
            any((i, e) in marked for e in range(p, min(p + n, len(t))))
            for p in range(len(t))
        ]
        clean = " ".join(tok for tok, k in zip(t, kill) if not k)
        out[i] = (clean if kill else docs_text(docs, i), len(t), sum(kill))
    return out


def docs_text(docs, i):
    return dict(docs)[i]


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=12)
        .map(" ".join),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=2, max_value=4),
    st.booleans(),
)
def test_duplicate_span_removal_fuzz(spark, docs, n, keep_first):
    """remove_duplicate_spans / _keep_first vs the pure-Python
    reference on tiny-alphabet corpora (engineered for heavy gram
    collisions, overlaps, short docs and exact twins)."""
    from org_revue_de_presse_trends_spark.operators.decontaminate import (
        remove_duplicate_spans,
        remove_duplicate_spans_keep_first,
    )

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fn = (
        remove_duplicate_spans_keep_first
        if keep_first
        else remove_duplicate_spans
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in fn(df, n=n).collect()
    }
    exp = _py_duplicate_span_removal(rows, n, keep_first)
    # normalize the reference's untouched-doc passthrough: the
    # operator returns the ORIGINAL text for untouched docs
    for i, d in rows:
        e_clean, e_n, e_rm = exp[i]
        if e_rm == 0:
            e_clean = d
        assert got[i] == (e_clean, e_n, e_rm), (i, d, got[i], exp[i])


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=40),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=3, max_value=8),
)
def test_qchunk_matches_bruteforce_fuzz(spark, texts, max_dist):
    """edit_distance_pairs_qchunk vs driver-side brute force on
    small-alphabet strings (heavy chunk collisions, many short docs
    hitting the pigeonhole fallback)."""
    from org_revue_de_presse_trends_spark.operators.dedup import (
        edit_distance_pairs_qchunk,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs_qchunk(df, max_dist=max_dist).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    exp = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and lev(a, b) <= max_dist:
                exp[(i, j)] = lev(a, b)
    assert got == exp, (texts, max_dist, got, exp)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6),
             min_size=1, max_size=200),
    st.integers(min_value=4, max_value=10),
)
def test_hll_registers_match_python_fuzz(spark, values, p):
    """HLL registers equal the pure-Python md5 mirror at every p, for
    arbitrary (including duplicated and negative) long inputs."""
    from org_revue_de_presse_trends_spark.operators.hll import (
        hll_registers,
    )

    df = spark.createDataFrame(
        [("g", v) for v in values], "grp string, v long"
    )
    got = {
        r["bucket"]: r["r"]
        for r in hll_registers(df, ["grp"], "v", p=p).collect()
    }
    w = 60 - p
    want = {}
    for v in set(values):
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b, rem = h >> w, h % (1 << w)
        rho = (w + 1) if rem == 0 else (w + 1) - rem.bit_length()
        want[b] = max(want.get(b, 0), rho)
    assert got == want


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.floats(min_value=-1000.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=150,
    ),
    st.sampled_from([0.5, 2.0, 7.3]),
    st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]),
)
@example(values=[0.0] * 10 + [1.0, 1.0], width=0.5, q=0.9)
def test_histogram_quantile_matches_python_fuzz(spark, values, width, q):
    """Histogram quantile equals the pinned-convention Python mirror
    and is within one bin width of the rank-floor(t) order statistic
    (the unconditional bound the clamped interpolation guarantees)."""
    import math

    from org_revue_de_presse_trends_spark.operators.histogram import (
        histogram_quantiles_of,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)],
        "id long, value double",
    )
    label = f"q_{str(q).replace('.', '_')}"
    row = histogram_quantiles_of(
        df, "value", qs=(q,), width=width
    ).collect()[0]
    # python mirror
    bins = {}
    for v in values:
        b = math.floor(v / width)
        bins[b] = bins.get(b, 0) + 1
    n = len(values)
    t = q * float(n - 1)
    cum = 0
    for b in sorted(bins):
        c = bins[b]
        if cum <= t < cum + c:
            want = round(
                b * width + width * min((t - cum + 0.5) / c, 1.0), 9
            )
            break
        cum += c
    assert row[label] == want
    # honest accuracy bound: the estimate shares a bin with the
    # rank-floor(t) order statistic (NOT the interpolated percentile —
    # interpolation between sparse points can sit far from any data
    # value; hypothesis found [0.0, -1.125], q=0.25)
    s = sorted(values)
    v_k = s[int(math.floor(t))]
    assert abs(row[label] - v_k) <= width + 1e-6


@settings(max_examples=4, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1, max_size=60,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_pagerank_matches_python_fuzz(spark, raw_edges, iterations):
    """Arbitrary small weighted digraphs (self-loops and parallel
    edges included): fast path equals the HALF_UP Python mirror."""
    from decimal import ROUND_HALF_UP, Decimal

    from org_revue_de_presse_trends_spark.operators.graph import (
        weighted_pagerank,
    )

    edges = [(f"n{s}", f"n{d}", w) for s, d, w in raw_edges]
    df = spark.createDataFrame(
        edges, "src string, dst string, weight long"
    )
    got = {
        r["node"]: r["rank_scaled"]
        for r in weighted_pagerank(df, iterations=iterations).collect()
    }
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    rank = {nd: 10**9 for nd in nodes}
    for _ in range(iterations):
        mass = {nd: 0 for nd in nodes}
        for s, d, w in edges:
            x = 0.85 * float(rank[s]) * float(w) / float(out_w[s])
            mass[d] += int(
                Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP)
            )
        rank = {nd: 150000000 + mass[nd] for nd in nodes}
    assert got == rank


@settings(max_examples=4, deadline=None, derandomize=True, database=None)
@given(
    st.lists(st.text(alphabet="abcx", min_size=0, max_size=14),
             min_size=1, max_size=12),
    st.lists(st.text(alphabet="abcx", min_size=0, max_size=14),
             min_size=1, max_size=12),
    st.integers(min_value=1, max_value=3),
)
def test_fuzzy_join_matches_bruteforce_fuzz(spark, ls, rs, tau):
    """Cross-table fuzzy join equals the brute-force Levenshtein cross
    join on adversarial small-alphabet strings (heavy collisions,
    empties, near-misses)."""
    from org_revue_de_presse_trends_spark.operators.linkage import (
        fuzzy_join,
    )

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    l = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ls)], "lid long, txt string"
    )
    r = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(rs)], "rid long, txt string"
    )
    got = {
        (x["lid"], x["rid"], x["dist"])
        for x in fuzzy_join(
            l, r, "txt", "txt", "lid", "rid", max_dist=tau
        ).collect()
    }
    want = {
        (i, 100 + j, lev(a, b))
        for i, a in enumerate(ls)
        for j, b in enumerate(rs)
        if lev(a, b) <= tau
    }
    assert got == want


#: adversarial HTML alphabet: tag/entity machinery, quotes, newlines,
#: fragments of the special tag names, plus non-ASCII
_HTML_CHARS = sorted(set(
    "<>&;/\\\"'!=- \r\n\tabcdefghipqrstyle0123éπ#"
))


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.text(alphabet=_HTML_CHARS, min_size=0, max_size=120),
        min_size=1,
        max_size=25,
    )
)
def test_html_extraction_cross_engine_fuzz(spark, htmls):
    """The HTML→text chain (functions/htmltext.py) is rendered from
    ONE template for both engines — fuzz over adversarial tag/entity
    soup must produce byte-identical extractions and titles in Spark
    and DuckDB (Java regex ∩ RE2 portability is the claim under
    test)."""
    import duckdb

    from org_revue_de_presse_trends_spark.functions import htmltext as H

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(htmls)], "i long, html string"
    )
    got = {
        r["i"]: (r["t"], r["ti"])
        for r in df.selectExpr(
            "i",
            H.html_to_text_sql("spark", "html") + " AS t",
            H.html_title_sql("spark", "html") + " AS ti",
        ).collect()
    }
    con = duckdb.connect()
    for i, h in enumerate(htmls):
        t, ti = con.execute(
            "SELECT " + H.html_to_text_sql("duckdb", "html") + ", "
            + H.html_title_sql("duckdb", "html")
            + " FROM (SELECT ? AS html)",
            [h],
        ).fetchone()
        assert got[i] == (t, ti), (h,)


@settings(max_examples=5, deadline=None, derandomize=True, database=None)
@given(
    st.lists(
        st.text(
            alphabet=sorted(set(" \r\n\t.!?\"abcdj{pv lorem ipsum")),
            min_size=0,
            max_size=150,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_c4_line_filter_cross_engine_fuzz(spark, texts):
    """C4 line rules (functions/c4lines.py): the HOF lambda rendered
    for Spark and the list_filter rendered for DuckDB must agree on
    arbitrary punctuation/whitespace/blocker soup."""
    import duckdb

    from org_revue_de_presse_trends_spark.functions import c4lines as C4

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["text_c4"], r["n_lines"], r["n_kept_lines"], r["page_kept"]
        )
        for r in C4.with_c4_lines(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)", list(enumerate(texts))
    )
    import hashlib

    for doc_id, md5, nl, nk, pk in con.execute(
        C4.c4_oracle_select("duckdb", "SELECT doc_id, text FROM d")
    ).fetchall():
        s = got[doc_id]
        assert hashlib.md5(s[0].encode()).hexdigest() == md5, (
            texts[doc_id],
        )
        assert (s[1], s[2], s[3]) == (nl, nk, pk), (texts[doc_id],)
