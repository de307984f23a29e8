"""Dedup + similarity operator semantics against pure-Python oracles
(simulate-truth-then-recover, the reference's test pattern)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from mintpy_spark.operators import dedup as D
from mintpy_spark.operators import similarity as S


def _py_token_hash(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)


def _py_minhash(text: str, num_perm: int = D.NUM_PERM) -> list[int]:
    toks = {t for t in text.split(" ") if t}
    hs = [_py_token_hash(t) % D.HASH_P for t in toks]
    return [
        min((a * h + b) % D.HASH_P for h in hs)
        for (a, b) in D.perm_coeffs(num_perm)
    ]


def _py_simhash(text: str, bits: int = D.SIMHASH_BITS) -> int:
    toks = {t for t in text.split(" ") if t}
    out = 0
    for b in range(bits):
        vote = sum(1 if (_py_token_hash(t) >> b) & 1 else -1 for t in toks)
        if vote > 0:
            out |= 1 << b
    return out


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "a"),
    (1, "the quick brown fox jumps over the lazy cat", "a"),  # near-dup of 0
    (2, "completely different content about spark engines", "a"),
    (3, "the quick brown fox jumps over the lazy dog", "b"),  # exact dup, other block
    (4, "one two", "b"),  # < 3 tokens
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_minhash_signatures_match_python(docs_df):
    rows = {r.doc_id: r for r in D.minhash_signatures(docs_df).collect()}
    for doc_id, text, _ in DOCS:
        expect = _py_minhash(text)
        got = [rows[doc_id][f"m{i}"] for i in range(D.NUM_PERM)]
        assert got == expect, f"doc {doc_id}"


def test_minhash_near_dups_finds_the_pair(docs_df):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in D.minhash_near_dups(docs_df, threshold=0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # identical docs
    assert (0, 1) in pairs or (1, 3) in pairs  # 8/10 token overlap
    assert all(a < b for (a, b) in pairs)


def test_simhash_matches_python(docs_df):
    rows = {r.doc_id: r.simhash for r in D.simhash(docs_df).collect()}
    for doc_id, text, _ in DOCS:
        assert rows[doc_id] == _py_simhash(text), f"doc {doc_id}"


def test_simhash_near_dups_blocked_by_source(docs_df):
    pairs = {(r.doc_a, r.doc_b) for r in
             D.simhash_near_dups(docs_df, max_hamming=3).collect()}
    # 0 and 3 are identical but in different blocks -> must NOT pair
    assert (0, 3) not in pairs
    assert (0, 1) in pairs  # near-dup, same block, hamming small


def test_hyperplane_bucket_matches_python(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.bucket for r in S.with_bucket(df, dim=8).collect()}
    planes = S.plane_signs(8)
    for i, v in enumerate(vecs):
        fx = np.floor(v.astype(np.float64) * S.SCALE).astype(np.int64)
        expect = sum(
            (1 << j) for j, row in enumerate(planes) if int(fx @ np.array(row)) > 0
        )
        assert got[i] == expect, f"vec {i}"


def test_ann_lsh_subset_of_exact_ranking(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    rows = []
    for i in range(50):
        noise = rng.normal(size=8) * (0.01 if i < 5 else 2.0)
        rows.append((i, (base + noise).astype(np.float32).tolist(), 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = S.ann_topk_lsh(df, query_id=0, k=5, dim=8).collect()
    assert len(got) >= 1  # near-clones land in the query's bucket
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    # the very-near clones (ids 1..4) should dominate the hits we do get
    near = {r.vec_id for r in got if r.cos_sim > 0.99}
    assert near.issubset({1, 2, 3, 4})


def test_simhash_banded_equals_all_pairs(docs_df, spark):
    """Pigeonhole exactness: the banded candidate join must reproduce the
    brute-force global all-pairs result for max_hamming < bands."""
    from pyspark.sql import functions as F

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_dups_banded(docs_df, max_hamming=3, bits=32).collect()
    }
    sim = {r.doc_id: r.simhash for r in D.simhash(docs_df, bits=32).collect()}
    expect = {}
    ids = sorted(sim)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sim[a] ^ sim[b]).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect
    # crucially: the exact dup ACROSS blocks (0, 3) is found — the banded
    # variant is global, unlike the source-blocked one
    assert (0, 3) in got and got[(0, 3)] == 0


def test_ngram_jaccard_lsh_two_stage(docs_df):
    """Candidates from LSH bands, exact Jaccard verify: identical docs pair
    at 1.0; sub-threshold candidates are dropped by the exact stage."""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_lsh(docs_df, threshold=0.8).collect()
    }
    assert pairs.get((0, 3)) == 1.0
    for (a, b), j in pairs.items():
        assert a < b and j > 0.8


def test_embedding_bucketed_pairs_share_bucket_and_threshold(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    rows = []
    for i in range(30):
        noise = rng.normal(size=8) * (0.01 if i < 6 else 2.0)
        rows.append((i, (base + noise).astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = D.embedding_near_dups_bucketed(df, dim=8, threshold=0.4).collect()
    assert len(got) >= 1
    buckets = {r.vec_id: r.bucket for r in S.with_bucket(df, dim=8).collect()}
    for r in got:
        assert r.vec_a < r.vec_b
        assert buckets[r.vec_a] == buckets[r.vec_b]
        assert r.cos_sim > 0.4
    # the tight clones all share the base vector's bucket -> their mutual
    # pairs must be found
    clone_pairs = {(a, b) for (a, b) in
                   [(r.vec_a, r.vec_b) for r in got] if a < 6 and b < 6}
    assert len(clone_pairs) >= 3


def test_simhash_banded_wide_hash(docs_df):
    """The production width (bits=60, the full token-hash width; 15-bit
    bands) works through the long bit arithmetic and still reproduces the
    brute-force result."""
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_dups_banded(
            docs_df, max_hamming=3, bits=60, bands=4
        ).collect()
    }
    sim = {r.doc_id: r.simhash for r in D.simhash(docs_df, bits=60).collect()}
    ids = sorted(sim)
    expect = {
        (a, b): bin(sim[a] ^ sim[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sim[a] ^ sim[b]).count("1") <= 3
    }
    assert got == expect
    assert (0, 3) in got  # identical docs still collide at full width


def test_keeper_map_one_hop(spark, docs_df):
    """Keeper resolution: duplicate docs map to the lowest id of a pair
    partner; singletons map to themselves."""
    from mintpy_spark.queries import queries  # registry import side effects

    pairs = D.minhash_near_dups(docs_df, threshold=0.9).select("doc_a", "doc_b")
    from pyspark.sql import functions as F

    got = {
        r.doc_id: r.keeper
        for r in (
            docs_df.select("doc_id")
            .join(pairs, F.col("doc_id") == F.col("doc_b"), "left")
            .groupBy("doc_id")
            .agg(
                F.least(
                    F.col("doc_id"), F.coalesce(F.min("doc_a"), F.col("doc_id"))
                ).alias("keeper")
            )
            .collect()
        )
    }
    assert got[3] == 0       # doc 3 is an exact dup of doc 0
    assert got[0] == 0       # the keeper keeps itself
    assert got[4] == 4       # singleton


def test_ivf_assignment_and_probe(spark):
    """IVF coarse assignment matches a NumPy argmax replica; probing more
    centroids only adds candidates (recall is monotone in n_probe)."""
    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(60, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = S.load_centroids(df, num_centroids=4)
    got = {r.vec_id: r.ivf_bucket for r in S.ivf_assign(df, cents).collect()}
    C = np.array([c for _cid, c in cents])
    V = vecs.astype(np.float64)
    sims = (V @ C.T) / (
        np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    expect = sims.argmax(axis=1)  # numpy argmax = first max = lowest cid
    for i in range(60):
        assert got[i] == expect[i], i
    # k >= corpus so top-k truncation cannot mask candidate-set growth
    r2 = {r.vec_id for r in S.ivf_topk(df, query_id=0, k=100, n_probe=2,
                                       num_centroids=4).collect()}
    r4 = {r.vec_id for r in S.ivf_topk(df, query_id=0, k=100, n_probe=4,
                                       num_centroids=4).collect()}
    assert r2 <= r4
    assert len(r4) == 59  # n_probe == num centroids -> exhaustive minus query


def test_components_close_transitive_chains(spark):
    """Min-label propagation closes chains one-hop keeper resolution
    misses: a 5-node path converges to one component in 4 iterations; a
    disjoint pair stays separate."""
    import pandas as pd

    ids = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(7))}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 1, 2, 3, 5], "doc_b": [1, 2, 3, 4, 6]})
    )
    got = {
        r.doc_id: r.component
        for r in D.dedup_components(ids, pairs, iterations=4).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5}
    # one fewer iteration is NOT converged for the path (label needs 4
    # hops to reach node 4) — documents why k must cover the diameter
    got3 = {
        r.doc_id: r.component
        for r in D.dedup_components(ids, pairs, iterations=3).collect()
    }
    assert got3[4] != 0
    # lineage checkpointing is a physical-plan change only: disabling it
    # (checkpoint_every=0) yields identical labels
    got_nockpt = {
        r.doc_id: r.component
        for r in D.dedup_components(
            ids, pairs, iterations=4, checkpoint_every=0
        ).collect()
    }
    assert got_nockpt == got


def test_ivf_assign_broadcast_matches_literal(spark):
    """The broadcast-centroid assignment (unbounded C) must match the
    literal-codebook form bit-for-bit, including lowest-cid tie-breaks,
    at a codebook size the literal form could not reasonably inline."""
    rng = np.random.default_rng(17)
    n, dim, C = 200, 16, 64
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    vecs[5] = vecs[70]  # duplicate vector -> identical scores everywhere
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id int, embedding array<float>",
    )
    cents = S.load_centroids(df, num_centroids=C)
    lit = {r.vec_id: r.ivf_bucket
           for r in S.ivf_assign(df, cents).select("vec_id", "ivf_bucket").collect()}
    bc = {r.vec_id: r.ivf_bucket
          for r in S.ivf_assign_bcast(df, cents).select("vec_id", "ivf_bucket").collect()}
    assert lit == bc
    assert len(bc) == n
