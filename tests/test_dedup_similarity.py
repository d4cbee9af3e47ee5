"""Training-data dedup + similarity operators vs brute-force pandas truth."""

from __future__ import annotations

import hashlib
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from colymer_acquirers_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dups,
)
from colymer_acquirers_spark.operators.similarity import (
    ann_cosine_topk_lsh,
    cosine_topk,
    lsh_bucket,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different text about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "spark engines process completely different text"),
    (5, "one more unrelated document with unique words here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_simhash(text: str) -> int:
    lanes = [0] * 64
    for w in text.split(" "):
        d = hashlib.md5(w.encode()).hexdigest()
        for i in range(64):
            nib = int(d[i // 4], 16)
            bit = (nib >> (3 - i % 4)) & 1
            lanes[i] += 1 if bit else -1
    return sum((1 << i) for i in range(64) if lanes[i] > 0)


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_dedup(docs):
    out = exact_dedup(
        docs.withColumn("fp", F.md5(F.col("text").cast("binary"))),
        ["fp"],
        ["doc_id"],
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 0 in kept and 3 not in kept  # keep-min wins
    assert len(kept) == 5


def test_minhash_identical_docs_share_signature(spark, docs):
    sigs = {r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8))
            for r in minhash_signatures(docs, "doc_id", "text", 8).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    assert shared >= 4


def test_minhash_signatures_word_sets_path_identical(docs):
    """r8 session 3: minhash_near_dups_verified shares ONE
    tokenize+array_distinct pass between the signature lineage and the
    verify's attach joins (word_sets=). The shared-frame path must be
    bit-identical to the direct path — it is the same expression tree,
    materialized once."""
    words = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("__ws"),
    )
    direct = {r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8))
              for r in minhash_signatures(docs, "doc_id", "text", 8).collect()}
    shared = {r["doc_id"]: tuple(r[f"sig{j}"] for j in range(8))
              for r in minhash_signatures(
                  docs, "doc_id", "text", 8, word_sets=words).collect()}
    assert direct == shared


def test_minhash_signatures_rejects_foreign_word_sets(docs):
    with pytest.raises(ValueError, match="word_sets"):
        minhash_signatures(docs, "doc_id", "text", 8, word_sets=docs)


def test_minhash_without_persisted_leaves_no_cache(spark):
    """Called without ``persisted``, neither minhash entry point may leave
    a cached frame behind, and ``ngram_jaccard_pairs`` never may: nobody
    would ever release it."""
    from colymer_acquirers_spark.operators.dedup import minhash_near_dups_verified

    rdds = spark.sparkContext._jsc.getPersistentRDDs

    # fresh rows per call: a cache an earlier test leaked over the module's
    # docs would match structurally and hide a new one
    def fresh(offset):
        return spark.createDataFrame(
            [(i + offset, t) for i, t in DOCS], ["doc_id", "text"]
        )

    before = set(rdds().keySet())
    minhash_lsh_pairs(fresh(1000), "doc_id", "text", 16, 8).collect()
    assert set(rdds().keySet()) - before == set()
    minhash_near_dups_verified(fresh(2000), "doc_id", "text").collect()
    assert set(rdds().keySet()) - before == set()
    ngram_jaccard_pairs(fresh(3000), "doc_id", "text", 3, 0.01).collect()
    assert set(rdds().keySet()) - before == set()


def test_minhash_lsh_finds_dups(docs):
    # 8 bands × 2 rows: P(collide) ≈ 1-(1-j²)⁸ ≈ 0.9995 at j ≈ 0.78
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, "doc_id", "text", 16, 8).collect()}
    assert (0, 3) in pairs
    assert (0, 1) in pairs  # near-dup collides in ≥1 band w.h.p.
    assert (0, 2) not in pairs


def test_simhash_matches_python(docs):
    got = {r["doc_id"]: r["simhash"] for r in
           simhash64(docs, "doc_id", "text").collect()}
    for doc_id, text in DOCS:
        expected = _py_simhash(text)
        # python int is unsigned 64; spark packs into signed long
        assert got[doc_id] & 0xFFFFFFFFFFFFFFFF == expected, doc_id


def test_simhash_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dups(docs, "doc_id", "text", max_hamming=10).collect()}
    assert pairs.get((0, 3)) == 0
    assert (0, 2) not in pairs


def test_ngram_jaccard_exact(docs):
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.01).collect()}
    for (ia, ta), (ib, tb) in combinations(DOCS, 2):
        expected = _py_jaccard(ta, tb)
        if expected >= 0.01:
            assert abs(got[(ia, ib)] - expected) < 1e-12, (ia, ib)
        else:
            assert (ia, ib) not in got


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(200, 16).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    return vecs, spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_matches_numpy(vectors):
    vecs, df = vectors
    q = vecs[0]
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expected = list(np.argsort(-sims)[:10])
    got = [r["vec_id"] for r in cosine_topk(df, list(q), 10).collect()]
    assert got == expected


def test_lsh_bucket_deterministic_and_ann_recall(vectors):
    vecs, df = vectors
    b1 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(df, 16, 8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(df, 16, 8).collect()}
    assert b1 == b2
    q = vecs[0]
    got = [r["vec_id"] for r in ann_cosine_topk_lsh(df, list(q), 16, 10, 8).collect()]
    assert got[0] == 0  # the query vector itself is its own nearest
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    exact = set(np.argsort(-sims)[:10])
    # approximate: expect meaningful overlap with the exact top-10
    assert len(set(got) & exact) >= 4


def _exact_hamming_pairs(texts, max_h):
    """Brute-force truth: all pairs with simhash hamming <= max_h."""
    hashes = {i: _py_simhash(t) for i, t in texts}
    out = {}
    for (ia, _), (ib, _) in combinations(texts, 2):
        d = bin(hashes[ia] ^ hashes[ib]).count("1")
        if d <= max_h:
            out[(min(ia, ib), max(ia, ib))] = d
    return out


@pytest.mark.parametrize("max_h", [0, 3, 6, 10])
def test_simhash_near_dups_complete_recall(spark, max_h):
    """Pigeonhole guarantee: with n_chunks = max_hamming+1 (the default),
    EVERY pair within threshold is found — not just hamming-0 dups."""
    texts = [(i, t) for i, t in DOCS] + [
        (10, "the quick brown fox leaps over the lazy dog"),
        (11, "a quick brown fox jumps over one lazy dog"),
        (12, "the quick brown fox jumps over the hazy dog"),
        (13, "spark engines process completely different texts"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(df, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert got == _exact_hamming_pairs(texts, max_h)


def test_simhash_near_dups_rejects_insufficient_chunks(docs):
    with pytest.raises(ValueError):
        simhash_near_dups(docs, "doc_id", "text", max_hamming=5, n_chunks=4)


def test_embedding_near_dups_lsh_equijoin_only_and_recall(vectors):
    """The LSH near-dup path must (a) contain no nested-loop/cartesian join
    in the physical plan and (b) hit useful recall vs the exact all-pairs
    truth on the small fixture, with perfect precision (exact cosine verify).
    """
    from colymer_acquirers_spark.operators.similarity import embedding_near_dups_lsh

    vecs, df = vectors
    got = embedding_near_dups_lsh(df, threshold=0.6, dim=16, n_planes=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    exact = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if sims[i, j] >= 0.6
    }
    assert pairs <= exact, "LSH path must never emit a below-threshold pair"
    if exact:
        recall = len(pairs & exact) / len(exact)
        assert recall >= 0.5, (recall, len(exact))


def test_embedding_lsh_multiprobe_radius_curve(vectors):
    """VERDICT r3 #6: radius-2 multi-probe. Recall must be monotone
    nondecreasing in the probe radius (0 → 1 → 2) at fixed planes/tables,
    radius 2 must beat radius 0 outright on this fixture, and precision
    stays perfect at every radius. A max_probes cap must degrade toward
    the radius-1 candidate set, never below it."""
    from colymer_acquirers_spark.operators.similarity import (
        embedding_near_dups_lsh,
    )

    vecs, df = vectors
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    exact = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if sims[i, j] >= 0.6
    }
    assert exact
    recalls = {}
    for radius in (0, 1, 2):
        got = embedding_near_dups_lsh(
            df, threshold=0.6, dim=16, n_planes=10, n_tables=1,
            hamming_probes=radius,
        )
        pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert pairs <= exact, f"radius {radius} emitted below-threshold"
        recalls[radius] = len(pairs & exact) / len(exact)
    assert recalls[0] <= recalls[1] <= recalls[2], recalls
    assert recalls[2] > recalls[1] > recalls[0], recalls
    # deterministic fixture: measured curve ≈ 0.05 → 0.22 → 0.49 (a single
    # 10-plane table at cos 0.6 is recall-starved by design — the knob's
    # cost/recall tradeoff is the thing under test, OR-amplified tables
    # are the production recall lever)
    assert recalls[2] >= 0.45, recalls

    # capped radius-2 = exactly the radius-1 probe set (deterministic
    # radius-ascending truncation at 1 + n_planes masks)
    capped = embedding_near_dups_lsh(
        df, threshold=0.6, dim=16, n_planes=10, n_tables=1,
        hamming_probes=2, max_probes=11,
    )
    r1 = embedding_near_dups_lsh(
        df, threshold=0.6, dim=16, n_planes=10, n_tables=1, hamming_probes=1,
    )
    assert {(r["id_a"], r["id_b"]) for r in capped.collect()} == {
        (r["id_a"], r["id_b"]) for r in r1.collect()
    }

    with pytest.raises(NotImplementedError):
        embedding_near_dups_lsh(
            df, threshold=0.6, dim=16, hamming_probes=3
        )


def test_ngram_jaccard_dfcap_underestimates_only(spark):
    """DF cap: capped jaccard <= exact jaccard per pair (never overestimates,
    so a >=threshold filter only loses recall); with a cap that bites on a
    stop-shingle, the hot bucket disappears."""
    texts = [(i, f"of the and unique{i} words{i} tail{i} of the and") for i in range(6)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.0001).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.0001, max_doc_freq=3
        ).collect()
    }
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12, k
    # the shared stop-shingle "of the and" appears in all 6 docs (> cap 3):
    # every pairwise intersection was exactly that shingle, so no pairs remain
    assert capped == {}
    assert len(exact) == 15


def test_ivf_assignment_and_recall(vectors):
    """IVF: assignment matches numpy argmin; probing more cells reaches
    exact top-k (n_probe = n_centroids ⇒ exhaustive)."""
    from colymer_acquirers_spark.operators.similarity import (
        ann_cosine_topk_ivf,
        ivf_assign,
    )

    vecs, df = vectors
    cents = [list(map(float, vecs[i])) for i in range(8)]
    got = {r["vec_id"]: r["cluster"] for r in ivf_assign(df, cents).collect()}
    C = np.asarray(cents)
    for i in range(len(vecs)):
        exp = int(np.argmin(((C - vecs[i]) ** 2).sum(axis=1)))
        assert got[i] == exp, i

    q = vecs[3]
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    exact = list(np.argsort(-sims)[:10])
    # exhaustive probe == exact brute force
    full = [r["vec_id"] for r in
            ann_cosine_topk_ivf(df, list(q), 10, n_centroids=8, n_probe=8).collect()]
    assert full == exact
    # partial probe: meaningful overlap, and the query's own cell is probed
    part = [r["vec_id"] for r in
            ann_cosine_topk_ivf(df, list(q), 10, n_centroids=8, n_probe=2).collect()]
    assert 3 in part and len(set(part) & set(exact)) >= 3


def test_ivf_assign_null_vector_falls_back_to_bucket_zero(spark):
    """ADVICE r7 regression: a NULL embedding must land in bucket 0 (the
    pre-r7 when-chain behavior), not drop out of the inverted file with a
    NULL cluster (the r7 linear-argmin rewrite's silent change)."""
    from pyspark.sql import types as T

    from colymer_acquirers_spark.operators.similarity import ivf_assign

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, None), (2, [10.0, 10.0])], schema
    )
    cents = [[0.0, 0.0], [10.0, 10.0]]
    got = {r["vec_id"]: r["cluster"] for r in ivf_assign(df, cents).collect()}
    assert got == {0: 0, 1: 0, 2: 1}


def test_minhash_verified_precision_one_and_recall(spark):
    """Candidate→verify composition: every emitted pair truly clears the
    word-Jaccard threshold (precision 1 by construction), and recall vs
    the brute-force truth is high for genuinely similar docs."""
    from colymer_acquirers_spark.operators.dedup import minhash_near_dups_verified

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = []
    for i in range(30):
        if i % 3 == 0:
            docs.append((i, base + f" tail{i // 3}"))  # near-dup family
        else:
            docs.append((i, f"unique{i} words{i} only{i} here{i} now{i}"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dups_verified(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }

    # brute-force truth in python
    import itertools

    sets = {i: set(t.split(" ")) for i, t in docs}
    exact = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in itertools.combinations(range(30), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    }
    for pair, jac in got.items():
        assert pair in exact and abs(jac - exact[pair]) < 1e-9, pair
    recall = len(got) / len(exact)
    assert recall >= 0.8, (recall, len(exact), len(got))


def test_near_dup_components_matches_union_find(spark):
    """Cluster step truth: min-label propagation ≡ union-find on a graph
    with a 4-chain (diameter test), a triangle, a 2-clique, and ids that
    force the representative to be the true transitive min."""
    edges = [(10, 2), (2, 7), (7, 30),   # chain: min is 2
             (5, 6), (6, 8), (5, 8),     # triangle: min 5
             (100, 40)]                  # pair: min 40
    from colymer_acquirers_spark.operators.dedup import near_dup_components

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in near_dup_components(pairs).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}
    assert got == expected, (got, expected)
    assert got[30] == 2 and got[8] == 5 and got[100] == 40


def test_components_convergence_counts_ride_eager_checkpoints(spark, monkeypatch):
    """VERDICT r7 #5: the loop's convergence count is EXACT only because
    it rides an Observation on an EAGER flat_checkpoint — one job over
    every partition. A lazy checkpoint would leave the Observation
    unresolved (the loop would stall or read stale counts) and an
    observe moved under a shared cache co-materialization would see a
    PARTIAL count. Pin the contract structurally: every checkpoint the
    label-prop loop takes is eager, and on a known-diameter chain the
    iteration count (== loop checkpoints after the edge materialization)
    is exactly diameter + 1 (the +1 is the zero-changes confirming pass)
    — an undercounting convergence check would exit earlier and OVER-
    SPLIT, which the value assertion also catches."""
    import colymer_acquirers_spark.operators.dedup as dedup_mod
    from colymer_acquirers_spark.operators.ckpt import flat_checkpoint

    calls = []

    def spying_ckpt(df, eager=True):
        calls.append(eager)
        return flat_checkpoint(df, eager=eager)

    monkeypatch.setattr(dedup_mod, "flat_checkpoint", spying_ckpt)
    # path 0-1-2-...-6: diameter 6; min-label propagation needs 6
    # label-moving iterations + 1 confirming iteration
    chain = [(i, i + 1) for i in range(6)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in dedup_mod.near_dup_components(pairs).collect()}
    assert got == {i: 0 for i in range(7)}
    assert all(calls), f"loop checkpoint went lazy: {calls}"
    # 1 edge checkpoint + (diameter + 1) per-iteration label checkpoints
    assert len(calls) == 1 + 6 + 1, calls


def test_dedup_keep_representatives(spark):
    from colymer_acquirers_spark.operators.dedup import dedup_keep_representatives

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 3), (3, 5), (8, 9)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in dedup_keep_representatives(docs, pairs, "doc_id").collect()
    )
    # clusters {1,3,5} → keep 1; {8,9} → keep 8; everything unpaired kept
    assert kept == [0, 1, 2, 4, 6, 7, 8, 10, 11]


def test_ivf_kmeans_centroids_deterministic_and_recall(vectors):
    """VERDICT r2 #7: IVF cells from deterministic sampled k-means (not the
    lowest-id placeholder). Same seed ⇒ bit-identical centroids; recall@10
    vs the exact brute-force oracle clears the threshold at n_probe=3/8
    even on isotropic data (the hardest case for coarse quantization)."""
    from colymer_acquirers_spark.operators.similarity import (
        ann_cosine_topk_ivf,
        kmeans_centroids,
    )

    vecs, df = vectors
    c1 = kmeans_centroids(df, 8, sample_n=128)
    c2 = kmeans_centroids(df, 8, sample_n=128)
    assert c1 == c2  # seeded sample + seeded k-means++ ⇒ reproducible
    assert len(c1) == 8 and len(c1[0]) == 16
    # centroids are genuine means, not input rows
    as_rows = {tuple(np.round(v, 9)) for v in vecs}
    assert sum(tuple(np.round(c, 9)) in as_rows for c in c1) <= 1

    recalls = []
    for qi in (0, 3, 17, 42):
        q = vecs[qi]
        sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        exact = set(np.argsort(-sims)[:10])
        got = {
            r["vec_id"]
            for r in ann_cosine_topk_ivf(
                df, list(q), 10, n_centroids=8, n_probe=3
            ).collect()
        }
        recalls.append(len(got & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_explicit_empty_centroids_rejected(vectors):
    """Review r4: an explicitly-passed empty centroid list must raise, not
    silently brute-force-scan the table; an empty TABLE with derived
    centroids still returns the correct empty result."""
    from colymer_acquirers_spark.operators.similarity import ann_cosine_topk_ivf

    vecs, df = vectors
    with pytest.raises(ValueError, match="empty"):
        ann_cosine_topk_ivf(df, [0.0] * 16, centroids=[])
    empty = df.limit(0)
    assert ann_cosine_topk_ivf(empty, [0.0] * 16, centroids="kmeans").count() == 0


def _py_components(pairs):
    """Union-find truth: min-id label per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_star_components_match_union_find_random(spark, seed):
    """large-star/small-star vs a pure-python union-find on random
    graphs (mixed cliques, chains, isolated pairs)."""
    from colymer_acquirers_spark.operators.dedup import (
        connected_components_star,
    )

    rng = np.random.RandomState(seed)
    pairs = set()
    while len(pairs) < 70:
        a, b = int(rng.randint(60)), int(rng.randint(60))
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs = sorted(pairs)
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in connected_components_star(df).collect()}
    assert got == _py_components(pairs)


def test_star_handles_long_chain_where_label_prop_budgets_out(spark):
    """The adversarial case the label-prop docstring warns about: an
    80-node chain (diameter 79). Label propagation exits on its 25-round
    budget with a RuntimeWarning and over-split labels; the star variant
    converges to the exact single component in O(log n) rounds."""
    import warnings

    from colymer_acquirers_spark.operators.dedup import (
        connected_components_star,
        near_dup_components,
    )

    # shuffle ids so min-label must travel the whole chain
    rng = np.random.RandomState(9)
    perm = rng.permutation(80).tolist()
    chain = [(int(min(perm[i], perm[i + 1])), int(max(perm[i], perm[i + 1])))
             for i in range(79)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])

    star = {r["id"]: r["component"]
            for r in connected_components_star(df).collect()}
    assert set(star.values()) == {0} and len(star) == 80

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lp = near_dup_components(df, max_iters=10)
        labels = {r["component"] for r in lp.collect()}
    assert any("max_iters" in str(x.message) for x in w)
    assert len(labels) > 1  # over-split, as the warning says

    # and the dispatch: method='star' from the same entry point
    via = {r["id"]: r["component"]
           for r in near_dup_components(df, method="star").collect()}
    assert via == star


def test_pair_expansion_joins_keep_explicit_width(spark, docs, vectors):
    """Regression for the AQE-collapse fix: each pair-expansion self-join
    must carry a REPARTITION_BY_NUM exchange on its bucket keys — AQE's
    byte-based coalescing must never be able to narrow the quadratic
    expansion to one task (it did: 168 s verified-minhash at sf0.1)."""
    from colymer_acquirers_spark.operators.similarity import (
        embedding_near_dups_lsh,
    )

    _, vec_df = vectors
    cases = [
        (minhash_lsh_pairs(docs, "doc_id", "text", 8, 4), "band_idx"),
        (simhash_near_dups(docs, "doc_id", "text", max_hamming=3), "chunk_idx"),
        (embedding_near_dups_lsh(vec_df, threshold=0.6, dim=16, n_planes=6),
         "__t"),
    ]
    for df, key in cases:
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        pinned = [
            ln for ln in plan.splitlines()
            if "REPARTITION_BY_NUM" in ln and key in ln
        ]
        assert pinned, f"no REPARTITION_BY_NUM exchange on {key}:\n{plan[:1500]}"


def test_lsh_bucket_cap_star_expansion(spark):
    """bucket_cap: oversized band buckets switch from clique (h(h-1)/2
    pairs) to hub-star (h-1 pairs) expansion; connectivity — hence the
    downstream near-dup components — is preserved, and bucket_cap=None
    keeps the exact clique semantics."""
    from pyspark.sql import functions as F

    from colymer_acquirers_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_components,
    )

    # 30 identical docs (one hot cluster) + 10 unique docs
    rows = [(i, "the same boilerplate page body text here") for i in range(30)]
    rows += [(100 + i, f"unique{i} totally different words u{i} v{i} w{i}")
             for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    full = minhash_lsh_pairs(df, "doc_id", "text").cache()
    capped = minhash_lsh_pairs(df, "doc_id", "text", bucket_cap=5).cache()

    n_full, n_capped = full.count(), capped.count()
    assert n_full == 30 * 29 // 2  # the quadratic clique
    assert n_capped == 29  # hub-star: every hot doc pairs with min id 0
    assert capped.filter(F.col("id_a") == 0).count() == 29

    comp_full = {
        (r["id"], r["component"])
        for r in near_dup_components(full, "id_a", "id_b").collect()
    }
    comp_capped = {
        (r["id"], r["component"])
        for r in near_dup_components(capped, "id_a", "id_b").collect()
    }
    assert comp_full == comp_capped  # same groups, linear pair budget

    # cap larger than every bucket → exact clique output, byte-identical
    uncapped_eq = minhash_lsh_pairs(df, "doc_id", "text", bucket_cap=1000)
    assert sorted(map(tuple, uncapped_eq.collect())) == sorted(
        map(tuple, full.collect())
    )
    full.unpersist(); capped.unpersist()

def test_lsh_hot_bucket_diagnostic(spark):
    """The DEFAULT (uncapped) path is not silent about hot buckets
    (VERDICT r5 #4): a skewed corpus whose largest band bucket exceeds
    hot_bucket_warn raises a UserWarning naming the bucket size and the
    bucket_cap escape hatch BEFORE the quadratic self-join; a uniform
    corpus stays quiet; and the emitted pairs are identical with the
    diagnostic on or off (observational only, zero semantic change)."""
    import warnings

    from colymer_acquirers_spark.operators.dedup import minhash_lsh_pairs

    hot = [(i, "the same boilerplate page body text here") for i in range(30)]
    hot += [(100 + i, f"unique{i} totally different words u{i} v{i} w{i}")
            for i in range(10)]
    skewed = spark.createDataFrame(hot, ["doc_id", "text"])
    uniform = spark.createDataFrame(
        [(i, f"unique{i} totally different words u{i} v{i} w{i}")
         for i in range(20)],
        ["doc_id", "text"],
    )

    with pytest.warns(UserWarning, match=r"largest band bucket holds 30"):
        warned = minhash_lsh_pairs(
            skewed, "doc_id", "text", hot_bucket_warn=10
        )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        minhash_lsh_pairs(uniform, "doc_id", "text", hot_bucket_warn=10)
        silent = minhash_lsh_pairs(
            skewed, "doc_id", "text", hot_bucket_warn=None
        )

    assert sorted(map(tuple, warned.collect())) == sorted(
        map(tuple, silent.collect())
    )


def test_flat_checkpoint_uses_reliable_dir_when_configured(spark, tmp_path):
    """flat_checkpoint (operators/ckpt.py) must switch to a RELIABLE
    checkpoint when a checkpoint dir is configured (the cluster-safe
    production mode: executor-local blocks die with the executor) and the
    dedup components must produce identical clusters in that mode."""
    from colymer_acquirers_spark.operators.ckpt import flat_checkpoint
    from colymer_acquirers_spark.operators.dedup import near_dup_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    out = flat_checkpoint(df, eager=True)
    assert {r["v"] for r in out.collect()} == {0, 2, 4, 6, 8}

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        assert sc.getCheckpointDir() is not None
        out2 = flat_checkpoint(df, eager=True)
        assert {r["v"] for r in out2.collect()} == {0, 2, 4, 6, 8}
        # reliable-checkpoint files actually landed in the configured dir
        import os

        assert any(os.scandir(str(tmp_path / "ckpt")))
        # the iterative operator end-to-end under reliable checkpointing
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"]
        )
        got = {
            (r["id"], r["component"])
            for r in near_dup_components(pairs).collect()
        }
        want = set(_py_components([(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]).items())
        assert got == want
    finally:
        # do not leak the checkpoint dir into other tests in this session
        opt_empty = getattr(getattr(sc._jvm, "scala.Option$"), "MODULE$").empty()
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(opt_empty)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hash_widths(plan: str) -> set[int]:
    import re

    return {int(w) for w in re.findall(r"hashpartitioning\([^()]*, (\d+)\)", plan)}


def test_components_loop_leaves_caller_session_alone(spark):
    """While a components loop runs on another driver thread, the caller's
    session keeps its conf: a parent groupBy still plans under AQE at the
    session width, and pin_shuffle_width pins the session width, not the
    loop's derived width of 1."""
    import threading
    import time

    from colymer_acquirers_spark.operators.dedup import (
        near_dup_components,
        pin_shuffle_width,
    )

    wkey, akey = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    width, aqe = spark.conf.get(wkey), spark.conf.get(akey)
    assert aqe == "true" and int(width) > 1
    chain = [(i, i + 1) for i in range(12)]  # 13 label iterations
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    out: dict = {}

    def run():
        try:
            out["got"] = {r["id"]: r["component"]
                          for r in near_dup_components(pairs).collect()}
        except Exception as e:  # re-raised on the main thread
            out["err"] = e

    parent = spark.range(100).withColumn("k", F.col("id") % 7)
    loop = threading.Thread(target=run)
    loop.start()
    checks, deadline = 0, time.monotonic() + 300
    while loop.is_alive() and time.monotonic() < deadline:
        assert (spark.conf.get(wkey), spark.conf.get(akey)) == (width, aqe)
        agg = _plan(parent.groupBy("k").count())
        assert agg.startswith("AdaptiveSparkPlan"), agg
        assert _hash_widths(agg) == {int(width)}, agg
        assert _hash_widths(_plan(pin_shuffle_width(parent, "k"))) == {int(width)}
        checks += 1
    loop.join(timeout=5)
    assert not loop.is_alive()
    if "err" in out:
        raise out["err"]
    assert out["got"] == {i: 0 for i in range(13)}
    assert checks >= 3, checks


def test_components_loops_plan_in_child_session(spark, monkeypatch):
    """Both loops plan their iterations in a child session: width 1 with no
    AdaptiveSparkPlan on a tiny graph, and the caller's runtime conf
    (here ANSI mode) carried over. The caller's conf is unchanged after."""
    import colymer_acquirers_spark.operators.dedup as dedup_mod
    from colymer_acquirers_spark.operators.ckpt import flat_checkpoint

    seen = []

    def spying_ckpt(df, eager=True):
        session = df.sparkSession
        seen.append((session, session.conf.get("spark.sql.ansi.enabled"), _plan(df)))
        return flat_checkpoint(df, eager=eager)

    monkeypatch.setattr(dedup_mod, "flat_checkpoint", spying_ckpt)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    before = spark.conf.getAll
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for method in ("label", "star"):
            seen.clear()
            got = {r["id"]: r["component"]
                   for r in dedup_mod.near_dup_components(pairs, method=method).collect()}
            assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}, method
            # the first checkpoint (the edge list that sizes the loop) runs
            # in the caller's session; every later one in the child
            assert seen[0][0] is spark
            loop = seen[1:]
            assert loop and all(s is not spark for s, _, _ in loop), method
            for _, ansi, plan in loop:
                assert ansi == "true", method
                assert "AdaptiveSparkPlan" not in plan, plan
                assert _hash_widths(plan) == {1}, plan
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert spark.conf.getAll == before


def test_loop_session_width_follows_rows(spark):
    """A large row count derives a child width > 1 and keeps AQE on; a
    small one derives width 1 and turns AQE off in the child only."""
    from colymer_acquirers_spark.operators.ckpt import loop_session

    wkey, akey = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    width = spark.conf.get(wkey)
    big = loop_session(spark, n_rows=3 << 20)
    assert (big.conf.get(wkey), big.conf.get(akey)) == ("3", "true")
    small = loop_session(spark, n_rows=10)
    assert (small.conf.get(wkey), small.conf.get(akey)) == ("1", "false")
    assert (spark.conf.get(wkey), spark.conf.get(akey)) == (width, "true")


def test_signatures_spread_only_inputs_narrower_than_cores(spark, docs):
    """The per-word md5s are spread over the session width only when the
    input has fewer partitions than cores. A one-partition input (one
    small parquet file scans as one) runs the signature aggregate at width
    8, and its only exchange on the id is the explicit-width one: the
    groupBy reuses it instead of adding its own, which AQE would coalesce
    back to one partition. An exchange-free input that already spans the
    cores keeps the parent plan, the partial aggregate ahead of the
    groupBy's own exchange. An input with an exchange is spread without
    being counted. Deciding runs no Spark job, and the signatures are the
    same on every path."""
    sc = spark.sparkContext
    wide = sc.parallelize(DOCS, sc.defaultParallelism).toDF(["doc_id", "text"])
    cases = [
        (docs.coalesce(1), "REPARTITION_BY_NUM"),
        (wide, "ENSURE_REQUIREMENTS"),
        (docs.repartition(1), "REPARTITION_BY_NUM"),
    ]
    sigs = []
    for inp, origin in cases:
        jobs = set(sc.statusTracker().getJobIdsForGroup())
        df = minhash_signatures(inp, "doc_id", "text", 8)
        assert set(sc.statusTracker().getJobIdsForGroup()) == jobs
        df.write.format("noop").mode("overwrite").save()
        if origin == "REPARTITION_BY_NUM":
            assert df.rdd.getNumPartitions() == 8
        final = _plan(df).split("== Initial Plan ==")[0]
        on_id = [ln for ln in final.splitlines() if "Exchange" in ln and "doc_id" in ln]
        assert len(on_id) == 1, final[:2000]
        assert origin in on_id[0], on_id[0]
        sigs.append(sorted(tuple(r) for r in df.collect()))
    assert sigs[0] == sigs[1] == sigs[2]
