"""Property/recall tests for the approximate extensions (the exact
counterparts are oracle-checked in test_queries_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_processing_with_aws_glue_workshop_spark.extensions.dedup_fuzzy import (
    minhash_near_duplicates,
    minhash_signatures,
    simhash,
    simhash_near_duplicates,
)
from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import ann_lsh_topk
from big_data_processing_with_aws_glue_workshop_spark.queries import QUERIES, RETIRED_QUERIES


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_minhash_signatures_shape(documents):
    sigs = minhash_signatures(documents, n_hashes=16)
    rows = sigs.collect()
    assert len(rows) == documents.count()
    assert all(len(r["signature"]) == 16 for r in rows)
    # deterministic across runs
    again = minhash_signatures(documents, n_hashes=16).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_minhash_lsh_recall_vs_exact(documents, spark, sf_dir):
    """LSH + exact-verify must recover a high fraction of the true
    Jaccard>=0.8 pairs found by the exact shingle join, and must never
    report a pair below threshold (verification is exact)."""
    exact = {
        (r["d1"], r["d2"])
        for r in RETIRED_QUERIES["ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    approx_rows = minhash_near_duplicates(
        documents, n_hashes=32, bands=8, threshold=0.8
    ).collect()
    approx = {(r["d1"], r["d2"]) for r in approx_rows}
    assert approx <= exact  # no false positives (exact verify)
    assert exact, "fixture must contain near-duplicate pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall:.2f}"
    assert all(r["jaccard"] >= 0.8 for r in approx_rows)


def test_simhash_near_duplicates(documents):
    hashes = simhash(documents, n_bits=32)
    assert hashes.count() == documents.count()
    pairs = simhash_near_duplicates(documents, n_bits=32, max_hamming=3, n_blocks=4)
    rows = pairs.collect()
    # block-trick candidates verified by exact hamming
    assert all(0 <= r["hamming"] <= 3 for r in rows)
    assert all(r["d1"] < r["d2"] for r in rows)


def test_ann_lsh_recall(embeddings, spark, sf_dir):
    """LSH ANN recall@5 against the exact brute-force top-5."""
    exact = QUERIES["cosine_topk"](spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    queries = embeddings.filter(F.col("vec_id") < 20)
    approx = ann_lsh_topk(embeddings, queries, k=5, n_planes=4, n_tables=16)
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    recall = hits / total
    assert recall >= 0.8, f"ANN recall@5 too low: {recall:.2f}"


def test_ivf_topk_recall(embeddings, spark, sf_dir):
    """IVF coarse-quantizer ANN: recall@5 vs brute force with nprobe=6 of
    nlist=16 cells (touching ~38% of the corpus per query)."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.ivf import ivf_topk

    exact = QUERIES["cosine_topk"](spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    queries = embeddings.filter(F.col("vec_id") < 20)
    approx = ivf_topk(embeddings, queries, k=5, nlist=16, nprobe=6)
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    recall = hits / total
    assert recall >= 0.6, f"IVF recall@5 too low: {recall:.2f}"


def test_clustered_near_dup_exact_equivalence(embeddings, spark, sf_dir):
    """The triangle-inequality cluster pruning must reproduce the all-pairs
    result EXACTLY (ids and cos_sim values) — recall 1.0 is a theorem here,
    not a tuning outcome."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        near_dup_pairs_clustered,
    )

    exact = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in RETIRED_QUERIES["embedding_near_dup_pairs"](spark, sf_dir).collect()
    )
    pruned = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in near_dup_pairs_clustered(embeddings, threshold=0.45).collect()
    )
    assert pruned == exact
    assert len(exact) > 0  # the fixture must actually exercise the threshold


def test_semantic_threshold_sweep_matches_python_mirror(spark):
    """r16 (r15 verdict #2): the embedding family's eps-tuning audit —
    per-eps readouts (pairs, vectors touched, components, exact docs a
    SemDeDup min-id dedup would remove) must equal a Python union-find
    over the SAME exact-cosine pair stream at the floor eps (the
    clustered pair path is pinned exact elsewhere:
    test_clustered_near_dup_exact_equivalence). Constructed corpus with
    DETERMINISTIC similarity tiers — per group, three coplanar vectors
    at cos 0.98 / 0.6 / 0.74 pairwise, groups mutually orthogonal, plus
    orthogonal singletons — so every per-eps count is known in closed
    form, not just mirrored. Also pinned: monotonicity, the zero-pair
    eps row, input-validation raises, and (the r15-ADVICE precedent)
    the sweep's pair pin is released by return — only the pair pass's
    own tracked entries remain."""
    import math as _math

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        near_dup_pairs_clustered,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import (
        semantic_threshold_sweep,
    )
    from big_data_processing_with_aws_glue_workshop_spark.util import (
        _LIVE_CACHES,
        release_tracked_caches,
    )

    dims = 16
    rows = []

    def vec(coord_a, coord_b, theta):
        v = [0.0] * dims
        v[coord_a] = _math.cos(theta)
        v[coord_b] = _math.sin(theta)
        return v

    for k in range(6):  # groups on coordinate planes (2k, 2k+1)
        a, b = 2 * k, 2 * k + 1
        rows.append((100 * k + 0, vec(a, b, 0.0)))
        # cos to the first: 0.98 (tier 1) and 0.60 (tier 2); the pair
        # between them sits at cos(theta2 - theta1) ~ 0.74
        rows.append((100 * k + 1, vec(a, b, _math.acos(0.98))))
        rows.append((100 * k + 2, vec(a, b, _math.acos(0.60))))
    for j in range(4):  # orthogonal singletons on dedicated coords
        v = [0.0] * dims
        v[12 + j] = 1.0
        rows.append((1000 + j, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    eps_list = [0.5, 0.9, 0.999]
    got = {
        r["threshold"]: (
            r["n_pairs"], r["n_docs_in_pairs"], r["n_components"],
            r["docs_removed"],
        )
        for r in semantic_threshold_sweep(corpus, eps_list, nlist=4).collect()
    }

    # closed-form expectations: per group at eps 0.5 all 3 pairs fire
    # (0.98, 0.74, 0.60) merging the triple (remove 2); at 0.9 only the
    # 0.98 pair (remove 1); at 0.999 nothing
    assert got[0.5] == (18, 18, 6, 12)
    assert got[0.9] == (6, 12, 6, 6)
    assert got[0.999] == (0, 0, 0, 0)

    # Python union-find mirror over the same floor pair stream
    pair_rows = near_dup_pairs_clustered(corpus, threshold=0.5, nlist=4).collect()
    for t in eps_list:
        edges = [
            (r["id_a"], r["id_b"]) for r in pair_rows if r["cos_sim"] >= t
        ]
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        nodes = {d for e in edges for d in e}
        comps = {find(d) for d in nodes}
        assert got[t] == (
            len(edges), len(nodes), len(comps), len(nodes) - len(comps)
        ), t

    # monotonicity across the board
    for a, b in zip(eps_list, eps_list[1:]):
        assert got[a][0] >= got[b][0] and got[a][3] >= got[b][3]

    with pytest.raises(ValueError, match="non-empty"):
        semantic_threshold_sweep(corpus, [])
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        semantic_threshold_sweep(corpus, [0.0, 0.5])
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        semantic_threshold_sweep(corpus, [0.5, 1.2])

    # cache hygiene at the registry level (the r15-ADVICE Jaccard-sweep
    # precedent): the sweep registers exactly the tracked entries its
    # internal pair pass registers — its own pairs pin is plain persist
    # + finally-unpersist, never deferred to the tracked registry
    release_tracked_caches()
    near_dup_pairs_clustered(corpus, threshold=0.5, nlist=4).count()
    internal = len(_LIVE_CACHES)
    release_tracked_caches()
    semantic_threshold_sweep(corpus, eps_list, nlist=4).collect()
    assert len(_LIVE_CACHES) == internal
    assert all(df.storageLevel.useMemory for df in _LIVE_CACHES)
    release_tracked_caches()


def test_semantic_dedup_decisions_invariants(spark, sf_dir):
    """The SemDeDup decision table's structural contract, independent of
    the hash oracle: one row per corpus vector; exactly one keep per
    component; the component label IS its minimum member id; singleton
    components keep with size 1; and every near-dup pair lands in the
    same component (the pair set is the decision's only input)."""
    from big_data_processing_with_aws_glue_workshop_spark.queries._tables import load
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import (
        q_semantic_dedup_decisions,
    )

    rows = q_semantic_dedup_decisions(spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m["vec_id"] for m in members)
        assert sum(m["keep"] for m in members) == 1
        assert all(m["component_size"] == len(members) for m in members)
        assert all(
            (m["vec_id"] == comp) == m["keep"] for m in members
        )
    # the fixture must actually exercise a multi-member component
    assert any(len(m) > 1 for m in by_comp.values())
    pairs = RETIRED_QUERIES["embedding_near_dup_pairs"](spark, sf_dir).collect()
    comp_of = {r["vec_id"]: r["component"] for r in rows}
    assert pairs, "threshold fixture must produce pairs"
    for p in pairs:
        assert comp_of[p["id_a"]] == comp_of[p["id_b"]]


def test_connected_components_multi_hop(spark):
    """A 5-node chain needs several propagation rounds; two singleton-ish
    extra edges check component independence."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.dedup_fuzzy import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(4, 5), (3, 4), (2, 3), (1, 2), (10, 11), (20, 21), (11, 12)],
        "d1 bigint, d2 bigint",
    )
    got = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_fast_path_equals_iterative(spark):
    """The r17 small-graph union-find fast path must return the exact
    multiset the iterative min-label propagation converges to — same
    nodes, same min labels, same schema — and the limit-overflow fallback
    (small_edge_limit below the edge count) must route to the iterative
    path and still agree."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions import dedup_fuzzy

    edges = spark.createDataFrame(
        # two chains, one clique, duplicate + reversed edges (the raw pair
        # stream is NOT symmetrized or deduped on the fast path)
        [(4, 5), (3, 4), (2, 3), (1, 2), (10, 11), (11, 12), (12, 10),
         (2, 1), (4, 5), (20, 21)],
        "d1 bigint, d2 bigint",
    )
    fast = dedup_fuzzy.connected_components(edges)  # default limit: fast path
    assert dedup_fuzzy.LAST_CC_ROUNDS == 0
    iterative = dedup_fuzzy.connected_components(edges, small_edge_limit=0)
    assert dedup_fuzzy.LAST_CC_ROUNDS > 0
    assert fast.schema == iterative.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, iterative.collect())
    )
    # overflow: a limit smaller than the edge count must fall back
    fallback = dedup_fuzzy.connected_components(edges, small_edge_limit=3)
    assert dedup_fuzzy.LAST_CC_ROUNDS > 0
    assert sorted(map(tuple, fallback.collect())) == sorted(
        map(tuple, iterative.collect())
    )


def test_connected_components_guards_route_to_iterative(spark):
    """r18 fast-path guards (r17 ADVICE): a NULL endpoint in the probed
    head and an endpoint-dtype mismatch must both decline the driver-side
    union-find and run the iterative path, whose semantics (NULL label
    row, union type coercion) are the operator's contract."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions import dedup_fuzzy

    # NULL endpoint: fast path declines, result equals the iterative path
    edges = spark.createDataFrame(
        [(1, 2), (None, 2), (4, 5)], "d1 bigint, d2 bigint"
    )
    got = dedup_fuzzy.connected_components(edges)
    assert dedup_fuzzy.LAST_CC_ROUNDS > 0  # iterative ran, not union-find
    iterative = dedup_fuzzy.connected_components(edges, small_edge_limit=0)
    assert sorted(
        map(tuple, got.collect()), key=lambda t: (t[0] is None, t)
    ) == sorted(map(tuple, iterative.collect()), key=lambda t: (t[0] is None, t))

    # dtype mismatch: int vs bigint endpoints — fast path declines before
    # probing; iterative union coerces to the common type
    mixed = spark.createDataFrame([(1, 2), (2, 3)], "d1 int, d2 bigint")
    got2 = dedup_fuzzy.connected_components(mixed)
    assert dedup_fuzzy.LAST_CC_ROUNDS > 0
    assert sorted(map(tuple, got2.collect())) == [(1, 1), (2, 1), (3, 1)]


def test_connected_components_probe_error_releases_pin(spark):
    """A probe that raises must not leave the persisted edge list behind:
    neither a cache entry for the edge plan nor a persisted RDD."""
    from pyspark import StorageLevel

    from big_data_processing_with_aws_glue_workshop_spark.extensions import dedup_fuzzy

    edges = spark.range(4).select(
        F.col("id").alias("d1"),
        F.when(F.col("id") >= 0, F.raise_error("probe failed")).cast("bigint").alias("d2"),
    )
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="probe failed"):
        dedup_fuzzy.connected_components(edges)
    probed = edges.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    assert probed.storageLevel == StorageLevel(False, False, False, False, 1)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted_before


def test_minhash_pairs_unique_and_exact_jaccard(documents):
    """r18 verify restructure (set-array intersection) regression pin:
    every qualifying pair appears EXACTLY once, and its jaccard equals
    the Python-set Jaccard of the docs' distinct word 3-shingles."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.dedup_fuzzy import (
        minhash_near_duplicates,
    )

    rows = minhash_near_duplicates(
        documents, n_hashes=32, bands=8, threshold=0.5
    ).collect()
    pairs = [(r["d1"], r["d2"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate output pairs"

    texts = {r["doc_id"]: r["text"] for r in documents.collect()}
    import re

    def shingles(t):
        # replicate word_shingles exactly: trim strips SPACES only (Spark
        # trim semantics), the split class is the oracle-pinned
        # [ \t\n\f\r]+ (not Python's \s)
        toks = re.split(r"[ \t\n\f\r]+", t.strip(" ").lower())
        return {
            " ".join(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))
        }

    for r in rows:
        s1, s2 = shingles(texts[r["d1"]]), shingles(texts[r["d2"]])
        expect = len(s1 & s2) / len(s1 | s2)
        assert abs(r["jaccard"] - expect) < 1e-12
        assert r["jaccard"] >= 0.5


def test_cc_chain_probe_tool_smoke(spark):
    """The SCALE.md chain-probe tool stays runnable: a depth-4 planted
    chain graph converges in exactly depth+1 rounds with correct labels."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from cc_chain_probe import chain_edges

    from big_data_processing_with_aws_glue_workshop_spark.extensions import dedup_fuzzy
    from pyspark.sql import functions as F

    edges = chain_edges(spark, depth=4, width=16)
    # small_edge_limit=0: the probe measures the ITERATIVE path (the
    # r17 fast path would answer a 64-edge graph driver-side)
    labels = dedup_fuzzy.connected_components(edges, max_iter=8, small_edge_limit=0)
    assert dedup_fuzzy.LAST_CC_ROUNDS == 5  # diameter + 1 detection round
    wrong = labels.filter(
        F.col("label") != (F.col("id") - F.col("id") % 1_000_000)
    ).count()
    assert wrong == 0


def test_lsh_stress_corpus_candidates_bounded(spark):
    """The stress.py high-duplication corpus generator plants exactly
    n_base/2 near-dup pairs, and banded LSH candidates stay equal to the
    planted pairs (no bucket blowup) with full recall at threshold 0.8."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from stress import DUP_OFFSET, dup_corpus

    from big_data_processing_with_aws_glue_workshop_spark.extensions.dedup_fuzzy import (
        minhash_near_duplicates,
    )
    from big_data_processing_with_aws_glue_workshop_spark.util import release_tracked_caches
    from pyspark.sql import functions as F

    corpus = dup_corpus(spark, 300)
    planted = corpus.filter(F.col("doc_id") >= DUP_OFFSET).count()
    assert planted == 100  # (2*300//3)//2
    found = minhash_near_duplicates(corpus, threshold=0.8)
    hits = found.filter(F.abs(F.col("d2") - F.col("d1")) == DUP_OFFSET).count()
    total = found.count()
    release_tracked_caches()
    assert hits == planted  # full recall on planted pairs
    assert total == planted  # nothing spurious at this similarity profile


def test_stress_probe_corpora_shapes(spark):
    """The interval/funnel probe corpus builders must keep the analytic
    shapes their SCALE.md tables assume: match counts follow the
    spacing-density formula, and the funnel corpus converts every user."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from stress import funnel_corpus, interval_corpus

    from big_data_processing_with_aws_glue_workshop_spark.queries.events import (
        funnel_stages,
    )
    from big_data_processing_with_aws_glue_workshop_spark.streaming.windows import (
        streaming_interval_join,
    )

    # spacing 600s with a 600s bound: each error matches exactly its
    # immediately preceding click (clicks at even seq, errors at odd)
    ev = interval_corpus(spark, 50, 10, 600)
    assert ev.count() == 500
    assert streaming_interval_join(ev).count() == 50 * 5
    # every user sees view -> click -> purchase in order: all 3 stages full
    stages = {r["stage"]: r for r in funnel_stages(funnel_corpus(spark, 40, 9)).collect()}
    assert stages["1_view"]["n_users"] == 40
    assert stages["2_click"]["n_users"] == 40
    assert stages["3_purchase"]["n_users"] == 40
    assert stages["3_purchase"]["rate_from_prev"] == 1.0


def test_semantic_contamination_matches_brute_force(spark, sf_dir):
    """Exact parity with a numpy brute-force max-cosine per corpus row;
    benchmark rows themselves must flag at sim 1.0."""
    import numpy as np

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        semantic_contamination,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    bench = emb.filter(F.col("vec_id") < 20)
    got = {
        r["vec_id"]: (r["max_benchmark_sim"], r["contaminated"])
        for r in semantic_contamination(emb, bench, threshold=0.9).collect()
    }

    rows = emb.collect()
    B = np.array([r["embedding"] for r in rows if r["vec_id"] < 20])
    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
    for r in rows:
        v = np.array(r["embedding"])
        ref = float((Bn @ (v / np.linalg.norm(v))).max())
        sim, flag = got[r["vec_id"]]
        assert abs(sim - ref) < 1e-6
        assert flag == (sim >= 0.9)
        if r["vec_id"] < 20:
            assert flag and sim > 0.999999


def test_pq_topk_recall_and_exact_rerank(embeddings, spark, sf_dir):
    """PQ-ADC ANN: recall@5 vs brute force; rerank makes every reported
    cos_sim EXACT (equal to the brute-force value for shared pairs)."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.pq import pq_topk

    exact = QUERIES["cosine_topk"](spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    sims: dict[tuple[int, int], float] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        sims[(r["query_id"], r["neighbor_id"])] = r["cos_sim"]

    queries = embeddings.filter(F.col("vec_id") < 20)
    approx = pq_topk(embeddings, queries, kneighbors=5, m=8, k=32, rerank=48)
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:  # rerank recomputes the true cosine
            assert abs(r["cos_sim"] - sims[key]) < 1e-12

    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    recall = hits / total
    assert recall >= 0.7, f"PQ recall@5 too low: {recall:.2f}"


def test_ivfpq_topk_recall_and_exact_mode(embeddings, spark, sf_dir):
    """IVF-PQ (coarse cells + residual-code ADC): recall@5 vs brute
    force at nprobe=6/nlist=16, reported cos_sim EXACT (rerank), and —
    the knob contract — nprobe=nlist with rerank >= corpus size equals
    brute force EXACTLY."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.ivfpq import (
        ivfpq_topk,
    )

    exact = QUERIES["cosine_topk"](spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    sims: dict[tuple[int, int], float] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        sims[(r["query_id"], r["neighbor_id"])] = r["cos_sim"]

    queries = embeddings.filter(F.col("vec_id") < 20)
    approx = ivfpq_topk(
        embeddings, queries, kneighbors=5, nlist=16, nprobe=6, m=8, k=32,
        rerank=48,
    )
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:
            assert abs(r["cos_sim"] - sims[key]) < 1e-12

    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    recall = hits / total
    assert recall >= 0.6, f"IVF-PQ recall@5 too low: {recall:.2f}"

    # exactness invariant: probe everything + unbounded shortlist ==
    # brute force (approximation only ever comes from the knobs)
    n = embeddings.count()
    full = ivfpq_topk(
        embeddings, queries, kneighbors=5, nlist=16, nprobe=16, m=8, k=32,
        rerank=n,
    )
    full_set = {
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 10))
        for r in full.collect()
    }
    exact_set = {
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 10))
        for r in exact
    }
    assert full_set == exact_set


def test_ivfpq_encode_append_equals_rebuild(embeddings, spark):
    """Index maintenance contract (how FAISS-style indexes run at scale):
    train ONCE, then encode arriving waves against the FIXED
    centroids/codebooks and append — the encoded table of two waves
    equals a one-shot encode of their union, so the (vec_id, cell,
    codes) index rides the repo's ordinary append/upsert refresh
    machinery with no retrain pass."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.ivfpq import (
        ivfpq_encode,
        train_ivfpq,
    )

    centroids, codebooks = train_ivfpq(embeddings, nlist=8, m=8, k=16)
    a = embeddings.filter(F.col("vec_id") % 2 == 0)
    b = embeddings.filter(F.col("vec_id") % 2 == 1)
    enc = lambda df: {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in ivfpq_encode(df, centroids, codebooks).collect()
    }
    appended = {**enc(a), **enc(b)}
    assert appended == enc(embeddings)


def test_ann_empty_query_frames_return_empty(embeddings, spark):
    """r9 review regression: an empty-but-valid queries frame yields an
    empty result from the PQ and IVF-PQ entry points, not a numpy axis
    error."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.ivfpq import (
        ivfpq_topk,
    )
    from big_data_processing_with_aws_glue_workshop_spark.extensions.pq import pq_topk

    none = embeddings.filter(F.lit(False))
    assert pq_topk(embeddings, none, kneighbors=5, m=8, k=16).count() == 0
    assert (
        ivfpq_topk(embeddings, none, kneighbors=5, nlist=8, m=8, k=16).count()
        == 0
    )


def test_compression_ratio_parity_and_signal_direction(spark):
    """doc_compression_ratios: (1) bit-exact parity of all three fields
    vs direct zlib.compress at the pinned level (unicode included);
    (2) NULL/empty text yields NULL fields with every input column
    passed through; (3) the signal points the right way — templated
    repetition compresses far below natural-looking prose, which stays
    below high-entropy noise."""
    import zlib

    from big_data_processing_with_aws_glue_workshop_spark.extensions.quality_signals import (
        ZLIB_LEVEL,
        doc_compression_ratios,
    )

    import hashlib

    prose = (
        "The survey crew reached the ridge a little after dawn, when the "
        "valley below was still a pool of blue shadow. Measurements from "
        "the previous season had suggested the glacier was retreating, "
        "but nobody expected the terminus to have pulled back nearly "
        "forty meters in a single year. They unpacked the instruments in "
        "silence and began again."
    )
    noise = "".join(
        chr(0x20 + b % 95)
        for i in range(20)
        for b in hashlib.sha256(str(i).encode()).digest()
    )
    docs = [
        (1, prose),
        (2, "buy now! " * 200),  # templated repetition
        (3, noise),  # high-entropy printable noise
        (4, "naïve café — ünïcode ensures multi-byte UTF-8 is counted"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    got = {r["doc_id"]: r for r in doc_compression_ratios(df).collect()}

    for doc_id, text in docs:
        r = got[doc_id]
        if not text:
            assert (r["raw_bytes"], r["zlib_bytes"], r["compression_ratio"]) == (
                None,
                None,
                None,
            )
            continue
        b = text.encode("utf-8")
        c = len(zlib.compress(b, ZLIB_LEVEL))
        assert (r["raw_bytes"], r["zlib_bytes"]) == (len(b), c)
        assert r["compression_ratio"] == c / len(b)
        assert r["text"] == text  # input columns pass through

    assert got[2]["compression_ratio"] < 0.1  # repetition collapses
    assert got[2]["compression_ratio"] < got[1]["compression_ratio"]
    assert got[1]["compression_ratio"] < got[3]["compression_ratio"]

    # a pre-existing output-name column refuses upfront, not deep in Arrow
    import pytest

    with pytest.raises(ValueError, match="raw_bytes"):
        doc_compression_ratios(df.withColumn("raw_bytes", F.lit(0)))


@pytest.mark.parametrize("seed", [3, 14])
def test_cosine_similarity_join_equals_cross_join(spark, seed):
    """The two-frame similarity join must reproduce the cross-join
    baseline EXACTLY (ids and cos_sim bits) on random data with planted
    matches — recall 1.0 is the triangle-inequality theorem, two-sided."""
    import random

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        cosine_similarity_join,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import dot, norm

    rng = random.Random(seed)
    dim, thr = 8, 0.93
    right_rows = [
        (i, [float(rng.uniform(-1, 1)) for _ in range(dim)]) for i in range(120)
    ]
    left_rows = []
    for j in range(80):
        if rng.random() < 0.3:  # planted near-match of a right vector
            _, v = right_rows[rng.randrange(len(right_rows))]
            left_rows.append(
                (1000 + j, [x * rng.uniform(0.98, 1.02) + rng.uniform(-0.01, 0.01) for x in v])
            )
        else:
            left_rows.append((1000 + j, [float(rng.uniform(-1, 1)) for _ in range(dim)]))
    # zero-norm rows on both sides: NaN cosine never matches, and the
    # pruned path must not let them widen the allowlist to everything
    left_rows.append((1999, [0.0] * dim))
    right_rows.append((999, [0.0] * dim))

    schema_l = "left_id long, embedding array<float>"
    schema_r = "right_id long, embedding array<float>"
    ldf = spark.createDataFrame(left_rows, schema_l)
    rdf = spark.createDataFrame(right_rows, schema_r)

    got = sorted(
        (r["left_id"], r["right_id"], r["cos_sim"])
        for r in cosine_similarity_join(
            ldf, rdf, threshold=thr, nlist=6, seed=seed
        ).collect()
    )
    la = ldf.select(
        F.col("left_id"), F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    rb = rdf.select(
        F.col("right_id"), F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    expected = sorted(
        (r["left_id"], r["right_id"], r["cos_sim"])
        for r in la.crossJoin(rb)
        .select(
            "left_id", "right_id",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= thr)
        .collect()
    )
    assert got == expected
    assert len(expected) > 0  # the planted matches must actually exercise it


def test_cosine_similarity_join_empty_and_guards(spark):
    """Empty-side results preserve the CALLERS' id dtypes (string ids are
    common in record linkage — a hardcoded long schema would break
    unionByName across runs), and colliding output id names are refused
    up front."""
    import pytest

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        cosine_similarity_join,
    )

    ldf = spark.createDataFrame(
        [("a", [1.0, 0.0])], "left_id string, embedding array<float>"
    )
    rdf = spark.createDataFrame([], "right_id string, embedding array<float>")
    out = cosine_similarity_join(ldf, rdf, threshold=0.9)
    assert out.count() == 0
    assert dict(out.dtypes) == {
        "left_id": "string", "right_id": "string", "cos_sim": "double"
    }
    with pytest.raises(ValueError, match="distinct output id column names"):
        cosine_similarity_join(
            ldf.withColumnRenamed("left_id", "vec_id"),
            rdf.withColumnRenamed("right_id", "vec_id"),
            left_id="vec_id", right_id="vec_id",
        )


def test_cosine_similarity_join_nan_component_matches_baseline(spark):
    """Spark evaluates NaN >= threshold as TRUE, so the crossJoin
    baseline MATCHES every pair involving a NaN-component vector; the
    pruned join must reproduce that (its NaN theta is nanvl'd to the
    worst-case pi so the allowlist cannot silently prune the cell —
    the r10 follow-up review's exactness hole)."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        cosine_similarity_join,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import dot, norm

    ldf = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [float("nan"), 1.0, 0.0])],
        "left_id long, embedding array<float>",
    )
    rdf = spark.createDataFrame(
        [(10, [0.0, 1.0, 0.0]), (11, [0.0, 0.0, 1.0]), (12, [1.0, 0.01, 0.0])],
        "right_id long, embedding array<float>",
    )
    got = sorted(
        (r["left_id"], r["right_id"])
        for r in cosine_similarity_join(ldf, rdf, threshold=0.9, nlist=2).collect()
    )
    la = ldf.select("left_id", F.col("embedding").alias("va"), norm(F.col("embedding")).alias("na"))
    rb = rdf.select("right_id", F.col("embedding").alias("vb"), norm(F.col("embedding")).alias("nb"))
    expected = sorted(
        (r["left_id"], r["right_id"])
        for r in la.crossJoin(rb)
        .filter((dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= 0.9)
        .collect()
    )
    assert got == expected
    # the NaN row's pairs are genuinely present (Spark NaN-compare)
    assert {(2, 10), (2, 11), (2, 12)} <= set(expected)


def test_cosine_similarity_join_zero_norm_x_nonfinite_matches_baseline(spark):
    """The r10 advice corner: the crossJoin baseline MATCHES a
    (zero-norm, non-finite-norm) pair — the engine cosine is
    NaN/NaN = NaN (denominator 0*NaN is NaN, not 0, so no
    NULL-on-div-zero) and Spark evaluates NaN >= t as true. The pruned
    join excludes zero-norm rows from its main path, so these pairs
    must come back via the out-of-band degenerate sliver, in BOTH
    orientations, without widening the allowlist."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        cosine_similarity_join,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import dot, norm

    nan = float("nan")
    ldf = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # normal
            (2, [0.0, 0.0, 0.0]),   # zero-norm
            (3, [nan, 1.0, 0.0]),   # NaN component -> NaN norm
        ],
        "left_id long, embedding array<float>",
    )
    rdf = spark.createDataFrame(
        [
            (10, [1.0, 0.01, 0.0]),  # near-match of left 1
            (11, [0.0, 0.0, 0.0]),   # zero-norm
            (12, [0.0, nan, 1.0]),   # NaN component
        ],
        "right_id long, embedding array<float>",
    )
    got = sorted(
        (r["left_id"], r["right_id"])
        for r in cosine_similarity_join(ldf, rdf, threshold=0.9, nlist=2).collect()
    )
    la = ldf.select(
        "left_id", F.col("embedding").alias("va"), norm(F.col("embedding")).alias("na")
    )
    rb = rdf.select(
        "right_id", F.col("embedding").alias("vb"), norm(F.col("embedding")).alias("nb")
    )
    expected = sorted(
        (r["left_id"], r["right_id"])
        for r in la.crossJoin(rb)
        .filter((dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= 0.9)
        .collect()
    )
    assert got == expected
    # the corner pairs are genuinely in the baseline, both orientations:
    # zero-norm left x NaN right, NaN left x zero-norm right
    assert {(2, 12), (3, 11)} <= set(expected)
    # and zero x zero is genuinely absent (0/0 -> NULL, never matches)
    assert (2, 11) not in set(expected)


def test_block_pair_indices_superset_fuzz():
    """Pure-numpy fuzz of the stage-1 prefilter's SUPERSET contract (no
    Spark: the scorer is a plain function). Reference = the ENGINE
    semantics the exact verify reproduces — float64 sequential-fold dot
    and norms (Python floats ARE IEEE doubles, so the fold is
    bit-identical to the JVM's), keep iff cos >= threshold OR cos is
    NaN (Spark NaN-compare) OR the division is 0/0-free NULL... i.e.
    exactly: qualifying = (dot/(na*nb) >= t) or isnan(dot/(na*nb)).
    Batches mix normal values with zero rows, NaN/Inf components and
    1e150-1e160 magnitudes (the norm-product overflow class the r11
    advice flagged). 200 seeded rounds."""
    import math as m
    import random

    import numpy as np
    import pandas as pd

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        _block_pair_indices,
    )

    rng = random.Random(1234)
    for round_i in range(200):
        dim = rng.choice([2, 3, 5])
        thr = rng.choice([-0.5, 0.0, 0.7, 0.95])

        def vec():
            kind = rng.random()
            if kind < 0.55:
                return [rng.uniform(-2, 2) for _ in range(dim)]
            if kind < 0.65:
                return [0.0] * dim
            if kind < 0.75:
                v = [rng.uniform(-1, 1) for _ in range(dim)]
                v[rng.randrange(dim)] = float("nan")
                return v
            if kind < 0.85:
                v = [rng.uniform(-1, 1) for _ in range(dim)]
                v[rng.randrange(dim)] = rng.choice([1e200, -1e200, float("inf")])
                return v
            # finite norms whose PRODUCT overflows float64
            s = rng.choice([1e150, 1e154, 1e160])
            return [rng.uniform(-1, 1) * s for _ in range(dim)]

        A = [vec() for _ in range(rng.randrange(1, 7))]
        B = [vec() for _ in range(rng.randrange(1, 7))]

        def fold_dot(x, y):
            acc = 0.0
            for a, b in zip(x, y):
                acc += a * b
            return acc

        def fold_norm(x):
            acc = 0.0
            for a in x:
                acc += a * a
            return m.sqrt(acc) if acc >= 0 else float("nan")

        qualifying = set()
        for i, x in enumerate(A):
            for j, y in enumerate(B):
                denom = fold_norm(x) * fold_norm(y)
                if denom == 0.0:
                    continue  # engine 0/0 and finite/0 -> NULL, never matches
                c = fold_dot(x, y) / denom
                if m.isnan(c) or c >= thr:
                    qualifying.add((i, j))

        la = pd.DataFrame({"embedding": [np.array(v, dtype="float64") for v in A]})
        rb = pd.DataFrame({"embedding": [np.array(v, dtype="float64") for v in B]})
        ia, ib = _block_pair_indices(la, rb, thr)
        kept = set(zip(ia.tolist(), ib.tolist()))
        missing = qualifying - kept
        assert not missing, (
            f"round {round_i}: prefilter dropped qualifying pairs {missing} "
            f"(thr={thr}, A={A}, B={B})"
        )


def test_block_pair_indices_f32_near_threshold_kept():
    """r17: the prefilter matmul runs in float32 (dim <= cap) behind a
    widened margin. Pairs whose EXACT cosine sits within a hair of the
    threshold — the zone where float32 rounding could flip a borderline
    comparison — must still be kept: the f32 error bound (~dim * 1.2e-7)
    is far inside the 1e-3 margin."""
    import numpy as np
    import pandas as pd

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        _PREFILTER_F32_DIM_CAP,
        _block_pair_indices,
    )

    dim = 64
    assert dim <= _PREFILTER_F32_DIM_CAP
    thr = 0.45
    rows = []
    for delta in (0.0, 1e-7, 1e-6, 1e-5, 1e-4):
        c = thr + delta  # exact cosine just at/above the threshold
        v = np.zeros(dim)
        v[0], v[1] = c, np.sqrt(1 - c * c)
        rows.append(v)
    anchor = np.zeros(dim)
    anchor[0] = 1.0
    la = pd.DataFrame({"embedding": [anchor]})
    rb = pd.DataFrame({"embedding": [np.array(r) for r in rows]})
    ia, ib = _block_pair_indices(la, rb, thr)
    # every near-threshold pair is kept (the exact verify decides later)
    assert set(ib.tolist()) == set(range(len(rows)))


def test_cosine_similarity_join_norm_product_overflow_matches_baseline(spark):
    """r11 ADVICE low: a pair of double-precision vectors whose norms are
    INDIVIDUALLY finite (~1.4e154) but whose product overflows float64
    gets engine cosine -inf/inf = NaN, which the crossJoin baseline
    MATCHES (NaN >= t is true) — yet the normalized numpy prefilter
    computes a finite cosine (-1 for anti-aligned vectors) and used to
    prune it. The norm-product force-keep term in _block_pair_indices
    must carry the pair to the exact verify, which reproduces the
    baseline's NaN semantics."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        cosine_similarity_join,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import dot, norm

    big = 1.4e154  # big*big = 1.96e308 > float64 max: product overflows
    ldf = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [big, 0.0, 0.0]),    # finite norm, overflow-prone product
        ],
        "left_id long, embedding array<double>",
    )
    rdf = spark.createDataFrame(
        [
            (10, [1.0, 0.01, 0.0]),
            (11, [-big, 0.0, 0.0]),  # anti-aligned: numpy cosine -1, engine NaN
        ],
        "right_id long, embedding array<double>",
    )
    got = sorted(
        (r["left_id"], r["right_id"])
        for r in cosine_similarity_join(ldf, rdf, threshold=0.9, nlist=2).collect()
    )
    la = ldf.select(
        "left_id", F.col("embedding").alias("va"), norm(F.col("embedding")).alias("na")
    )
    rb = rdf.select(
        "right_id", F.col("embedding").alias("vb"), norm(F.col("embedding")).alias("nb")
    )
    expected = sorted(
        (r["left_id"], r["right_id"])
        for r in la.crossJoin(rb)
        .filter((dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= 0.9)
        .collect()
    )
    assert got == expected
    # the overflow pair is genuinely matched by the baseline (engine NaN)
    assert (2, 11) in set(expected)


def test_blocked_candidate_pairs_superset_contract(spark):
    """The shared stage-1 prefilter must emit a SUPERSET of the exact
    qualifying pairs on arbitrary data — including zero-norm, NaN-component
    and overflow-to-Inf rows (whose engine cosines are NULL/NaN and must
    reach the exact verify stage, not be decided by the numpy
    approximation). Direct contract test for the helper both
    cosine_similarity_join and the semantic refresh build on."""
    import random

    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        blocked_candidate_pairs,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import dot, norm

    rng = random.Random(23)
    dim, thr = 6, 0.8
    rows_l, rows_r = [], []
    for i in range(40):
        rows_l.append((i, [float(rng.uniform(-1, 1)) for _ in range(dim)], i % 3))
    for j in range(30):
        rows_r.append((100 + j, [float(rng.uniform(-1, 1)) for _ in range(dim)], j % 2))
    # degenerates on both sides
    rows_l += [(90, [0.0] * dim, 0), (91, [float("nan"), 1.0] + [0.0] * 4, 1),
               (92, [1e200] * dim, 2)]
    rows_r += [(190, [0.0] * dim, 0), (191, [0.0, float("nan")] + [1.0] * 4, 1)]
    lm = spark.createDataFrame(rows_l, "vec_id long, embedding array<float>, cell int")
    rm = spark.createDataFrame(rows_r, "vec_id long, embedding array<float>, cell int")
    allowed = [(a, b) for a in range(3) for b in range(2)]  # every cell pair

    cand = blocked_candidate_pairs(
        lm.select("vec_id", "cell", "embedding"),
        rm.select("vec_id", "cell", "embedding"),
        allowed,
        thr,
    )
    got = {(r["__lid"], r["__rid"]) for r in cand.collect()}

    la = lm.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
                   norm(F.col("embedding")).alias("na"))
    rb = rm.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
                   norm(F.col("embedding")).alias("nb"))
    qualifying = {
        (r["a"], r["b"])
        for r in la.crossJoin(rb)
        .filter((dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= thr)
        .collect()
    }
    assert qualifying, "fixture must actually qualify some pairs"
    assert qualifying <= got  # superset: recall 1.0 before the exact verify
    # NaN rows' pairs are in the exact set and therefore must be candidates
    assert any(a == 91 for a, _ in qualifying)
    # empty allowlist contract
    assert blocked_candidate_pairs(lm, rm, [], thr) is None


def test_derive_nlist_rule():
    """The measured default (r13 three-shape ladder, SCALE.md): isqrt of
    the fit-side count with floor 4 and CAP 32 — never the sqrt-to-1024
    rule that measured 2-10x off the optimum at 500k fit rows."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.similarity import (
        derive_nlist,
    )

    assert derive_nlist(0) == 4
    assert derive_nlist(10) == 4
    assert derive_nlist(300) == 17          # sf0.01 bench slice: unchanged
    assert derive_nlist(1_000) == 31
    assert derive_nlist(1_200) == 32
    assert derive_nlist(200_000) == 32      # capped
    assert derive_nlist(500_000) == 32      # the ladder's robust point
    assert derive_nlist(500_000, cap=64) == 64  # explicit parallelism lever
