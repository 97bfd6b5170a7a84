"""Approximate near-duplicate detection: MinHash + LSH banding, SimHash.

Scale design (the whole point of these over queries/textops.py's exact
n-gram join): candidate generation never compares all pairs. MinHash
signatures are fixed-width per doc; the LSH band join shuffles on
(band_index, band_hash) buckets whose sizes are bounded by collision
probability, not corpus size. Everything is native Column expressions —
shingling, hashing, permutations, banding are all JVM-side.

Permutation family: h_i(x) = xxhash64(x, i) over the base xxhash64(shingle)
— one seeded re-hash per permutation index. Min-hashing only needs an
independent uniform-ish total order per permutation, which a keyed hash
gives directly, with no multiply-add arithmetic that could overflow int64
(an earlier (a*x+b) family relied on silent wraparound and threw
ARITHMETIC_OVERFLOW under ANSI-on sessions; this family is ANSI-proof).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import tracked_cache


def shingle_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Shared word-n-gram tokenizer (functions/text.py::word_shingles) —
    the LSH path MUST shingle identically to the exact join for the
    'LSH result equals exact result' oracle contract to hold."""
    from ..functions.text import word_shingles

    return word_shingles(df, id_col, text_col, n)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, signature: array<bigint>[n_hashes]). One explode + one
    groupBy with n_hashes min-aggregates — a single shuffle on doc_id.

    Permutation i is ``xxhash64(h, seed, i)`` — pure hashing, no arithmetic
    that can overflow, so the operator behaves identically on ANSI-on and
    ANSI-off sessions.
    """
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    base = sh.withColumn("h", F.xxhash64("shingle"))
    # ONE parsed expression instead of n_hashes Column trees (r18, guide
    # §1.2 — driver work per query build): constructing 64 alias(min(
    # xxhash64(...))) Columns cost ~0.3 s of py4j round-trips PER
    # invocation; a single SQL string parses JVM-side in ~ms. The
    # expressions are identical — integer literals parse to the same INT
    # type F.lit() produces (xxhash64 is type-sensitive, so this is
    # load-bearing), and the optimizer collapsed the old select-into-agg
    # projection to exactly this shape anyway.
    sig = F.expr(
        "array("
        + ",".join(
            f"min(xxhash64(h, {int(seed)}, {i}))" for i in range(n_hashes)
        )
        + ") AS signature"
    )
    return base.groupBy("doc_id").agg(sig)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    n_hashes: int | None = None,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` rows-per-band chunks,
    hash each chunk, and join docs sharing any (band, chunk-hash) bucket.
    Returns distinct candidate (d1 < d2) pairs.

    The banding MUST cover at most the signature width: out-of-bounds
    element_at would return NULL under ANSI-off, hash every doc into one
    constant bucket, and silently degrade the band join to all-pairs.
    Pass ``n_hashes`` (cheap, static) or the width is probed with one row."""
    if n_hashes is None:
        first = signatures.select(F.size("signature").alias("n")).first()
        n_hashes = int(first["n"]) if first is not None else bands * rows_per_band
    if bands * rows_per_band > n_hashes:
        raise ValueError(
            f"bands({bands}) x rows_per_band({rows_per_band}) exceeds the "
            f"signature length {n_hashes} — banding would read past the array"
        )
    # ONE parsed expression instead of bands x rows_per_band Column trees
    # (r18, guide §1.2 — same py4j-chatter cut as minhash_signatures;
    # element_at keeps the identical 1-based indexing and INT literal
    # types, so the banded buckets are bit-identical)
    _structs = ",".join(
        "struct({b} AS band, xxhash64({els}) AS bucket)".format(
            b=b,
            els=",".join(
                f"element_at(signature, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = signatures.select(
        "doc_id", F.expr(f"explode(array({_structs})) AS bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = banded.select(F.col("doc_id").alias("d1"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("d2"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection with exact verification:
    LSH candidates -> exact Jaccard on the candidate pairs only ->
    (d1, d2, jaccard >= threshold). The verification join touches only
    candidate docs, so total cost is signatures + bounded buckets + a
    verify join proportional to the candidate count."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n, seed)
    # cache(), not localCheckpoint: one lazy materialization inside the
    # SAME action feeds the semi-join restriction and the verify join
    # (eager checkpointing here costs two extra jobs per invocation);
    # entries are plan-keyed (identical re-invocations share one) and
    # LRU-evictable, so storage is bounded, not leaked. Registered with
    # util.tracked_cache so long-lived sessions (driver harness, textpipe
    # reruns) release prior entries instead of accumulating them.
    cands = tracked_cache(lsh_candidate_pairs(sigs, bands, rows_per_band, n_hashes=n_hashes))

    # verification only needs the shingles of CANDIDATE docs: restrict via a
    # semi join before re-shingling, then cache the (tiny) survivor set.
    # At 100 TB this is the difference between re-reading the corpus and
    # touching only the near-duplicate cluster.
    # no distinct on the id list (r18, guide §2.4): LEFT SEMI existence
    # semantics dedup for free, so the aggregate exchange bought nothing —
    # the right side carries at most 2x|pairs| rows instead of the unique
    # doc set, a candidate-mass-bounded overhead either way
    cand_docs = cands.select(F.col("d1").alias("doc_id")).union(
        cands.select(F.col("d2").alias("doc_id"))
    )
    sh = tracked_cache(
        shingle_frame(
            df.join(cand_docs, df[id_col] == cand_docs.doc_id, "left_semi"),
            id_col,
            text_col,
            shingle_n,
        )
    )
    # r18 verify restructure (guide §2.3/§2.4): per-doc shingle SETS are
    # folded into one sorted array per candidate doc, and |A ∩ B| / |A| /
    # |B| all come from array algebra on the joined pair row. The r17
    # shape exploded candidate shingles into a (d2, shingle)-keyed join —
    # one exchange keyed on the shingle (a hot-shingle skew unit), a
    # pair-keyed aggregation exchange, and two count joins. This shape
    # keys every move by the unique doc id: the set aggregate reuses the
    # shingle frame's doc_id distribution, the d1 join broadcasts the
    # candidate pairs, and only the (pair, d1-array) rows cross the one
    # remaining d2 exchange — array bytes are replicated per pair a doc
    # appears in, which is candidate-mass-bounded by the dedup premise.
    # Values are identical: word_shingles emits DISTINCT shingles per
    # doc, so size(array_intersect) IS the old matched-row count and
    # size(arr) the old per-doc count; the n_inter > 0 conjunct
    # reproduces the old inner-join-on-shingle behavior (pairs sharing
    # no shingle never surfaced) for every threshold including 0.
    # collect_set order is partition-dependent, but every consumer below
    # is order-insensitive (sizes and set intersection), so no sort
    arrs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("ss"))
    a = arrs.select(F.col("doc_id").alias("d1"), F.col("ss").alias("ss1"))
    b = arrs.select(F.col("doc_id").alias("d2"), F.col("ss").alias("ss2"))
    return (
        cands.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("ss1", "ss2")).alias("n_inter"),
            F.size("ss1").alias("n1"),
            F.size("ss2").alias("n2"),
        )
        .select(
            "d1",
            "d2",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter((F.col("n_inter") > 0) & (F.col("jaccard") >= threshold))
        .drop("n_inter")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
) -> DataFrame:
    """Per-document SimHash fingerprint: explode tokens, hash once, then one
    groupBy computing per-bit majorities and packing them into a bigint —
    n_bits conditional-sum aggregates in a single pass.

    The per-token hash is the first 15 hex chars of md5 (60 usable bits) —
    deliberately md5 rather than xxhash64 so the fingerprints are
    reproducible by any engine with a standard md5 (the DuckDB oracle twin
    computes the identical value); both hash JVM-side / vectorized."""
    if n_bits > 60:
        raise ValueError(
            f"n_bits ({n_bits}) > 60: the md5-derived per-token hash "
            "exposes 60 bits (15 hex chars)"
        )
    from ..queries._tables import parallelize_scan

    # md5-per-token + 32 conditional sums is the expensive narrow stage;
    # keyed on doc_id so the bit-majority groupBy reuses the distribution
    df = parallelize_scan(df, id_col)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\f\r]+")
    tokens = df.select(
        F.col(id_col).alias("doc_id"), F.explode(toks).alias("token")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("bigint")
    )
    # ONE parsed expression per stage instead of n_bits Column trees (r18,
    # guide §1.2 — the py4j-chatter cut shared with minhash_signatures).
    # Semantics are identical operand for operand: the same shiftright/
    # bitwiseAND/when majority sums and the same left-associative addition
    # chain of shifted bigint bits.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) "
            f"AS b{b}"
        )
        for b in range(n_bits)
    ]
    agg = tokens.groupBy("doc_id").agg(*bit_sums)
    packed = " + ".join(
        f"shiftleft(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END, {b})"
        for b in range(n_bits)
    )
    return agg.select("doc_id", F.expr(f"({packed}) AS simhash"))


def hamming_near_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-pairs within ``max_hamming`` bits over PACKED bigint
    fingerprints via the block trick (pigeonhole: two hashes within k
    bits share at least one of k+1 blocks exactly) — candidates join on
    block equality, verified with bit_count. Generic over the
    fingerprint source: text SimHash and image dHash both feed this one
    join (emits d1/d2/hamming with d1 < d2). Sign-safe at n_bits = 64:
    the arithmetic shiftright's sign extension is masked off per block,
    and bit_count(XOR) is the Hamming distance over all 64 two's-
    complement bits."""
    if n_blocks <= max_hamming:
        # explicit raise, not assert: python -O strips asserts, which
        # would silently drop the pigeonhole recall guarantee
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "— the pigeonhole guarantee needs more blocks than bit flips"
        )
    block_bits = n_bits // n_blocks
    mask = (1 << block_bits) - 1
    blocks = hashed.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftright(F.col(hash_col), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select(
        "__id",
        "__h",
        F.col("blk.block_idx").alias("block_idx"),
        F.col("blk.block_val").alias("block_val"),
    )
    left = blocks.select(
        F.col("__id").alias("d1"), F.col("__h").alias("h1"), "block_idx", "block_val"
    )
    right = blocks.select(
        F.col("__id").alias("d2"), F.col("__h").alias("h2"), "block_idx", "block_val"
    )
    return (
        left.join(right, ["block_idx", "block_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits — the text
    instantiation of ``hamming_near_pairs``."""
    return hamming_near_pairs(
        simhash(df, id_col, text_col, n_bits),
        "doc_id",
        "simhash",
        n_bits,
        max_hamming,
        n_blocks,
    )


# Rounds the most recent connected_components() call took to converge.
# Diagnostic only (tools/cc_chain_probe.py, SCALE.md curves); queries must
# not branch on it. 0 means the small-graph fast path answered without
# any propagation rounds.
LAST_CC_ROUNDS = 0

# Edge-count bound for the driver-side union-find fast path (r17
# optimization round, guide §1.2 — choose the distributed algorithm by the
# data's actual shape). Near-dup edge lists are near-dup-mass-sized, NOT
# corpus-sized: at every bench SF they are a few hundred rows, yet the
# iterative path pays one full Spark job per propagation round (measured
# 2.1-2.7 s for a 256-edge, 2-round graph at sf0.1 — almost entirely fixed
# job overhead). Up to this many edges the graph is collected (bounded:
# ~200k two-int rows, tens of MB of driver memory) and solved with exact
# min-label union-find; past it the iterative min-label propagation runs
# unchanged — the 100 TB path, where edge lists can be billions of rows.
_CC_SMALL_EDGE_LIMIT = 200_000


def _union_find_min_labels(edges) -> dict:
    """Exact min-label connected components over an in-memory edge list:
    returns {node: min node id in its component} — the identical result
    the iterative min-label propagation converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    # min member per root, then label every node with its component's min
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    return {node: comp_min[find(node)] for node in parent}


def connected_components(
    pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 25,
    small_edge_limit: int = _CC_SMALL_EDGE_LIMIT,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation — the canonicalization step of a dedup pipeline
    (every doc in a near-dup component maps to one representative).

    Each round every node adopts the minimum label among itself and its
    neighbors, and labels are localCheckpoint()ed per round so the plan
    stays flat instead of growing a 2^iter lineage. ONE Spark job per
    round: the checkpoint is LAZY (eager=False) and the convergence probe —
    a full COUNT of decreased labels, deliberately not LIMIT 1, so no
    partition is skipped — both materializes it and decides termination;
    the previous round's checkpoint storage is released immediately.
    Near-dup graphs are shallow (components are tiny cliques/chains), so
    rounds ~ graph diameter, each one shuffle on the node id. At 100 TB
    this is the standard large-graph CC recipe (cf. GraphX/GraphFrames'
    label propagation); checkpointing would target HDFS instead of local
    disk.

    Returns (id, label): one row per node appearing in any edge; label =
    the component's minimum node id.

    Small-graph fast path (r17): one bounded ``limit(small_edge_limit + 1)``
    collect probes the RAW edge list — if it fits, exact min-label
    union-find runs driver-side (identical output by construction, zero
    propagation jobs, no symmetrize/distinct shuffle) and LAST_CC_ROUNDS
    reports 0. The edge list is persisted BEFORE the probe (r17 ADVICE:
    Spark does not reuse shuffle map outputs across separate actions, so
    an unpersisted overflow path would pay the upstream edge pipeline
    twice — once discarded by the probe, once for the symmetrize); the
    pin is released as soon as the fast path answers or the symmetrize
    checkpoint materializes, or when either raises. If the probe
    overflows — or the endpoint dtypes differ, or a probed endpoint is
    NULL (cases where the driver-side solver and the iterative
    union-coerce/NULL-row semantics could diverge, r17 ADVICE) — the
    iterative path runs unchanged.
    ``small_edge_limit=0`` disables the probe — tools/cc_chain_probe.py and
    the convergence tests use that to measure the iterative path itself.
    """
    global LAST_CC_ROUNDS
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    pinned = bool(small_edge_limit) and e.schema["a"].dataType == e.schema["b"].dataType
    if pinned:
        e = e.persist()
    try:
        if pinned:
            head = e.limit(small_edge_limit + 1).collect()
            if len(head) <= small_edge_limit and all(
                r["a"] is not None and r["b"] is not None for r in head
            ):
                labels = _union_find_min_labels([(r["a"], r["b"]) for r in head])
                LAST_CC_ROUNDS = 0
                id_type = e.schema["a"].dataType
                out_schema = T.StructType(
                    [
                        T.StructField("id", id_type, True),
                        T.StructField("label", id_type, True),
                    ]
                )
                return pairs.sparkSession.createDataFrame(
                    sorted(labels.items()), out_schema
                )
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        # eager: materializes the symmetrized edge list from the cached
        # partitions (the probe's partial run is reused), after which the
        # pin is no longer needed
        sym = sym.localCheckpoint()
    finally:
        # released on every exit, a probe or checkpoint that raises included
        if pinned:
            e.unpersist()
    labels = sym.select(F.col("a").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for rounds in range(1, max_iter + 1):
        msgs = sym.join(labels, sym["a"] == labels["id"]).select(
            F.col("b").alias("id"), F.col("label")
        )
        new_labels = (
            labels.select("id", "label")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        shrank = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        old = labels
        labels = new_labels
        try:
            old.unpersist()  # no-op on the round-0 non-checkpointed frame
        except Exception:
            pass
        if shrank == 0:
            LAST_CC_ROUNDS = rounds
            break
    else:
        # a silent early exit would split components (two canonical docs for
        # one true component) — fail loud; callers with deeper graphs pass a
        # larger max_iter (rounds needed ~ graph diameter).
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the component graph is deeper than expected"
        )
    return labels
