"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k against a query vector — the
  baseline.  At scale it's a single scan + TakeOrderedAndProject (heap
  per partition, k-row driver merge): no shuffle, no collect of the
  corpus.
- ivf_topk: inverted-file variant — coarse centroids (trained with a
  groupBy-mean over an assignment column or k-means-lite iterations),
  probe the nearest `nprobe` cells, exact rerank inside.  The scan
  prunes to nprobe/ncells of the data — the standard 100 TB ANN shape.
- hyperplane LSH: random-hyperplane signatures; same-bucket candidates
  then exact rerank (used for embedding near-dup in dedup flows).

Vector math uses zip_with/aggregate (JVM-side, no UDF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _query_col(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def _partial_vec_sums(emb: DataFrame, vec_col: str) -> DataFrame:
    """One (sum_vec, n) row per Arrow batch — the map-side combine of a
    vector mean.  Replaces a dim-wide avg() agg whose generated code
    (64 aggregate buffers) cost more to JIT than the data it scanned."""
    from collections.abc import Iterator

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype("float64")
            yield pd.DataFrame({"s": [list(V.sum(axis=0))], "n": [len(V)]})

    return emb.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).mapInPandas(go, "s array<double>, n long")


def md5_residue(col: Column) -> Column:
    """First 60 bits of md5(CAST(col AS STRING)) as a non-negative
    long — the engine's content-addressed residue for deterministic
    sampling/partition assignment, chosen over xxhash64 because it has
    an exact SQL twin: ``('0x'||substr(md5(x::VARCHAR),1,15))::BIGINT``
    (verified bit-equal against DuckDB in the oracle suite)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def mean_vector(emb: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Corpus mean vector (used to center LSH signatures — uncentered
    sign-bits collapse when the corpus has a dominant direction).
    Partition partials reduce driver-side: ≤1 row per batch crosses the
    wire, so this is one narrow scan at any corpus size.  Returns []
    on an empty relation."""
    rows = _partial_vec_sums(emb, vec_col).collect()
    if not rows:
        return []
    S = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    n = sum(r["n"] for r in rows)
    return [float(x) for x in S / max(n, 1)]


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k; ties broken by id for determinism."""
    q = _query_col(query_vec)
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# --- IVF ---------------------------------------------------------------------
def train_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """K-means-lite coarse quantizer: init cells by id-hash, then
    `iters` rounds of assign(broadcast centroids) → groupBy-mean.  Each
    round is one scan + one tiny-key shuffle; centroids stay
    driver-side (n_cells × dim floats — catalog-sized)."""
    from collections.abc import Iterator

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).persist()  # each training round rescans it; cache once
    # md5-residue init (not xxhash64): the whole training replay —
    # init cells, per-round means, per-round argmin assignment — then
    # has an exact SQL twin, so even the "trained" IVF is
    # oracle-checkable end-to-end
    assigned = base.withColumn(
        "cell", (md5_residue(F.col("_id")) % n_cells).cast("int")
    )

    def _partials_with(codes_of):
        """ONE Arrow pass per training round: assign cells and emit
        per-cell partial sums from the same batch (optimization r16,
        guide §4 — the previous shape chained assign_cells into a
        second mapInPandas, paying JVM→PY→JVM→PY per round; fusing
        halves the Python-boundary crossings).  Per-batch composition
        is unchanged (assign_cells yielded one output batch per input
        batch), so the float summation order — the documented k-means
        freedom — is identical."""

        def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype("float64")
                cells = codes_of(V, pdf)
                out_c, out_s, out_n = [], [], []
                for c in np.unique(cells):
                    m = cells == c
                    out_c.append(int(c))
                    out_s.append(list(V[m].sum(axis=0)))
                    out_n.append(int(m.sum()))
                yield pd.DataFrame({"cell": out_c, "s": out_s, "n": out_n})

        return go

    def mean_centroids(codes_of) -> list[tuple[int, list[float]]]:
        # ship only the vector column across the Arrow boundary —
        # mapInPandas is opaque to column pruning (guide §4.1)
        rows = base.select("v").mapInPandas(
            _partials_with(codes_of), "cell int, s array<double>, n long"
        ).collect()
        acc: dict[int, tuple[np.ndarray, int]] = {}
        for r in rows:
            s, n = acc.get(r["cell"], (0.0, 0))
            acc[r["cell"]] = (s + np.asarray(r["s"]), n + r["n"])
        return [
            (cell, [float(x) for x in s / n]) for cell, (s, n) in acc.items()
        ]

    # init round: the md5-residue cell column rides the `assigned`
    # projection; training rounds map over `base` with the centroid
    # matmul — both through the same fused partial-sum pass
    rows = assigned.select("v", "cell").mapInPandas(
        _partials_with(lambda V, pdf: pdf["cell"].to_numpy()),
        "cell int, s array<double>, n long",
    ).collect()
    acc0: dict[int, tuple[np.ndarray, int]] = {}
    for r in rows:
        s, n = acc0.get(r["cell"], (0.0, 0))
        acc0[r["cell"]] = (s + np.asarray(r["s"]), n + r["n"])
    cents = [
        (cell, [float(x) for x in s / n]) for cell, (s, n) in acc0.items()
    ]
    for _ in range(iters):
        cells_arr = np.array([c for c, _ in cents])
        C = np.array([c for _, c in cents], dtype="float64")
        cents = mean_centroids(
            lambda V, pdf, C=C, cells_arr=cells_arr: _nearest_codes(
                V, C, cells_arr
            )
        )
    base.unpersist()  # centroids are collected; don't leak executor memory
    return sorted(cents)


def _nearest_codes(V: "np.ndarray", C: "np.ndarray", cells: "np.ndarray"):
    """THE nearest-centroid kernel, shared by IVF assignment, PQ
    training and PQ encoding (code-review r10: three copies risked the
    argmin-first-index tie-break — part of the SQL-replay contract —
    drifting apart): ||v−c||² ranking via −2·V·Cᵀ + ||c||², numpy
    argmin's first-index tie-break over the cell-sorted matrix."""
    d = -2.0 * (V @ C.T) + (C * C).sum(axis=1)[None, :]
    return cells[d.argmin(axis=1)]


def assign_cells(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment, Arrow-batched: centroids ship as a
    broadcast-sized numpy constant inside the closure, each batch does
    one (batch x cells) distance matmul — the vectorized fast path for
    per-vector math at any scale (no shuffle, no join)."""
    from collections.abc import Iterator

    cells = np.array([cell for cell, _ in centroids])
    C = np.array([c for _, c in centroids], dtype="float64")  # (k, dim)

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"_id": [], "v": [], "cell": []})
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            idx_cells = _nearest_codes(V, C, cells)
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col].values,
                    "v": [list(map(float, row)) for row in V],
                    "cell": idx_cells,
                }
            )

    return emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        go, "_id long, v array<double>, cell int"
    )


def cluster_dedup(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Semantic (cluster-level) dedup: k-means cells over the embedding
    space, one survivor (min id) per cell — the SemDeDup-style coarse
    pass that removes semantically redundant documents where hash/
    shingle dedup sees nothing shared.  Returns
    (vec_id, cell, cell_size, is_survivor).

    Scale shape: training is the shared deterministic k-means (md5
    residue init — SQL-replayable); the final pass is one Arrow
    assignment scan plus a count aggregate and a broadcast min-id
    join, all keyed on the ≤n_cells cell ids."""
    if centroids is None:
        centroids = train_centroids(emb, n_cells, iters, vec_col, id_col)
    assigned = assign_cells(emb, centroids, vec_col, id_col).select(
        F.col("_id").alias(id_col), "cell"
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_size"),
        F.min(id_col).alias("__survivor"),
    )
    return (
        assigned.join(F.broadcast(per_cell), "cell")
        .select(
            id_col,
            "cell",
            "cell_size",
            (F.col(id_col) == F.col("__survivor")).alias("is_survivor"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Probe the nprobe nearest cells, exact cosine rerank inside.
    At 100 TB the assignment is precomputed and the table partitioned by
    cell, so the probe is partition pruning, not a scan."""
    import math

    if centroids is None:
        centroids = train_centroids(emb, n_cells, vec_col=vec_col, id_col=id_col)
    qv = [float(x) for x in query_vec]

    def sqdist(c: list[float]) -> float:
        return sum((a - b) ** 2 for a, b in zip(qv, c))

    probe = sorted(centroids, key=lambda c: sqdist(c[1]))[:nprobe]
    probe_cells = [cell for cell, _ in probe]

    assigned = assign_cells(emb, centroids, vec_col, id_col)
    q = _query_col(qv)
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    scored = cand.select(
        F.col("_id").alias(id_col),
        F.round(cosine(F.col("v"), q), 4).alias("cosine"),
    )
    _ = math  # keep import local & explicit
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


# --- binary quantization (sign-bit codes + Hamming prefilter) ------------------
def _partial_int_sums(emb: DataFrame, vec_col: str, scale: float = 1e6) -> DataFrame:
    """One (int_sum_vec, n) row per Arrow batch — the map-side combine
    of the binary-code thresholds.  Components quantize to
    ``floor(v·scale + 0.5)`` int64 BEFORE summing, so the partials add
    exactly and the total is independent of partitioning and add order
    (the repo's scaled-integer trick; a float sum would differ from the
    SQL twin by summation order)."""
    from collections.abc import Iterator

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype("float64")
            S = np.floor(V * scale + 0.5).astype("int64").sum(axis=0)
            yield pd.DataFrame({"s": [list(S)], "n": [len(V)]})

    return emb.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).mapInPandas(go, "s array<long>, n long")


def binary_thresholds(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> list[float]:
    """Per-dimension mean thresholds for the sign-bit code, computed so
    BOTH engines get the bit-identical double: exact int64 sum of the
    1e6-scaled components, then ONE IEEE division by ``n·1e6`` (sums
    this size are ≪ 2^53, so the int→double conversions are exact and
    the division is the only rounding step — same op, same result, in
    DuckDB).  Centering on the mean keeps the bit distribution balanced
    when the corpus has a dominant direction (same reason the LSH
    signatures center)."""
    rows = _partial_int_sums(emb, vec_col).collect()
    if not rows:
        raise ValueError("binary_thresholds: empty corpus")
    S = [0] * dim
    n = 0
    for r in rows:
        if len(r["s"]) != dim:
            raise ValueError(
                f"binary_thresholds: {dim} dims requested over a corpus "
                f"of {len(r['s'])}-dim vectors"
            )
        for d, x in enumerate(r["s"]):
            S[d] += int(x)
        n += r["n"]
    return [s / (n * 1000000.0) for s in S]


def binary_code_words(vec: Column, thresholds: list[float]) -> list[Column]:
    """Sign-bit code packed into 32-bit words (bit d of word w is
    ``v[32w+d] > thr[32w+d]``), as a Horner fold from the high bit down
    — exact integer arithmetic, scan-local, no UDF.  32 bits per long
    keeps every intermediate far from the int64 sign bit."""
    v = F.transform(vec, lambda x: x.cast("double"))
    t = F.array(*[F.lit(float(x)) for x in thresholds])
    words = []
    for lo in range(0, len(thresholds), 32):
        hi = min(lo + 32, len(thresholds))
        words.append(
            F.aggregate(
                F.sequence(F.lit(hi - 1), F.lit(lo), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, d: acc * 2
                + F.when(
                    F.element_at(v, d + 1) > F.element_at(t, d + 1), F.lit(1)
                ).otherwise(F.lit(0)),
            )
        )
    return words


def binary_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Binary-quantization ANN: 1 bit/dim sign codes against per-dim
    corpus-mean thresholds (32× smaller than float32), Hamming-distance
    prefilter to ``n_candidates``, exact cosine rerank of the survivors
    — the asymmetric two-stage layout modern vector stores default to
    for billion-scale search.

    Scale shape: thresholds are one narrow scan of exact int partials
    (≤1 row per batch crosses the wire); the code fold, XOR, and
    popcount are scan-local JVM column algebra; the candidate cut is a
    per-partition top-C heap (TakeOrderedAndProject — no shuffle); the
    exact rerank touches C rows.  At 100 TB the 16-byte codes are
    precomputed once and scanned instead of the vectors, so the
    prefilter reads 1/32nd of the bytes brute force would."""
    qv = [float(x) for x in query_vec]
    if not qv:
        raise ValueError("binary_topk: empty query vector")
    if thresholds is None:
        thresholds = binary_thresholds(emb, vec_col, dim=len(qv))
    if len(thresholds) != len(qv):
        raise ValueError(
            f"binary_topk: query of {len(qv)} dims vs {len(thresholds)} "
            f"thresholds"
        )
    qwords: list[int] = []
    for lo in range(0, len(qv), 32):
        hi = min(lo + 32, len(qv))
        w = 0
        for d in range(hi - 1, lo - 1, -1):  # same Horner order as the fold
            w = w * 2 + (1 if qv[d] > thresholds[d] else 0)
        qwords.append(w)
    words = binary_code_words(F.col(vec_col), thresholds)
    coded = emb.select(
        F.col(id_col),
        F.col(vec_col),
        *[wc.alias(f"_w{i}") for i, wc in enumerate(words)],
    )
    ham: Column | None = None
    for i, qw in enumerate(qwords):
        leg = F.bit_count(F.col(f"_w{i}").bitwiseXOR(F.lit(qw)))
        ham = leg if ham is None else ham + leg
    cand = (
        coded.withColumn("hamming", ham.cast("long"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(n_candidates)
    )
    q = _query_col(qv)
    scored = cand.select(
        F.col(id_col),
        F.col("hamming"),
        F.round(cosine(F.col(vec_col), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def _grouped_apply_sorted(
    df: DataFrame, key_cols: list[str], fn, schema: str
) -> DataFrame:
    """``groupBy(keys).applyInPandas(fn, schema)`` without the
    per-group dispatch (optimization r16, guide §4): applyInPandas
    pays a separate Arrow round-trip per GROUP — measured ~3.4 ms of
    pure dispatch per group, ~1.7 s for the LSH path's 2×256 buckets
    before any math ran.  Same distribution contract, one pass: hash-
    repartition by the key, sort within partitions so groups are
    contiguous, and split them inside one ``mapInPandas`` per
    partition, carrying a group that straddles an Arrow batch boundary
    into the next batch.  ``fn(key_tuple, pdf)`` and the per-group
    frames are exactly what applyInPandas hands over (row order within
    a group is unspecified in both shapes).

    PRECONDITION (ADVICE r16): key columns must be NON-NULL.  pandas
    ``groupby`` drops null-key rows by default where applyInPandas
    would pass them through, and a NaN key would also break the
    tuple-equality carry check (NaN != NaN).  Every current call site
    keys on derived non-null ints (band/bucket ids, pair keys); the
    guard below rejects violations loudly instead of dropping rows."""
    par = df.sparkSession.sparkContext.defaultParallelism
    arranged = df.repartition(par, *key_cols).sortWithinPartitions(*key_cols)

    def run(batches):
        pending = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if pdf[key_cols].isna().any().any():
                raise ValueError(
                    "_grouped_apply_sorted: null/NaN group key "
                    "(callers must key on non-null columns; pandas "
                    "groupby would silently drop these rows)"
                )
            last_key = tuple(pdf.iloc[-1][k] for k in key_cols)
            for key, g in pdf.groupby(key_cols, sort=False):
                k = key if isinstance(key, tuple) else (key,)
                if k == last_key:
                    pending = g
                    continue
                out = fn(k, g.reset_index(drop=True))
                if len(out):
                    yield out
        if pending is not None and len(pending):
            k = tuple(pending.iloc[0][kc] for kc in key_cols)
            out = fn(k, pending.reset_index(drop=True))
            if len(out):
                yield out

    return arranged.mapInPandas(run, schema)


# --- hyperplane LSH ------------------------------------------------------------
def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (LCG, no numpy dependency in the
    plan) for sign-bit signatures."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 4096,
    mean_sample_mod: int = 20,
) -> DataFrame:
    """Scale path for cosine near-dup: bucket by hyperplane signature
    (two 8-bit bands), exact cosine within candidate buckets.

    Signatures are computed numpy-batched ((V·Pᵀ > bias) packed to an
    int) — one matmul per Arrow batch instead of n_planes interpreted
    dot-aggregates per row.

    Hot buckets (a corpus with a dominant direction can concentrate a
    band) are salt-split into g = ceil(|bucket|/bucket_cap) blocks and
    scored per block-pair — every task is bounded at ~2·cap vectors and
    ~cap² scores regardless of bucket skew, with identical pair output
    (blocks partition the bucket; block-pairs enumerate the same
    unordered pairs)."""
    from collections.abc import Iterator

    # sampled mean: the bias only balances buckets, so a ~1/mod
    # estimate serves — at 100 TB it replaces a full pre-pass with a
    # sliver of one.  Hash-filter, not .sample(): content-addressed
    # sampling is exactly deterministic across actions and task
    # retries (observed .sample(seed=...) returning different rows on
    # consecutive actions over the same cached relation).  The hash is
    # an md5-hex-prefix residue rather than xxhash64 so the sample set
    # — and with it the whole bucketing — has an exact SQL twin
    # (DuckDB: ('0x'||substr(md5(vid::VARCHAR),1,15))::BIGINT % mod).
    probe = emb.filter(md5_residue(F.col(id_col)) % mean_sample_mod == 0)
    mu = mean_vector(probe, vec_col)
    if not mu:  # tiny corpus missed by the 1/mod slice: full scan
        mu = mean_vector(emb, vec_col)
    dim = len(mu)
    planes = hyperplanes(dim, n_planes)
    P = np.array(planes, dtype="float64")  # (n_planes, dim)
    bias = P @ np.array(mu, dtype="float64")
    weights = (1 << np.arange(n_planes)).astype("int64")

    def signature(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vid": [], "v": [], "sig": []})
                continue
            V = np.stack(pdf["v"].to_numpy()).astype("float64")
            bits = (V @ P.T) > bias[None, :]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].values,
                    "v": pdf["v"],
                    "sig": (bits.astype("int64") * weights[None, :]).sum(axis=1),
                }
            )

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # two consumers below (the bucket-size pre-pass and the scoring
    # join) would each re-run the Arrow signature pass over every
    # vector; persist so the corpus is signed once (same rationale as
    # minhash_doc_table's persist in dedup.py)
    sigs = base.mapInPandas(
        signature, "vid long, v array<double>, sig long"
    ).persist()
    # Each vector travels to its 2 band buckets (replication factor = the
    # band count, NOT N), and every bucket scores itself with a single
    # normalized matmul — the same blocked-matmul core as the brute path,
    # but over LSH-pruned groups.  One shuffle of the vectors, one small
    # distinct over surviving pairs; no pair-id self-join, no
    # vector-attach joins, no per-pair Python.  At 100 TB the knobs are
    # band width (more buckets → smaller groups) and bucket_cap (hot
    # buckets salt-split into block-pair tasks, triangle-blocked like
    # embedding_near_dup_brute).
    banded = sigs.select(
        "vid",
        "v",
        F.posexplode(
            F.array(
                F.col("sig").bitwiseAND(F.lit(0xFF)),
                F.shiftright("sig", 8).bitwiseAND(F.lit(0xFF)),
            )
        ).alias("band", "bucket"),
    )
    # bucket sizes: ≤ 2 bands × 256 buckets of keys, always
    # broadcast-sized → no extra shuffle of the vectors themselves;
    # each vector explodes to its g block-pair groups (g = 1 for
    # non-skewed buckets, so the common case stays one-task-per-bucket)
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    blocked = (
        banded.join(F.broadcast(sizes), ["band", "bucket"])
        .withColumn("g", F.ceil(F.col("_n") / F.lit(bucket_cap)).cast("int"))
        .withColumn("blk", F.pmod(F.xxhash64("vid"), F.col("g")).cast("int"))
        .withColumn("other", F.explode(F.sequence(F.lit(0), F.col("g") - 1)))
        .select(
            "vid",
            "v",
            "band",
            "bucket",
            "blk",
            F.least("blk", "other").alias("bi"),
            F.greatest("blk", "other").alias("bj"),
        )
    )

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _band, _bucket, bi, bj = key
        A = pdf[pdf["blk"] == bi]
        if len(A) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        ids_a = A["vid"].to_numpy()
        MA = np.stack(A["v"].to_numpy()).astype("float64")
        MA = MA / np.linalg.norm(MA, axis=1, keepdims=True)
        if bi == bj:
            ids_b, MB = ids_a, MA
        else:
            B = pdf[pdf["blk"] == bj]
            if len(B) == 0:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
            ids_b = B["vid"].to_numpy()
            MB = np.stack(B["v"].to_numpy()).astype("float64")
            MB = MB / np.linalg.norm(MB, axis=1, keepdims=True)
        C = MA @ MB.T
        ia, ib = np.where(C >= threshold)
        va, vb, cs = ids_a[ia], ids_b[ib], C[ia, ib]
        if bi == bj:
            keep = va < vb  # unordered pairs once; drops the diagonal
            va, vb, cs = va[keep], vb[keep], cs[keep]
        else:
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cosine": np.round(cs, 4)})

    # a pair sharing both bands is emitted twice with a bit-identical
    # cosine (same float64 inputs, same per-pair dot) — distinct
    # collapses it
    return _grouped_apply_sorted(
        blocked,
        ["band", "bucket", "bi", "bj"],
        score,
        "vec_a long, vec_b long, cosine double",
    ).distinct()


def embedding_near_dup_brute(
    emb: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via BLOCKED MATRIX MULTIPLY.

    A row-pair join ships every vector ~N times through the shuffle
    (2 GB of Arrow traffic for 2k x 64 floats); blocking replicates each
    vector only ~n_blocks times: vectors go to the block-pair groups
    their block participates in, and each group computes one numpy
    A @ B.T. Exact results (oracle-parity), and the replication factor —
    not N — is the scale knob at 100 TB.
    """
    from collections.abc import Iterator

    nb = n_blocks
    in_schema = "pair_key int, side int, vid long, v array<double>"

    def replicate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"pair_key": [], "side": [], "vid": [], "v": []}
            for vid, vec in zip(pdf["_id"], pdf["_v"]):
                b = int(vid) % nb
                vec = list(map(float, vec))
                for other in range(nb):
                    i, j = (b, other) if b <= other else (other, b)
                    side = 0 if b == i else 1
                    if i == j:
                        side = 0  # intra-block: single side, triangle inside
                    out["pair_key"].append(i * nb + j)
                    out["side"].append(side)
                    out["vid"].append(int(vid))
                    out["v"].append(vec)
            yield pd.DataFrame(out)

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (pair_key,) = key
        i, j = divmod(int(pair_key), nb)
        pdf = pdf.drop_duplicates(subset=["side", "vid"])
        A = pdf[pdf["side"] == 0]
        ids_a = A["vid"].to_numpy()
        MA = np.stack(A["v"].to_numpy()).astype("float64")
        MA = MA / np.linalg.norm(MA, axis=1, keepdims=True)
        if i == j:
            ids_b, MB = ids_a, MA
        else:
            B = pdf[pdf["side"] == 1]
            ids_b = B["vid"].to_numpy()
            MB = np.stack(B["v"].to_numpy()).astype("float64")
            MB = MB / np.linalg.norm(MB, axis=1, keepdims=True)
        C = MA @ MB.T
        ia, ib = np.where(C >= threshold)
        va, vb = ids_a[ia], ids_b[ib]
        if i == j:
            # intra-block: every unordered pair appears twice (+ the
            # self-diagonal) — keep the ordered half
            keep = va < vb
            va, vb, cs = va[keep], vb[keep], C[ia, ib][keep]
        else:
            # cross-block: each unordered pair appears exactly once, in
            # arbitrary id orientation — canonicalize, don't filter
            cs = C[ia, ib]
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame(
            {"vec_a": va, "vec_b": vb, "cosine": np.round(cs, 4)}
        )

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    replicated = base.mapInPandas(replicate, in_schema)
    return _grouped_apply_sorted(
        replicated, ["pair_key"], score, "vec_a long, vec_b long, cosine double"
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Scalar int8 quantization: per-vector symmetric scale
    (127 / max|x|), elements rounded half-up — the standard 4×
    storage/bandwidth compression for a 100 TB embedding store (scan,
    shuffle, and cache all shrink 4×; rerank on the dequantized or
    original vectors).

    Pure array expressions; max|x| is projected FIRST so the per-
    element lambda reads a materialized column (an array_max inside the
    transform would re-reduce the vector per element — the same
    O(dims²) trap text_repetition hit with element_at).  Rounding is
    floor(x·s + 0.5) — identical half-up in Spark and DuckDB, unlike
    numpy's banker's rounding.

    Output: (id, n_dims, scale_inv, qvec array<int>) — dequantize as
    qvec · scale_inv.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.array_max(F.transform(v, F.abs)).alias("_maxabs"),
    )
    scale = F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs")).otherwise(
        F.lit(0.0)
    )
    with_scale = base.select(
        id_col, "_v", "_maxabs", scale.alias("_scale")
    )
    qv = F.transform(
        F.col("_v"),
        lambda x: F.floor(x * F.col("_scale") + F.lit(0.5)).cast("int"),
    )
    return with_scale.select(
        F.col(id_col),
        F.size("_v").alias("n_dims"),
        (F.col("_maxabs") / F.lit(127.0)).alias("scale_inv"),
        qv.alias("qvec"),
        F.col("_v").alias("_orig"),
    )


def quantization_fidelity(q: DataFrame) -> DataFrame:
    """Cosine between each original vector and its dequantized int8
    form — the quality audit run after quantizing a corpus.  Array-
    ordered sequential folds keep the FP arithmetic identical across
    engines."""
    deq = F.transform(
        F.col("qvec"), lambda e: e.cast("double") * F.col("scale_inv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("_orig"), deq, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(
        F.aggregate(
            F.transform(F.col("_orig"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n2 = F.sqrt(
        F.aggregate(
            F.transform(deq, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return q.select(
        "vec_id",
        "n_dims",
        F.round("scale_inv", 6).alias("scale_inv"),
        F.aggregate(F.col("qvec"), F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "sum_q"
        ),
        F.round(dot / F.nullif(n1 * n2, F.lit(0.0)), 4).alias("cos_deq"),
    )


def embedding_decontaminate(
    emb: DataFrame,
    bench: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic benchmark decontamination: flag every corpus vector
    whose cosine against ANY held-out benchmark vector reaches
    ``threshold``, reporting the best-matching benchmark id (max
    cosine; exact ties resolve to the smallest id).  The n-gram sweeps
    (pipeline.decontaminate / bloom) catch verbatim leakage; this pass
    catches paraphrased eval items that share no 8-gram.

    Scale shape: the benchmark is an EVAL SET — thousands of vectors by
    construction, never corpus-sized — so it collects once into a
    normalized numpy matrix and broadcasts to every task; the corpus is
    then ONE Arrow-batched scan (batch_rows × dim @ dim × |bench|
    matmul per batch), zero shuffles, nothing corpus-sized leaves the
    executors.  The collect is O(|bench|), same class as the broadcast
    shingle set in pipeline.decontaminate.

    Cross-engine float caveat (same as embedding_near_dup_brute): numpy
    pairwise summation vs the oracle's sequential fold differ by
    ~1e-15 relative — enough to flip a pair only when its cosine lands
    within 1e-14 of the threshold or two benchmark matches tie to
    1e-15, absent for continuous embeddings at the gate SFs
    (hash-verified equal)."""
    from collections.abc import Iterator

    rows = bench.select(id_col, vec_col).collect()
    bids = np.array([int(r[0]) for r in rows], dtype="int64")
    order = np.argsort(bids)  # argmax returns the FIRST max -> min id on ties
    bids = bids[order]
    M = np.stack([np.asarray(rows[i][1], dtype="float64") for i in order])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((bids, M))

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype("float64")
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            C = X @ b_mat.T
            j = np.argmax(C, axis=1)
            best = C[np.arange(len(C)), j]
            keep = best >= threshold
            yield pd.DataFrame(
                {
                    "vec_id": pdf["_id"].to_numpy()[keep],
                    "bench_id": b_ids[j[keep]],
                    "cosine": best[keep],
                }
            )

    out = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).mapInPandas(go, "vec_id long, bench_id long, cosine double")
    return out.select("vec_id", "bench_id", F.round("cosine", 4).alias("cosine"))


# --- product quantization (PQ) -------------------------------------------------
def train_pq_codebooks(
    emb: DataFrame,
    m_sub: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace k-means codebooks (Jégou et al. 2011 product
    quantization): the D-dim space splits into ``m_sub`` contiguous
    subspaces and each trains its own ``n_codes``-centroid quantizer —
    the SAME deterministic k-means-lite as the IVF coarse quantizer
    (md5-residue init, fixed rounds), run on the sliced vectors, so
    the whole trained index replays in SQL like embed_ivf_topk's.

    Returns ``m_sub`` codebooks of (code, centroid) lists.  Driver
    footprint m_sub × n_codes × (dim/m_sub) floats — catalog-sized.

    All subspaces train TOGETHER: each round is ONE Arrow scan that
    assigns codes and emits per-(subspace, code) partial sums for every
    subspace at once — m_sub independent train_centroids calls would
    rescan the corpus m_sub × rounds times for the identical math
    (measured 7.4 s → ~2 s on the bench corpus)."""
    from collections.abc import Iterator

    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        (md5_residue(F.col(id_col)) % n_codes).cast("int").alias("__init"),
    ).persist()

    def sums_for(codes_of):
        """One scan: per Arrow batch, codes per subspace via
        ``codes_of`` then ≤ m_sub·n_codes partial-sum rows."""

        def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype("float64")
                out_sub, out_c, out_s, out_n = [], [], [], []
                for s in range(m_sub):
                    S = V[:, s * d_sub : (s + 1) * d_sub]
                    codes = codes_of(s, S, pdf)
                    for c in np.unique(codes):
                        m = codes == c
                        out_sub.append(s)
                        out_c.append(int(c))
                        out_s.append(list(S[m].sum(axis=0)))
                        out_n.append(int(m.sum()))
                yield pd.DataFrame(
                    {"sub": out_sub, "cell": out_c, "s": out_s, "n": out_n}
                )

        rows = base.mapInPandas(
            go, "sub int, cell int, s array<double>, n long"
        ).collect()
        acc: dict[tuple[int, int], tuple[np.ndarray, int]] = {}
        for r in rows:
            k = (r["sub"], r["cell"])
            s0, n0 = acc.get(k, (0.0, 0))
            acc[k] = (s0 + np.asarray(r["s"]), n0 + r["n"])
        books: list[list[tuple[int, list[float]]]] = [[] for _ in range(m_sub)]
        for (s, cell), (sv, n) in acc.items():
            books[s].append((cell, [float(x) for x in sv / n]))
        return [sorted(b) for b in books]

    books = sums_for(lambda s, S, pdf: pdf["__init"].to_numpy())
    for _ in range(iters):
        mats = [np.array([c for _, c in b], dtype="float64") for b in books]
        cells = [np.array([cell for cell, _ in b]) for b in books]

        def codes_of(s, S, pdf, mats=mats, cells=cells):
            return _nearest_codes(S, mats[s], cells[s])

        books = sums_for(codes_of)
    base.unpersist()
    return books


def _pq_check_codebooks(codebooks, m_sub: int, d_sub: int, n_codes: int) -> None:
    """Supplied codebooks must cover every subspace at the right width
    with in-range code ids — a silent mismatch truncates dimensions,
    and an out-of-range code id would make the driver ADC table lookup
    return NULL and silently exclude those rows from the rerank set
    (code-review r10/r11; shared by pq_topk and ivfpq_topk so the two
    callers can't drift)."""
    if len(codebooks) != m_sub:
        raise ValueError(
            f"pq: {len(codebooks)} codebooks for m_sub={m_sub} subspaces"
        )
    for s, book in enumerate(codebooks):
        bad = [len(c) for _, c in book if len(c) != d_sub]
        if bad:
            raise ValueError(
                f"pq: subspace {s} codebook centroid width {bad[0]} != "
                f"dim/m_sub = {d_sub}"
            )
        out_of_range = [code for code, _ in book if not 0 <= code < n_codes]
        if out_of_range:
            raise ValueError(
                f"pq: subspace {s} code id {out_of_range[0]} outside "
                f"[0, n_codes={n_codes})"
            )


def _pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    d_sub: int,
    vec_field: str,
    carry: list[tuple[str, str]],
) -> DataFrame:
    """THE code-assignment kernel, shared by pq_topk and ivfpq_topk
    (code-review r11: two copies risked forking the 'identical
    encoding' the SQL-replay contract depends on): ONE Arrow pass
    assigns every subspace's code via _nearest_codes, carrying the
    ``carry`` columns (name, spark-type) through unchanged."""
    from collections.abc import Iterator

    m_sub = len(codebooks)
    mats = [
        np.array([c for _, c in book], dtype="float64") for book in codebooks
    ]
    codes_arr = [np.array([cell for cell, _ in book]) for book in codebooks]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_field].to_numpy()).astype("float64")
            out = {name: pdf[name].values for name, _ in carry}
            for s in range(m_sub):
                S = V[:, s * d_sub : (s + 1) * d_sub]
                out[f"code{s}"] = _nearest_codes(S, mats[s], codes_arr[s])
            yield pd.DataFrame(out)

    schema = ", ".join(f"{n} {t}" for n, t in carry) + ", " + ", ".join(
        f"code{s} int" for s in range(m_sub)
    )
    return df.mapInPandas(encode, schema)


def pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m_sub: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ-ADC approximate nearest neighbours: encode every vector as
    ``m_sub`` codebook codes, rank candidates by the ASYMMETRIC
    distance Σ_s ||q_s − c_{s,code_s}||² (each term a driver-computed
    per-code constant — the classic ADC lookup table, here an array
    literal indexed by the code column, scan-local), keep the top
    ``rerank`` by approximate distance, then exact-cosine rerank to
    the final k.

    Scale shape: encoding is one Arrow assignment scan per subspace
    (no shuffle — at 100 TB the codes are precomputed table columns
    and the scan reads m_sub bytes per vector instead of the
    embedding); the ADC cut is a TakeOrdered; only ``rerank``
    candidates ever touch the full vectors again."""
    dim = len(query_vec)
    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    if codebooks is None:
        codebooks = train_pq_codebooks(
            emb, m_sub, n_codes, iters, dim, vec_col, id_col
        )
    _pq_check_codebooks(codebooks, m_sub, d_sub, n_codes)
    qv = [float(x) for x in query_vec]

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # encode all subspaces in ONE Arrow pass (per-subspace assign_cells
    # calls would each rescan and then need an id-keyed join to zip the
    # codes back together)
    coded = _pq_encode(base, codebooks, d_sub, "v", [("_id", "long")])

    # ADC lookup tables as array literals indexed by the code columns —
    # ||q_s - c||² per code, computed once on the driver
    approx = F.lit(0.0)
    for s, book in enumerate(codebooks):
        q_s = qv[s * d_sub : (s + 1) * d_sub]
        by_code = {
            cell: sum((a - b) ** 2 for a, b in zip(q_s, c)) for cell, c in book
        }
        table = F.array(
            *[F.lit(by_code.get(code, float("inf"))) for code in range(n_codes)]
        )
        approx = approx + F.get(table, F.col(f"code{s}"))
    cand = (
        coded.withColumn("__adc", approx)
        .orderBy(F.col("__adc").asc(), F.col("_id").asc())
        .limit(rerank)
    )
    q = _query_col(qv)
    rer = cand.join(base, "_id").select(
        F.col("_id").alias(id_col),
        F.round(cosine(F.col("v"), q), 4).alias("cosine"),
    )
    return rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ivfpq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    m_sub: int = 8,
    n_codes: int = 16,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """IVF-PQ composed ANN (Jégou et al. 2011; the FAISS IVFPQ layout,
    the standard billion-scale index): the coarse quantizer
    (`train_centroids`) partitions the corpus into ``n_cells`` cells;
    each vector's RESIDUAL against its cell centroid is
    product-quantized by ONE shared set of ``m_sub`` codebooks trained
    on the residual corpus (`train_pq_codebooks` — residuals
    concentrate near zero, so a shared codebook quantizes them far
    better than raw vectors).  A query probes the ``nprobe`` nearest
    cells, ranks their members by the per-cell asymmetric distance
    ``Σ_s ||(q − cell_centroid)_s − code_centroid||²`` (driver-computed
    lookup tables per probed cell, scan-local array literals), keeps
    the top ``rerank``, and exact-cosine reranks to the final ``k``.

    Scale shape: at 100 TB the cell assignment and the m_sub code
    bytes are precomputed table columns and the table is partitioned
    by cell — the probe is partition PRUNING (reads nprobe/n_cells of
    the corpus) and the pruned scan reads m_sub bytes per vector; the
    ADC cut is a TakeOrdered; only ``rerank`` candidates touch full
    vectors.  Training: coarse is the shared deterministic k-means,
    residual PQ is the single-scan all-subspace trainer — both
    md5-residue-initialized, so the ENTIRE trained index (coarse
    cells, residuals, codebooks, per-cell ADC) replays in SQL like
    embed_ivf_topk's and embed_pq_topk's."""
    dim = len(query_vec)
    if dim % m_sub:
        raise ValueError(f"ivfpq: dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    if centroids is None:
        centroids = train_centroids(
            emb, n_cells, coarse_iters, vec_col, id_col
        )
    # residual frame: assign each vector, subtract its cell centroid
    # JVM-side (map literal over the catalog-sized centroid set)
    cmap = F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c, _ in centroids]),
        F.array(
            *[
                F.array(*[F.lit(float(x)) for x in vec])
                for _, vec in centroids
            ]
        ),
    )
    # weight/width sanity for caller-supplied training artifacts, the
    # same loud failures pq_topk gives (code-review r11: a mismatched
    # codebook silently truncated, a short centroid NULL-padded)
    for cell, vec in centroids:
        if len(vec) != dim:
            raise ValueError(
                f"ivfpq: coarse centroid for cell {cell} has width "
                f"{len(vec)} != dim {dim}"
            )
    assigned = assign_cells(emb, centroids, vec_col, id_col)
    # NOT persisted: the PQ trainer persists its own projection of this
    # frame for the training rounds, and the two query-time consumers
    # (probed-cell encode, rerank join) each re-run one scan-local
    # Arrow pass — cheaper than pinning a corpus-sized double copy in
    # executor storage for the session (code-review r11; at 100 TB the
    # cell and codes are precomputed columns and this frame never
    # exists at query time)
    resid = assigned.withColumn(
        "r",
        F.zip_with(
            F.col("v"),
            F.element_at(cmap, F.col("cell")),
            lambda a, b: a - b,
        ),
    )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            resid, m_sub, n_codes, pq_iters, dim, vec_col="r", id_col="_id"
        )
    _pq_check_codebooks(codebooks, m_sub, d_sub, n_codes)
    qv = [float(x) for x in query_vec]

    def sqdist(c: list[float]) -> float:
        return sum((a - b) ** 2 for a, b in zip(qv, c))

    probe = sorted(centroids, key=lambda c: (sqdist(c[1]), c[0]))[:nprobe]
    probe_cells = [int(cell) for cell, _ in probe]

    # encode ONLY the probed cells' residuals, all subspaces in one
    # Arrow pass (THE shared kernel — _pq_encode — carrying the cell
    # along for the per-cell ADC table lookup)
    cand_resid = resid.filter(F.col("cell").isin(probe_cells)).select(
        "_id", "cell", "r"
    )
    coded = _pq_encode(
        cand_resid, codebooks, d_sub, "r", [("_id", "long"), ("cell", "int")]
    )

    # per-cell ADC tables: the query's residual against each probed
    # cell, then per-subspace ||q_res_s − code||² constants — summed in
    # subspace order, like pq_topk's driver tables
    cent_by_cell = dict(centroids)
    approx = F.lit(0.0)
    for s, book in enumerate(codebooks):
        per_cell = {}
        for cell in probe_cells:
            q_res = [
                a - b
                for a, b in zip(
                    qv[s * d_sub : (s + 1) * d_sub],
                    cent_by_cell[cell][s * d_sub : (s + 1) * d_sub],
                )
            ]
            by_code = {
                code: sum((a - b) ** 2 for a, b in zip(q_res, c))
                for code, c in book
            }
            per_cell[cell] = F.array(
                *[
                    F.lit(by_code.get(code, float("inf")))
                    for code in range(n_codes)
                ]
            )
        table_s = F.map_from_arrays(
            F.array(*[F.lit(c) for c in probe_cells]),
            F.array(*[per_cell[c] for c in probe_cells]),
        )
        approx = approx + F.get(
            F.element_at(table_s, F.col("cell")), F.col(f"code{s}")
        )
    cand = (
        coded.withColumn("__adc", approx)
        .orderBy(F.col("__adc").asc(), F.col("_id").asc())
        .limit(rerank)
    )
    q = _query_col(qv)
    # rerank reads the PLAIN corpus projection — going through `resid`
    # would re-run the full-corpus nearest-centroid Arrow matmul just
    # to project (_id, v), since mapInPandas is opaque to column
    # pruning (code-review r11)
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    rer = cand.join(base, "_id").select(
        F.col("_id").alias(id_col),
        F.round(cosine(F.col("v"), q), 4).alias("cosine"),
    )
    out = rer.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)
    return out
