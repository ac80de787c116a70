"""Similarity search over embeddings (SURVEY §2.9 X2).

Two pair-scoring shapes, one owner each.  Query×corpus: every
brute-force, IVF, LSH, radius, MMR, triplet and hybrid operator scores
through ``_vectors`` (the corpus as (vec_id, …, vec) doubles),
``_query_sims`` (a broadcast cross join, or a join ``on`` an IVF cell
or LSH bucket, minus the query itself, at the round-6 cosine) and
``_top_ranked`` (the one row_number cut over (sim DESC, id ASC)) —
the parity contract every top-k oracle replays; ``_probe_cells`` ranks
the IVF cells a query probes.  All pairs: ``_block_pair_scan`` owns
the exact block-partitioned layout — vec_id % N_BLOCKS blocks, one
applyInPandas group per block pair (K(K+1)/2 tasks, two blocks of
memory each, no full-table broadcast, no nested-loop join, no driver
collect; plan-pinned in tests/test_plans.py) — and its callers
(``embedding_near_dup_pairs``, ``embedding_knn_label_eval``) bring
only a NumPy kernel.  The exact near-dup threshold join stays O(n²)
compute: at t = 0.45 every sign-bit LSH banding with 100 % recall
keeps 64–100 % of all pairs as candidates, because the qualifying
pairs sit at cosine 0.45–0.51 against a background whose p99.9 is
0.38; ``embedding_near_dup_lsh`` bands only where a geometry separates
them and routes to the exact scan otherwise.

Engine-parity: similarity is rounded to 6 decimals *before* ranking /
thresholding in BOTH engines, so FP association differences (Spark
sequential fold vs NumPy SIMD vs DuckDB list_sum) can't flip an
ordering or a threshold decision except on measure-zero boundaries.
The LSH sketch goes further: embeddings are quantized to integers
(floor(x·1000)) and projected through a ±1 hyperplane matrix derived
from md5, so every sketch bit is integer arithmetic — bit-identical
across Spark, NumPy, and DuckDB regardless of summation order.

Fixed-point vectors: k-means, product quantization (PQ), IVF-PQ,
power iteration, SemDeDup and the per-dimension audits compute in one
int64 format, q = floor(x·PI_XSCALE + 0.5), so every distance, mean
and Gram product is integer-exact and every oracle replays it
bit-for-bit.  One section below owns that format: ``fixed_point`` is
the quantizer, ``_quantized`` the one cached (vec_id, qx) corpus
(owned by its memo entry — no operator unpersists it, because Spark
caches by plan and an unpersist would drop every other holder's copy
too), ``_nearest`` the integer-L2 argmin over a codebook, ``_lloyd``
the one Lloyd loop (PQ's subspaces; k-means is one subspace), and
``_query_row`` the PQ query vector's lookup.
"""

from __future__ import annotations

import functools
import hashlib
import math
import shutil
import warnings
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..checkpoints import memo_local_checkpoint
from ..plan_cache import cached, memoized
from ..schema import load_table, table_row_count
from ..tmpdirs import tmpdir_reclaimed_at_exit

TOP_K = 5
N_QUERIES = 5  # query set = vec_id < 5
MAX_QUERY_ROWS = 10_000  # driver-collect guard for the broadcast pattern
NEAR_DUP_THRESHOLD = 0.45
N_BLOCKS = 8  # block-pair tasks = K(K+1)/2; at scale K ≈ corpus_rows / 10⁵

# --- LSH sketch parameters (embedding_near_dup_lsh) -----------------------
EMB_DIM = 64
# Default band geometry: 8 bands × 16 bits (128 sketch bits).  This is
# an IN-REGIME default — random-pair candidate rate 8·2⁻¹⁶ ≈ 0.012% —
# chosen for the high-similarity thresholds banding is actually good
# at (≥0.85 or so).  It replaces the r7–r10 default of 32 bands ×
# 4 bits, whose 87% random-pair rate made the shipped configuration
# Θ(n²) at corpus scale (r10 verdict "What's wrong #4").  Thresholds
# the default cannot reach are handled by ``lsh_geometry_for`` /
# routing in ``embedding_near_dup_lsh``, not by widening the bands.
BAND_BITS = 16
SKETCH_BITS = 128  # bands = SKETCH_BITS / BAND_BITS = 8
QUANT = 1000  # fixed-point scale: q_j = floor(x_j * 1000), exact in IEEE

# Random-pair candidate rate above which sign-LSH banding stops
# pruning and candidate volume grows ~n² (the r7 late finding: 1.7 M →
# 171 M candidates on a 10× decorrelated corpus at threshold 0.45).
LSH_MAX_RANDOM_RATE = 0.01


def lsh_random_collision_rate(
    band_bits: int = BAND_BITS,
    n_bands: int = SKETCH_BITS // BAND_BITS,
    background_sim: float = 0.0,
) -> float:
    """Expected fraction of RANDOM pairs that become LSH candidates.

    For sign-random-projection sketches, two vectors at cosine s agree
    on one sketch bit with probability p = 1 − arccos(s)/π (Goemans–
    Williamson); a band of b bits collides with p^b, and any of the
    n_bands bands colliding makes the pair a candidate:
    rate = 1 − (1 − p^b)^n_bands.  For an uncorrelated background
    (s ≈ 0, p = 1/2) this is pure band geometry — if it is not ≪ 1,
    candidate volume is Θ(n²) regardless of threshold.
    """
    s = max(-1.0, min(1.0, background_sim))
    p = 1.0 - math.acos(s) / math.pi
    return 1.0 - (1.0 - p**band_bits) ** n_bands


def check_lsh_regime(
    threshold: float,
    *,
    band_bits: int = BAND_BITS,
    n_bands: int = SKETCH_BITS // BAND_BITS,
    max_random_rate: float = LSH_MAX_RANDOM_RATE,
    strict: bool = False,
) -> float:
    """Guard against running banded LSH outside its effective regime.

    Returns the expected random-pair candidate rate for the given band
    geometry.  When that rate exceeds ``max_random_rate`` — i.e. the
    geometry needed for recall at ``threshold`` admits a quadratic
    candidate stream — warns (default) or raises (``strict=True``,
    the setting a 100 TB caller should use), pointing at
    ``dedup_semantic_semdedup`` (cluster-local exact Gram, O(Σcᵢ²))
    as the low-threshold alternative.  r7 verdict "What's wrong #2".
    """
    rate = lsh_random_collision_rate(band_bits, n_bands)
    if rate > max_random_rate:
        p_t = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
        recall = 1.0 - (1.0 - p_t**band_bits) ** n_bands
        msg = (
            f"LSH band geometry ({n_bands} bands × {band_bits} bits) at "
            f"threshold {threshold} admits ~{rate:.0%} of RANDOM pairs as "
            f"candidates (threshold-pair recall {recall:.0%}) — candidate "
            f"volume is Θ(n²) at corpus scale. Use a higher threshold / "
            f"more bits per band, or switch to dedup_semantic_semdedup "
            f"(cluster-local exact similarity) for low-threshold regimes."
        )
        if strict:
            raise ValueError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return rate


def lsh_geometry_for(
    threshold: float,
    *,
    target_recall: float = 0.95,
    max_random_rate: float = LSH_MAX_RANDOM_RATE,
    max_bits: int = 512,
) -> tuple[int, int] | None:
    """Smallest band geometry (band_bits, n_bands) that reaches
    ``target_recall`` on pairs AT ``threshold`` while keeping the
    random-pair candidate rate under ``max_random_rate`` — or None
    when no geometry under ``max_bits`` sketch bits exists.

    The infeasibility is structural, not a tuning failure: a band of
    b bits collides with p_t^b for threshold pairs vs (1/2)^b for
    random pairs, so the selectivity contrast is (2·p_t)^b.  Recall
    needs n ≈ ln(1−target)/ln(1−p_t^b) bands, giving a random rate of
    ~n·2⁻ᵇ; driving that under ``max_random_rate`` requires
    (2·p_t)^b ≳ |ln(1−target)|/max_random_rate.  At threshold 0.45
    (p_t ≈ 0.649, contrast 1.30 per bit) that means b ≈ 23 bits and
    ~70 000 bands — megabit sketches.  Low-threshold similarity is
    simply not LSH-able; callers should route to an exact
    (block-partitioned) scan or accept SemDeDup's cluster-local
    approximation instead.
    """
    p_t = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    best: tuple[int, int] | None = None
    for b in range(1, 33):
        p_band = p_t**b
        if p_band >= 1.0 or p_band <= 0.0:
            continue
        n = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
        if n < 1 or n * b > max_bits:
            continue
        if lsh_random_collision_rate(b, n) > max_random_rate:
            continue
        if best is None or n * b < best[0] * best[1]:
            best = (b, n)
    return best


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- fixed-point vectors: the one owner of the int64 format -------------

PI_XSCALE = 1000  # embedding fixed-point scale


def fixed_point(arr: Column) -> Column:
    """An embedding array as int64 fixed-point: q = floor(x·PI_XSCALE
    + 0.5) per element — exact in IEEE, identical in every engine."""
    return F.transform(
        arr,
        lambda x: F.floor(x.cast("double") * PI_XSCALE + F.lit(0.5)).cast(
            "long"
        ),
    )


@memoized("derived")
def _quantized(spark: SparkSession, sf: str) -> DataFrame:
    """The quantized corpus (vec_id, qx), cached once per session × sf
    for every k-means, PQ, IVF-PQ and power-iteration caller.  The memo
    entry owns the cache: a reset releases it, and no caller unpersists
    it — Spark caches by plan, so one caller's unpersist would drop it
    from under the others."""
    return cached(
        load_table(spark, sf, "embeddings").select(
            "vec_id", fixed_point(F.col("embedding")).alias("qx")
        )
    )


def _nearest(vec_sql: str, book: dict) -> Column:
    """struct(dist, cid) of the codeword in ``book`` (cid → int list)
    nearest to the int64 array SQL expression ``vec_sql``: integer
    Σ(v−c)² distances, ties broken on (dist, cid) — a total order, so
    training, encoding and every oracle pick the same codeword."""
    # Built as ONE SQL string parsed JVM-side: the K×DIM centroid
    # literals as py4j Column algebra cost ~2 s of driver round trips
    # PER BUILD (measured r12 — 75% of the k-means/PQ recompute
    # totals); the parsed expression tree and execution plan are
    # identical.
    structs = ", ".join(
        f"struct({_l2_sql(vec_sql, book[j])} AS dist, {j} AS cid)"
        for j in sorted(book)
    )
    return F.expr(f"array_min(array({structs}))")


def _l2_sql(vec_sql: str, codeword: list) -> str:
    """Integer Σ(v−c)² of an int64 array SQL expression against a
    literal codeword."""
    arr = ", ".join(f"{int(c)}L" for c in codeword)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


def _l2(a: list, b: list) -> int:
    """Driver-side twin of ``_l2_sql``."""
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _adc(queries: dict, books: list, cell: Column) -> Column:
    """Asymmetric PQ distance Σ_m d(q_m, books[m][code_m]) as a lookup
    into ONE driver-computed literal map (constant, O(cells·M·K) — no
    distance-table join): ``queries`` maps a cell id to the query
    vector scored in it (flat PQ: {0: q}; IVF-PQ: each probed cell's
    query residual), keyed cell·(M·K) + m·K + code."""
    w, span = len(books[0][0]), len(books) * PQ_CODES
    lut = F.expr(
        "map("
        + ", ".join(
            f"{c * span + m * PQ_CODES + j}, "
            f"{_l2(q[m * w : (m + 1) * w], cw)}L"
            for c, q in queries.items()
            for m, book in enumerate(books)
            for j, cw in book.items()
        )
        + ")"
    )
    terms = [
        F.element_at(lut, cell * span + m * PQ_CODES + F.col(f"code_{m}"))
        for m in range(len(books))
    ]
    return functools.reduce(lambda a, b: a + b, terms).cast("long")


def _codes(books: list) -> list:
    """Per subspace m, the cid of ``books[m]``'s codeword nearest to
    the m-th equal-width slice of ``qx`` (the PQ code columns)."""
    w = len(books[0][0])
    return [
        _nearest(f"slice(qx, {m * w + 1}, {w})", book)["cid"]
        for m, book in enumerate(books)
    ]


def _lloyd(base: DataFrame, k: int, n_sub: int, iters: int):
    """Lloyd's algorithm over a (vec_id, qx) frame split into ``n_sub``
    independent equal-width subspaces — PQ's sub-codebooks; k-means is
    the ``n_sub=1`` case.  Seeds are the k lowest vec_ids; each round
    assigns by ``_nearest`` and re-quantizes every (subspace, cell,
    dim) mean as floor(s/n + 0.5), the same two IEEE ops the oracles
    run; an empty cell receives no row and keeps its codeword.  Returns
    (seed_rows, books) with books[m] = {cid: codeword}.

    Each round fuses ALL subspaces into ONE aggregation job: a single
    scan emits (m, cid_m, pos, q) via one explode and partial-aggregates
    map-side — ``iters`` jobs in total, not n_sub·iters (the
    per-stage-floor fix from the MMR rerank rewrite, NOTES round-8
    lesson #2).  Centroids are driver state, O(k·dim); the corpus
    is scanned, never collected.
    """
    seed_rows = base.orderBy("vec_id").limit(k).collect()
    w = len(seed_rows[0]["qx"]) // n_sub
    books = [
        {
            j: [int(q) for q in r["qx"][m * w : (m + 1) * w]]
            for j, r in enumerate(seed_rows)
        }
        for m in range(n_sub)
    ]
    for _ in range(iters):
        fused = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        code.alias("cid"),
                        F.slice("qx", m * w + 1, w).alias("sub"),
                    )
                    for m, code in enumerate(_codes(books))
                ]
            )
        ).alias("e")
        sums = (
            base.select(fused)
            .select("e.m", "e.cid", F.posexplode("e.sub").alias("pos", "q"))
            .groupBy("m", "cid", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        for r in sums:
            books[r["m"]][r["cid"]][r["pos"]] = int(
                math.floor(int(r["s"]) / int(r["n"]) + 0.5)
            )
    return seed_rows, books


def _query_row(base: DataFrame, seed_rows: list) -> list:
    """The PQ query vector (vec_id PQ_QUERY_VEC) of a quantized frame.
    Seeds are the lowest vec_ids and ids are dense from 0, so the query
    row is usually among the seed rows already collected — reusing it
    skips a filter+collect job per build (r17 job-floor pass); a corpus
    without it in the seed pays that one job."""
    hit = next((r for r in seed_rows if r["vec_id"] == PQ_QUERY_VEC), None)
    if hit is None:
        hit = base.filter(F.col("vec_id") == PQ_QUERY_VEC).collect()[0]
    return [int(v) for v in hit["qx"]]


# --- query×corpus scoring: the one cosine and top-k recipe ---------------


def _vectors(spark: SparkSession, sf: str, *keep, proj=None) -> DataFrame:
    """The corpus as (vec_id, *keep, vec): ``proj(embedding)`` (the
    whole embedding by default) as a double array."""
    emb = F.col("embedding")
    return load_table(spark, sf, "embeddings").select(
        "vec_id", *keep, _to_double(emb if proj is None else proj(emb)).alias("vec")
    )


def _query_set(vecs: DataFrame, *keep) -> DataFrame:
    """The ANN query set (vec_id < N_QUERIES) of a ``_vectors`` frame,
    as (query_id, *keep, qvec)."""
    return vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), *keep, F.col("vec").alias("qvec")
    )


def _query_sims(queries: DataFrame, corpus: DataFrame, *keep, on=None) -> DataFrame:
    """(query_id, neighbor_id, *keep, sim): every (query_id, qvec, ...)
    row scored against the (vec_id, vec, ...) corpus rows it meets — a
    broadcast cross join, or a broadcast join ``on`` a key (IVF cell,
    LSH bucket) — minus the query itself, at the round-6 cosine every
    oracle replays.  THE one scoring block of the query×corpus
    operators, so a parity fix can never reach one and miss another."""
    q = F.broadcast(queries)
    pairs = q.crossJoin(corpus) if on is None else q.join(corpus, on)
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *keep,
        F.round(cosine(F.col("qvec"), F.col("vec")), 6).alias("sim"),
    )


def _top_ranked(
    sims: DataFrame, k: int, rank: str = "rank", by: str = "query_id"
) -> DataFrame:
    """The first ``k`` rows per ``by`` in (sim DESC, neighbor_id ASC)
    order, numbered in column ``rank`` — the one top-k cut (and
    tie-break) every ranking oracle's ROW_NUMBER replays."""
    w = W.partitionBy(by).orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return sims.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _topk_cosine(spark: SparkSession, sf: str, proj=None) -> DataFrame:
    """Brute-force per-query top-k over ``proj(embedding)`` — the
    full-dimension baseline and the Matryoshka-truncated variant."""
    em = _vectors(spark, sf, proj=proj)
    return _top_ranked(_query_sims(_query_set(em), em), TOP_K)


def ann_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    return _topk_cosine(spark, sf)


def _query_rows(em: DataFrame) -> list:
    """The ANN query set (vec_id < N_QUERIES) collected to the driver.
    The broadcast pattern is only valid while it fits there, so past
    MAX_QUERY_ROWS this raises instead of OOMing the driver."""
    rows = (
        em.filter(F.col("vec_id") < N_QUERIES)
        .limit(MAX_QUERY_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"query set exceeds {MAX_QUERY_ROWS} rows; "
            "use a join-based ANN variant instead of driver broadcast"
        )
    return rows


def ann_topk_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """NumPy-matmul ANN over Arrow batches; identical output contract
    (and oracle) as the brute-force baseline."""
    import numpy as np

    em = load_table(spark, sf, "embeddings")
    qrows = _query_rows(em.select("vec_id", "embedding"))
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def block_sims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            x_norm = np.linalg.norm(x, axis=1)
            sims = (q_mat @ x.T) / (q_norm[:, None] * x_norm[None, :])
            nq, nx = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, nx),
                    "neighbor_id": np.tile(ids, nq),
                    "sim": np.round(sims.ravel(), 6),
                }
            )

    sims = em.select("vec_id", "embedding").mapInPandas(
        block_sims, schema="query_id long, neighbor_id long, sim double"
    )
    return _top_ranked(
        sims.filter(F.col("neighbor_id") != F.col("query_id")), TOP_K
    )


# --- all-pairs scoring: the one block-pair layout -----------------------


def _block_pair_scan(spark: SparkSession, sf: str, kernel, schema: str) -> DataFrame:
    """Exact all-pairs scan over the corpus, block-partitioned.

    Every vector lands in block ``vec_id % N_BLOCKS``; block pair
    (bi, bj) with bi ≤ bj is one applyInPandas group holding exactly
    the rows of those two blocks, so per-task memory is 2·(corpus/K)
    rows and the shuffle volume is K+1 copies of the corpus — never a
    full-table broadcast.  Each unordered pair (u, v) meets in exactly
    one group: (min(bu,bv), max(bu,bv)).

    ``kernel(ids_a, mat_a, ids_b, mat_b, same)`` scores one group:
    a diagonal group (``same``, both sides the one block, ≥ 2 rows)
    or the L×R rows of two different blocks (both non-empty).  It
    returns a dict of ``schema``'s columns, or None for no rows.
    """
    import numpy as np

    em = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(N_BLOCKS)).alias("bid")
    )
    keys = spark.createDataFrame(
        [(i, j) for i in range(N_BLOCKS) for j in range(i, N_BLOCKS)],
        "bi int, bj int",
    )
    left = em.join(F.broadcast(keys), em.bid == keys.bi).select(
        "bi", "bj", "vec_id", "embedding", F.lit("L").alias("side")
    )
    right = em.join(
        F.broadcast(keys.filter(F.col("bi") < F.col("bj"))), em.bid == keys.bj
    ).select("bi", "bj", "vec_id", "embedding", F.lit("R").alias("side"))
    both = left.unionByName(right)
    dtypes = {
        name: {"long": "int64", "double": "float64"}[kind]
        for name, kind in (f.split() for f in schema.split(","))
    }

    def scan(key, pdf):
        def rows(part):
            mat = np.array(part["embedding"].tolist(), dtype=np.float64)
            return part["vec_id"].to_numpy(), mat

        out = None
        if key[0] == key[1]:
            if len(pdf) >= 2:
                ids, mat = rows(pdf)
                out = kernel(ids, mat, ids, mat, True)
        else:
            lrows = pdf[pdf["side"] == "L"]
            rrows = pdf[pdf["side"] == "R"]
            if len(lrows) and len(rrows):
                out = kernel(*rows(lrows), *rows(rrows), False)
        if out is None:
            return pd.DataFrame({c: [] for c in dtypes}).astype(dtypes)
        return pd.DataFrame(out)

    return both.groupBy("bi", "bj").applyInPandas(scan, schema=schema)


def embedding_near_dup_pairs(
    spark: SparkSession, sf: str, threshold: float | None = None
) -> DataFrame:
    """Exact cosine-threshold pairs via the block-pair scan
    (``_block_pair_scan``).

    ``threshold=None`` resolves to the module's ``NEAR_DUP_THRESHOLD``
    at CALL time (not def time), so monkeypatching the global behaves
    the way the pre-r11 closure did — the patched value wins.
    """
    if threshold is None:
        threshold = NEAR_DUP_THRESHOLD
    return _near_dup_pairs(spark, sf, threshold)


# memoized, not just cached(): the plan embeds a per-call Python
# closure, so two builds are NEVER sameSemantics and each would
# register a fresh cache entry — the memo pins ONE frame (hence one
# cache entry) per key.
@memoized("derived")
def _near_dup_pairs(spark: SparkSession, sf: str, threshold: float) -> DataFrame:
    import numpy as np

    def near_pairs(ids_a, mat_a, ids_b, mat_b, same: bool):
        # BLAS matmul is only a PRE-filter (pairwise summation can
        # differ from the engines' sequential fold in the last ulp,
        # which np.round could flip at a 6-decimal boundary); the
        # slack margin keeps every possible boundary pair, then the
        # survivors are recomputed with the bit-exact Catalyst-fold
        # kernel and half-up rounding shared with the LSH/IVF paths.
        na = np.linalg.norm(mat_a, axis=1)
        nb = np.linalg.norm(mat_b, axis=1)
        approx = (mat_a @ mat_b.T) / (na[:, None] * nb[None, :])
        if same:
            ii, jj = np.triu_indices(len(ids_a), k=1)
        else:
            ii, jj = np.indices(approx.shape).reshape(2, -1)
        near = approx[ii, jj] >= threshold - 1e-6
        ii, jj = ii[near], jj[near]
        if not len(ii):
            return None
        sims = _round_half_up(_fold_cosine(mat_a[ii], mat_b[jj]))
        keep = sims >= threshold
        ii, jj, sims = ii[keep], jj[keep], sims[keep]
        return {
            "d1": np.minimum(ids_a[ii], ids_b[jj]),
            "d2": np.maximum(ids_a[ii], ids_b[jj]),
            "sim": sims,
        }

    # cache the RESULT frame (plan-keyed): the pair set is
    # near-dup-sized (tiny), and it has multiple consumers — the
    # routed embedding_near_dup_lsh, and embedding_dbscan_core whose
    # degree/border/roles subtrees would otherwise each re-run the
    # whole block-pair scan (Spark does not auto-materialize shared
    # subplans) — the same pattern as dedup_minhash_lsh's pair cache
    return cached(
        _block_pair_scan(spark, sf, near_pairs, "d1 long, d2 long, sim double")
        # coalesce before caching (the _copurchase_edges rule): the
        # pair set is near-dup-sized, but it inherits the block
        # shuffle's partition count — every downstream consumer (and
        # every broadcast-build subjob over it) would schedule ~36
        # near-empty tasks per scan.  On a real cluster AQE advisory
        # sizing makes the same call from runtime statistics.
        .coalesce(8)
    )


# --- LSH sketch (embedding_near_dup_lsh) ----------------------------------


def _sign_matrix(n_bits: int = SKETCH_BITS):
    """±1 hyperplane matrix, n_bits × EMB_DIM, derived from md5 so
    DuckDB can rebuild the identical matrix in SQL: entry (i, j) is +1
    iff the first hex nibble of md5(f"{i}:{j}") is ≥ 8."""
    import numpy as np

    s = np.empty((n_bits, EMB_DIM), dtype=np.int64)
    for i in range(n_bits):
        for j in range(EMB_DIM):
            nib = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16)
            s[i, j] = 1 if nib >= 8 else -1
    return s


def sketch_bands(
    em: DataFrame,
    band_bits: int = BAND_BITS,
    n_bands: int = SKETCH_BITS // BAND_BITS,
) -> DataFrame:
    """(vec_id, band_idx, band_val) — banded sign-sketch buckets.

    The sketch is integer-exact: q = floor(x·1000) as int64, projected
    through the ±1 md5 matrix with an int64 matmul (order-independent),
    bit i = (Σ_j s_ij·q_j > 0). Bands are band_bits consecutive bits
    rendered as a '0'/'1' string — the bucket key for the equi-join,
    same shape as ``dedup.lsh_bands``.  The geometry is a parameter so
    ``lsh_geometry_for`` can size it to the requested threshold.
    """
    import numpy as np

    smat = _sign_matrix(band_bits * n_bands)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            q = np.floor(x * QUANT).astype(np.int64)
            bits = (q @ smat.T) > 0  # n × (band_bits·n_bands), exact ints
            chars = np.where(bits, "1", "0")
            ids = pdf["vec_id"].to_numpy()
            n = len(ids)
            band_vals = [
                ["".join(row[b * band_bits : (b + 1) * band_bits]) for b in range(n_bands)]
                for row in chars
            ]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_bands),
                    "band_idx": np.tile(np.arange(n_bands), n),
                    "band_val": [v for row in band_vals for v in row],
                }
            )

    return em.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id long, band_idx int, band_val string"
    )


VERIFY_BROADCAST_MAX = 200_000  # rows; 200k × 64 f64 ≈ 100 MB broadcast


def _fold_cosine(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":  # noqa: F821
    """Cosine over the last axis replicating Catalyst's ``cosine()``
    BIT-FOR-BIT: F.aggregate folds left-to-right, so the dot/norm
    accumulations here run one dimension at a time (vectorized ACROSS
    the leading axes, sequential across dims) — NumPy's
    pairwise-summation dot() would differ in the last ulp and could
    flip a 6-decimal rounding.  Leading axes broadcast, so
    ``_fold_cosine(a[:, None], b[None])`` is the all-pairs matrix with
    every element in the same fold order."""
    import numpy as np

    acc = nx = ny = 0.0
    for j in range(x.shape[-1]):
        acc = acc + x[..., j] * y[..., j]
        nx = nx + x[..., j] * x[..., j]
        ny = ny + y[..., j] * y[..., j]
    return acc / (np.sqrt(nx) * np.sqrt(ny))


def _round_half_up(a: "np.ndarray", digits: int = 6) -> "np.ndarray":  # noqa: F821
    """Spark/DuckDB ROUND (half away from zero) — np.round is
    half-even and would disagree exactly at .5 boundaries."""
    import numpy as np

    p = 10.0**digits
    return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def embedding_near_dup_lsh(
    spark: SparkSession, sf: str, threshold: float | None = None
) -> DataFrame:
    """Near-dup pair discovery, LSH-routed: sign-sketch bands →
    candidate equi-join → exact cosine verification WHEN a band
    geometry can reach the requested threshold; an exact
    block-partitioned pair scan when it cannot.

    Routing (``lsh_geometry_for``): sign-LSH separates threshold
    pairs from random pairs at (2·p_t)^b per b-bit band, so at high
    thresholds (≈0.85+) a few hundred sketch bits give ~full recall
    with a ≤1% random candidate rate — the banded branch, whose every
    shuffle is keyed by (band_idx, band_val), never all-pairs.  At
    low thresholds (the module's 0.45 spec: contrast 1.30 per bit)
    NO sub-kilobit geometry exists — the r7–r10 default (32 bands ×
    4 bits) admitted ~87% of RANDOM pairs, i.e. a Θ(n²) candidate
    stream PLUS banding overhead.  Full recall there is inherently
    all-pairs work, so the router runs the honest plan: the
    block-partitioned exact scan (``embedding_near_dup_pairs`` —
    O(n²/K) per task, K+1 corpus copies of shuffle, no driver
    hot spot).  A 100 TB corpus at a low threshold should instead
    accept ``dedup_semantic_semdedup``'s cluster-local approximation;
    this operator's contract is FULL recall
    (tests/test_plans.py::test_near_dup_lsh_full_recall_on_fixture).

    Banded-branch verification is adaptive, mirroring Spark's own
    broadcast-join threshold logic: while the corpus fits the
    broadcast budget (≤ VERIFY_BROADCAST_MAX rows) the embedding
    matrix ships to executors ONCE and candidates verify as a narrow
    Arrow-batched NumPy pass over bare (d1, d2) pairs; beyond the
    budget vectors join back by id.  Both paths produce bit-identical
    sims (_fold_cosine replicates the Catalyst fold order).
    """
    import numpy as np

    if threshold is None:
        threshold = NEAR_DUP_THRESHOLD
    geometry = lsh_geometry_for(threshold)
    if geometry is None:
        # exact route: full recall at a sub-LSH threshold
        return embedding_near_dup_pairs(spark, sf, threshold)

    em = load_table(spark, sf, "embeddings")
    bands = sketch_bands(em, *geometry)
    b1 = bands.alias("a")
    b2 = bands.alias("b")
    cand = (
        b1.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        # distinct BEFORE verification, deliberately: the candidate
        # stream is bare int64 pairs, so the JVM-side distinct is a
        # cheap long-pair shuffle, while every duplicate that reaches
        # verification pays Arrow serialization into Python — measured
        # on a 10× corpus, deferring the distinct to the survivor set
        # was 1.5× SLOWER end-to-end (114 s vs 76 s) because the
        # duplicated stream's Arrow transfer dominates
        .distinct()
    )
    # footer-metadata row count (no data scan) picks the verify path —
    # a df.count() here would burn one full extra pass over the corpus
    # on every call just to choose a strategy
    if table_row_count(sf, "embeddings") <= VERIFY_BROADCAST_MAX:
        rows = em.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        # id→row via sorted ids + searchsorted, NOT a dense
        # max(id)+1 table: ids are arbitrary int64 (a sharded corpus
        # offsets them by shard·10⁸ or worse), and a dense table is
        # O(max id) driver+broadcast memory — 7 GB for ids near 10⁹,
        # fatal long before the row count crosses the broadcast gate
        order = np.argsort(ids)
        ids_sorted = ids[order]
        mat = mat[order]
        bc = spark.sparkContext.broadcast((ids_sorted, mat))

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keys, m = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                d1 = pdf["d1"].to_numpy()
                d2 = pdf["d2"].to_numpy()
                sims = _round_half_up(
                    _fold_cosine(
                        m[np.searchsorted(keys, d1)],
                        m[np.searchsorted(keys, d2)],
                    )
                )
                keep = sims >= threshold
                yield pd.DataFrame(
                    {"d1": d1[keep], "d2": d2[keep], "sim": sims[keep]}
                )

        return cand.mapInPandas(verify, schema="d1 long, d2 long, sim double")
    # beyond-broadcast fallback: join the vectors back by id
    v = _vectors(spark, sf)
    v1 = v.select(F.col("vec_id").alias("d1"), F.col("vec").alias("v1"))
    v2 = v.select(F.col("vec_id").alias("d2"), F.col("vec").alias("v2"))
    return (
        cand.join(v1, "d1")
        .join(v2, "d2")
        .select(
            "d1",
            "d2",
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(threshold))
    )


K_CELLS = 16  # IVF coarse cells; production sizing ≈ √corpus_rows
NPROBE = 2  # cells probed per query


def _cell_sim_matrix(x, cmat):
    """rows × cells rounded cosines, Catalyst fold order per cell —
    the ONE definition shared by build and probe so a parity fix can
    never be applied to one path and missed in another."""
    return _round_half_up(_fold_cosine(x[:, None], cmat[None]))


def _assign_cells(em, bc, keep_vec: bool):
    """Arrow-batched cell assignment against a broadcast codebook —
    the ONE batching/argmax wrapper around _cell_sim_matrix, shared by
    the IVF build and the incremental-assign op (argmax-first tie
    break == the SQL round-6 + row_number ORDER BY csim DESC, cell_id)."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ids, cmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["vec"].tolist(), dtype=np.float64)
            cells = ids[np.argmax(_cell_sim_matrix(x, cmat), axis=1)]
            out = {"vec_id": pdf["vec_id"].to_numpy(), "cell": cells}
            if keep_vec:
                out["vec"] = pdf["vec"]
            yield pd.DataFrame(out)

    schema = "vec_id long, cell long" + (", vec array<double>" if keep_vec else "")
    return em.mapInPandas(assign, schema=schema)


def _ivf_build(spark: SparkSession, sf: str):
    """Shared IVF build: codebook = first K_CELLS corpus vectors
    (deterministic), cell assignment = Arrow-batched NumPy argmax
    against the broadcast codebook (narrow, zero shuffle). Returns
    (em, corpus, cent_ids, cent_mat)."""
    import numpy as np

    em = _vectors(spark, sf)
    cent_rows = (
        em.filter(F.col("vec_id") < K_CELLS).orderBy("vec_id").collect()
    )
    assert len(cent_rows) <= K_CELLS  # tiny by construction
    cent_ids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["vec"] for r in cent_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cent_ids, cent_mat))
    # NOT spread before the Arrow assignment (r18 measured refutation):
    # a gated repartition(defaultParallelism) here parallelized the
    # ~290 ms single-task numpy argmax but cost an equal shuffle of the
    # vectors (+1 job, build +0.2 s/rep) AND fragmented the on-disk IVF
    # index (partitionBy("cell") after repartition(32) => up to 32
    # files per cell, multiplying the rebalance footer stats).  At
    # 100 TB the input already has thousands of splits, so the gate
    # would be false there anyway — no scale upside either.
    corpus = _assign_cells(em, bc, keep_vec=True)
    return em, corpus, cent_ids, cent_mat


def ann_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into K_CELLS cells,
    probe the NPROBE nearest cells per query, exact top-k inside them.

    The "trained" codebook is the first K_CELLS corpus vectors —
    deterministic, so the DuckDB oracle replicates the exact procedure
    (like the LSH variants, correctness is exact parity with the same
    algorithm, not a recall bound against brute force). Cell assignment
    is an Arrow-batched NumPy argmax against the broadcast codebook —
    a NARROW pass with zero shuffle (the earlier all-literal Catalyst
    expression tree evaluated interpreted and cost 10× more); sims
    replicate the Catalyst fold order bit-for-bit (_fold_cosine). The
    only shuffles are the candidate equi-join on cell id and the final
    per-query top-k. At 100 TB: K_CELLS ≈ √n, assignment stays narrow,
    and the cell join's skew (popular cells) is AQE-splittable because
    cell id is the shuffle key.
    """
    em, corpus, cent_ids, cent_mat = _ivf_build(spark, sf)
    return _ivf_probe(spark, em, corpus, cent_ids, cent_mat)


def _probe_cells(spark, q_rows: list, cent_ids, cent_mat, nprobe: int):
    """(query_id, cell, probe_rank, qvec): each collected query row's
    ``nprobe`` nearest cells, ranked 1.. by (sim desc, cell id asc) —
    computed driver-side from the codebook (the query set is bounded,
    see _query_rows) with the same kernel the build assigns by."""
    import numpy as np

    q_mat = np.array([r["vec"] for r in q_rows], dtype=np.float64)
    q_sims = _cell_sim_matrix(q_mat, cent_mat)
    probes = []
    for i, r in enumerate(q_rows):
        order = sorted(
            range(len(cent_ids)), key=lambda k: (-q_sims[i, k], cent_ids[k])
        )[:nprobe]
        for pr, k in enumerate(order, start=1):
            probes.append((r["vec_id"], int(cent_ids[k]), pr, list(r["vec"])))
    return spark.createDataFrame(
        probes, "query_id long, cell long, probe_rank int, qvec array<double>"
    )


def _ivf_probe(spark, em, corpus, cent_ids, cent_mat):
    """Probe phase shared by the inline and persisted-index IVF
    variants: NPROBE nearest cells per query, exact top-k inside."""
    probes = _probe_cells(spark, _query_rows(em), cent_ids, cent_mat, NPROBE)
    return _top_ranked(_query_sims(probes, corpus, on="cell"), TOP_K)


def ann_index_persist_probe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index LIFECYCLE: build the cell-assignment index once,
    persist it as a parquet table partitioned by cell, then serve the
    probe from the on-disk index — how a production ANN service
    actually runs (index built nightly, probed all day), vs
    ``ann_topk_ivf``'s inline build.

    Cell-partitioned layout means a probe reads ONLY its NPROBE cell
    partitions (partition pruning on the probe join's cell key); at
    100 TB the index rebuild is the once-a-day cost and each query
    touches a sliver of it. Results are identical to the inline IVF —
    which is the oracle (same SQL). Build and assignment logic is the
    SAME ``_ivf_build`` the inline variant runs.
    """
    index_dir, cent_ids, cent_mat = _ivf_index_on_disk(spark, sf)
    em = _vectors(spark, sf)
    corpus = spark.read.parquet(index_dir).select("vec_id", "cell", "vec")
    return _ivf_probe(spark, em, corpus, cent_ids, cent_mat)


# the index is the once-a-day build artifact — rebuilding AND
# re-writing it per call (bench runs best-of-4) would leak a corpus
# copy into /tmp each time.  A reset removes the index dir: the next
# build writes a fresh one.
@memoized(
    "derived", release=lambda index: shutil.rmtree(index[0], ignore_errors=True)
)
def _ivf_index_on_disk(spark: SparkSession, sf: str):
    """Build-once (per session × sf) cell-partitioned on-disk IVF
    index — the nightly artifact both the probe lifecycle op and the
    rebalance op serve from. Returns (index_dir, cent_ids, cent_mat)."""
    _, built, cent_ids, cent_mat = _ivf_build(spark, sf)
    index_dir = tmpdir_reclaimed_at_exit("ivf_index_")
    # hash-repartition BY CELL before the dynamic-partition write:
    # same ≤K_CELLS file count (each task owns whole cells, so still
    # one file per cell), written MOSTLY in parallel — 16 keys hashed
    # into 16 buckets collide, so expect ~10 occupied tasks with a few
    # writing 2-3 cells sequentially (r14 A/B: 0.66 → 0.42 s median at
    # sf0.1).  NOT the refuted round-robin spread, which fanned every
    # task across every cell (32×16 small files).
    built.repartition(K_CELLS, "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(index_dir)
    return index_dir, cent_ids, cent_mat


def ann_ivf_balance_audit(spark: SparkSession, sf: str) -> DataFrame:
    """IVF cell-BALANCE audit — the observability that decides whether
    an IVF index is servable: hot cells make probe latency quadratic
    in the hot share (every query probing a hot cell scans it all) and
    empty cells waste codebook capacity, so production ANN services
    watch exactly this table after every index build (it is the signal
    that triggers re-training or cell splitting).  Per cell: resident
    vector count (empty cells included via the codebook, count 0),
    integer-ppm share of the corpus, and the size rank.

    Plan: the build's narrow Arrow-batched assignment → ONE cell-keyed
    map-side-combined count (K_CELLS rows out) → share/rank over the
    16-row counts frame.  The two unpartitioned windows run on a frame
    bounded by K_CELLS — whitelisted in the global-window sweep with
    that justification.  At 100 TB the audit is the same one aggregate
    over the index you just wrote.
    """
    _, corpus, cent_ids, _ = _ivf_build(spark, sf)
    cells = spark.createDataFrame(
        [(int(c),) for c in cent_ids], "cell long"
    )
    # no broadcast hint: Spark ignores a hint on the PRESERVED side of
    # a left outer join, and both sides here are K_CELLS rows anyway
    counts = cells.join(
        corpus.groupBy("cell").agg(F.count("*").cast("long").alias("n")),
        "cell",
        "left",
    ).select("cell", F.coalesce(F.col("n"), F.lit(0)).alias("n_vecs"))
    wtot = W.partitionBy()  # K_CELLS rows by construction
    wrank = W.orderBy(F.col("n_vecs").desc(), F.col("cell"))
    return counts.select(
        "cell",
        "n_vecs",
        F.floor(
            F.lit(1_000_000) * F.col("n_vecs") / F.sum("n_vecs").over(wtot)
        )
        .cast("long")
        .alias("share_ppm"),
        F.row_number().over(wrank).cast("long").alias("size_rank"),
    ).orderBy("cell")


def embedding_norm_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding health check: vectors whose norm is extreme are
    usually corrupt (zeroed buffers, double-scaled uploads) — flag
    everything outside the [p01, p99] band of squared norms. Norm² is
    an exact int64 (fixed-point quantized elements), so the only
    floats are the two interpolated percentile thresholds, computed
    identically in both engines. One narrow pass + a 2-value
    broadcast; per-label outlier counts come from one rollup."""
    em = load_table(spark, sf, "embeddings")
    q2 = F.aggregate(
        fixed_point(F.col("embedding")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    base = cached(em.select("vec_id", "label", q2.alias("norm2")))
    th = base.agg(
        F.expr("percentile(norm2, array(0.01, 0.99))").alias("q")
    ).select(
        F.element_at("q", 1).alias("lo"), F.element_at("q", 2).alias("hi")
    )
    return (
        base.join(F.broadcast(th))
        .withColumn(
            "is_outlier",
            (F.col("norm2").cast("double") < F.col("lo"))
            | (F.col("norm2").cast("double") > F.col("hi")),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("is_outlier").cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("label")
    )


CENTROID_SCALE = 1_000_000  # fixed-point: round(x·1e6) is exact for f32 inputs


def embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid: element-wise mean of the embedding vectors
    (the clustering/class-prototype primitive an embedding pipeline
    recomputes every refresh).

    posexplode → groupBy(label, pos) is the shape that scales: the
    shuffle carries (label, dim) partial sums — map-side combine
    reduces each task's output to ≤ labels·dims rows no matter how
    many vectors it read, so a 100 TB corpus aggregates into
    labels·dims cells with one shuffle.  Sums are fixed-point int64
    (round(x·1e6)) so the mean is exact and association-order-free —
    float accumulation would diverge between engines and runs.
    """
    em = load_table(spark, sf, "embeddings")
    exploded = em.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * CENTROID_SCALE).cast(
                    "long"
                ),
            )
        ).alias("pos", "q"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.sum("q").alias("sum_q"), F.count("*").alias("n_vecs"))
        .select(
            "label",
            "pos",
            (
                F.col("sum_q").cast("double")
                / F.lit(float(CENTROID_SCALE))
                / F.col("n_vecs").cast("double")
            ).alias("centroid_val"),
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 vector quantization (max-abs scaling) with a
    per-vector reconstruction-error report — the compression audit a
    100 TB embedding store runs before switching retrieval to int8.

    scale = max|x|/127, q_j = floor(x_j/scale + 0.5); since
    |x_j| ≤ 127·scale, q_j lands in [-127, 127] with no clamp. Every
    output is either a single IEEE expression evaluated identically by
    both engines (scale, per-element error, MAX — order-insensitive and
    exact) or integer-exact (Σq_j), so parity needs no rounding. The
    scale column is materialized in its own projection first — lambdas
    inline their argument, so referencing max-abs inside the per-element
    transform would recompute it per element, O(d²) per vector.
    Narrow per-row expressions, zero shuffle at any corpus size.
    """
    base = load_table(spark, sf, "embeddings").select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )
    with_scale = base.select(
        "vec_id",
        "v",
        (F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    s = F.col("scale")
    errs = F.transform(
        F.col("v"), lambda x: F.abs(x - F.floor(x / s + F.lit(0.5)) * s)
    )
    qsum = F.aggregate(
        F.transform(F.col("v"), lambda x: F.floor(x / s + F.lit(0.5))),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q,
    )
    return with_scale.select(
        "vec_id",
        "scale",
        F.when(s == 0, F.lit(0.0)).otherwise(F.array_max(errs)).alias(
            "max_abs_err"
        ),
        F.when(s == 0, F.lit(0))
        .otherwise(qsum)
        .cast("long")
        .alias("q_checksum"),
    )


PI_ITERS = 3  # power-iteration rounds (fixture spectrum converges fast)
PI_VSCALE = 1_000_000  # iterate fixed-point scale


def embedding_top_component(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding Gram
    matrix via power iteration — the iterative-linear-algebra shape
    (matrix-free X^T(Xv)) that PCA/spectral pipelines run at 100 TB.

    Exactness across engines is the point: every cross-row and
    cross-dimension reduction is INTEGER (embeddings quantized to
    fixed-point, the iterate re-quantized each round), so accumulation
    order cannot perturb results; the only float ops are divisions and
    one sqrt per round over identical inputs. Per round: one Spark job
    (map-side-combined posexplode sum, the ``embedding_centroids``
    pattern) and an O(d) driver collect — the classic iterative-driver
    loop, never an O(n) materialization. int64 bound: per-dim sums are
    ≤ n·max|qx|·max|c| ≈ n·4·10³·2.6·10¹¹ worst-case, i.e. exhausted
    near n ≈ 10⁴ adversarial max-magnitude rows — but real embeddings
    are zero-mean, so sums grow ~√n and the 2⁶² check below is the
    honest guard; on trips, re-scale PI_XSCALE or switch the sum to
    decimal(38,0).
    """
    d_dim = EMB_DIM
    # the cached corpus: the loop re-consumes it once per round
    base = _quantized(spark, sf)
    v = [1.0 / math.sqrt(d_dim)] * d_dim
    for _ in range(PI_ITERS):
        qv = F.array(
            *[
                F.lit(math.floor(x * PI_VSCALE + 0.5)).cast("long")
                for x in v
            ]
        )
        c = F.aggregate(
            F.zip_with(F.col("qx"), qv, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rows = (
            base.select("qx", c.alias("c"))
            .select(
                F.posexplode(
                    F.transform(F.col("qx"), lambda q: q * F.col("c"))
                ).alias("pos", "t")
            )
            .groupBy("pos")
            .agg(F.sum("t").alias("s"))
            .collect()
        )
        sums = [0] * d_dim
        for r in rows:
            sums[r["pos"]] = int(r["s"])
        if max(abs(s) for s in sums) >= 2**62:
            raise OverflowError(
                "power-iteration int64 accumulator near overflow; "
                "re-scale PI_XSCALE for this corpus size"
            )
        # exact integer norm²; float conversion + sqrt round identically
        # in every IEEE engine
        nrm = math.sqrt(sum(s * s for s in sums))
        v = [float(s) / nrm for s in sums]
    return spark.createDataFrame(
        [(j, v[j]) for j in range(d_dim)], "pos int, loading double"
    )


KM_K = 8  # clusters
KM_ITERS = 2  # Lloyd update rounds (final stats on the updated model)


# trained model memo: k-means is train-once / assign-many — every
# production pipeline persists the model rather than re-running Lloyd
# per consumer. The loop costs ~3 driver-synchronized jobs whose
# dominant cost is Catalyst codegen of the K×dim assignment
# expression, so re-training per call would multiply that fixed cost
# into every dependent operator (embedding_kmeans_lloyd,
# dedup_semantic_semdedup) and every warm bench run. Deterministic
# model → memoization cannot change results; the key carries the
# module constants, so a patched KM_ITERS trains its own model
# instead of hitting the default one.
@memoized("derived")
def _kmeans_final_assign(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, dict]:
    """Shared Lloyd's loop: returns the FINAL assignment frame
    (vec_id, qx, cid, dist) plus the trained centroid dict — one
    model so ``embedding_kmeans_lloyd``, ``dedup_semantic_semdedup``
    and the streaming cell assigner can never train different ones.
    See ``embedding_kmeans_lloyd`` for the parity recipe and scale
    shape.
    """
    base = _quantized(spark, sf)
    _, (cents,) = _lloyd(base, KM_K, 1, KM_ITERS)
    best = _nearest("qx", cents)
    # the assignment is the fan-out point every consumer scans: a cache
    # the first consumer's action fills (the streaming assigner only
    # needs the centroids and never fills it)
    assigned = cached(
        base.select(
            "vec_id", "qx", best["cid"].alias("cid"), best["dist"].alias("dist")
        )
    )
    return assigned, cents


def embedding_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Mini-batch-free Lloyd's k-means over the embedding corpus — the
    canonical iterative-ML loop (cluster quality / corpus partitioning
    for IVF-style indexes), run with EXACT cross-engine parity.

    Parity recipe (the ``embedding_top_component`` template applied to
    k-means): embeddings quantize to int64 fixed-point once; every
    assignment distance is an integer Σ(qx−c)²; centroid updates
    re-quantize via one IEEE division + floor(x+0.5) per (cluster,
    dim); ties in assignment break on (dist, cid) — a total order. The
    DuckDB oracle unrolls the identical rounds.

    Scale shape: per round one Spark job (posexplode partial sums,
    map-side combined) and an O(k·d) driver collect — centroids are
    driver-state like every production k-means; the corpus is scanned,
    never collected. Seeds = k lowest vec_ids (deterministic; swap for
    k-means|| at real scale without touching the loop).
    """
    final, cents = _kmeans_final_assign(spark, sf)
    l1 = F.create_map(
        *[
            x
            for j in range(KM_K)
            for x in (F.lit(j), F.lit(sum(abs(c) for c in cents[j])))
        ]
    )
    out = (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("dist").cast("long").alias("inertia"),
        )
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_vecs",
            "inertia",
            F.element_at(l1, F.col("cid")).cast("long").alias("centroid_l1"),
        )
    )
    return out


RRF_K = 60  # standard reciprocal-rank-fusion constant
RRF_SCALE = 10**9  # fixed-point contribution scale
HYBRID_QUERY_DOC = 0  # query = document 0's embedding + the BM25 terms
HYBRID_TOP = 10
RRF_HORIZON = 1000  # fusion horizon: ranks beyond this are dropped


def hybrid_rrf_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion —
    the two-tower RAG recall stage: BM25 ranks docs for the fixed
    query terms, cosine similarity to the query document's embedding
    ranks them semantically, and RRF fuses the two lists:
    score = Σ ⌊10⁹/(K + rank)⌋ with K = 60, integer-exact so the
    fused ordering is bit-stable across engines. A doc missing from
    one list simply contributes nothing for it (the standard RRF
    treatment).

    Plan: the lexical side reuses the BM25 pipeline (one pruned
    shuffle); the semantic side is a broadcast of the single query
    vector over the embedding scan. Both candidate lists are first
    truncated to the fusion horizon (RRF_HORIZON = 1000; deeper ranks
    contribute < 0.1% of a top rank) with a sort+limit that compiles
    to TakeOrderedAndProject — per-partition top-k, no global sort —
    so the rank-assigning window runs over at most HORIZON rows, a
    constant-bounded frame at any corpus size. The oracle applies the
    identical truncation (rank ≤ horizon), so results stay bit-exact.
    """
    from .text import _bm25_scores

    lex = _bm25_scores(spark, sf)
    lex_order = [F.col("score_fp").desc(), F.col("doc_id").asc()]
    lex_top = lex.orderBy(*lex_order).limit(RRF_HORIZON)
    lex_rank = lex_top.select(
        "doc_id", F.row_number().over(W.orderBy(*lex_order)).alias("rank_lex")
    )
    em = _vectors(spark, sf)
    q = em.filter(F.col("vec_id") == HYBRID_QUERY_DOC).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    sims = _query_sims(q, em).select(F.col("neighbor_id").alias("doc_id"), "sim")
    sem_order = [F.col("sim").desc(), F.col("doc_id").asc()]
    sem_top = sims.orderBy(*sem_order).limit(RRF_HORIZON)
    sem_rank = sem_top.select(
        "doc_id", F.row_number().over(W.orderBy(*sem_order)).alias("rank_sem")
    )
    contrib = lambda rank: F.coalesce(  # noqa: E731
        F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_K) + rank)).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        lex_rank.join(sem_rank, "doc_id", "full")
        .select(
            "doc_id",
            F.col("rank_lex").cast("long").alias("rank_lex"),
            F.col("rank_sem").cast("long").alias("rank_sem"),
            (contrib(F.col("rank_lex")) + contrib(F.col("rank_sem")))
            .cast("long")
            .alias("rrf_fp"),
        )
        .orderBy(F.col("rrf_fp").desc(), F.col("doc_id").asc())
        .limit(HYBRID_TOP)
    )


QUERIES = {
    "hybrid_rrf_retrieval": hybrid_rrf_retrieval,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_topk_blocked": ann_topk_blocked,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_ivf_balance_audit": ann_ivf_balance_audit,
    "embedding_centroids": embedding_centroids,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "embedding_near_dup_lsh": embedding_near_dup_lsh,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_top_component": embedding_top_component,
    "embedding_kmeans_lloyd": embedding_kmeans_lloyd,
    "ann_index_persist_probe": ann_index_persist_probe,
    "embedding_norm_outliers": embedding_norm_outliers,
}


def _km_assign_cte(k: int, cents: str) -> str:
    """One unrolled Lloyd assignment: integer Σ(qx−c)² argmin with the
    (dist, cid) tie-break, mirroring ``embedding_kmeans_lloyd``."""
    return f"""
    assign{k} AS (
      SELECT vec_id, qx, cid, dist FROM (
        SELECT i.vec_id, i.qx, i.cid, i.dist,
               row_number() OVER (PARTITION BY i.vec_id
                                  ORDER BY i.dist, i.cid) AS rk
        FROM (
          SELECT b.vec_id, b.qx, c.cid,
                 list_sum(list_transform(list_zip(b.qx, c.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
          FROM kmbase b, {cents} c
        ) i
      ) WHERE rk = 1
    )"""


def _km_update_cte(k: int) -> str:
    """Centroid re-quantization from assign{k}: one IEEE division +
    floor(x+0.5) per (cluster, dim); empty clusters carry forward."""
    prev = "cent0f" if k == 1 else f"cent{k - 1}f"
    return f"""
    cent{k} AS (
      SELECT g.cid,
             list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
                  AS BIGINT) ORDER BY pos) AS c
      FROM (
        SELECT a.cid, u.pos, SUM(a.qx[u.pos + 1]) AS s, COUNT(*) AS n
        FROM assign{k} a, (SELECT unnest(range({EMB_DIM})) AS pos) u
        GROUP BY a.cid, u.pos
      ) g GROUP BY g.cid
    ),
    cent{k}f AS (
      SELECT p.cid, coalesce(c.c, p.c) AS c
      FROM {prev} p LEFT JOIN cent{k} c USING (cid)
    )"""


_KMEANS_ORACLE = f"""
    WITH kmbase AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PI_XSCALE} + 0.5)
                    AS BIGINT)) AS qx
      FROM embeddings
    ),
    cent0f AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qx AS c
      FROM kmbase ORDER BY vec_id LIMIT {KM_K}
    ),{_km_assign_cte(1, "cent0f")},{_km_update_cte(1)},{
        _km_assign_cte(2, "cent1f")},{_km_update_cte(2)},{
        _km_assign_cte(3, "cent2f")}
    SELECT CAST(a.cid AS INTEGER) AS cluster_id,
           COUNT(*) AS n_vecs,
           CAST(SUM(a.dist) AS BIGINT) AS inertia,
           CAST(any_value(l.l1) AS BIGINT) AS centroid_l1
    FROM assign3 a
    JOIN (SELECT cid, list_sum(list_transform(c, x -> abs(x))) AS l1
          FROM cent2f) l ON l.cid = a.cid
    GROUP BY a.cid
"""


def _pi_iter_cte(k: int, qv_src: str) -> str:
    """One unrolled power-iteration round of the DuckDB oracle —
    integer-exact mirror of the Spark/driver loop in
    ``embedding_top_component``."""
    return f"""
    c{k} AS (
      SELECT b.qx,
             list_sum(list_transform(list_zip(b.qx, q.qv),
                      p -> p[1] * p[2])) AS c
      FROM pibase b, ({qv_src}) q
    ),
    s{k} AS (
      SELECT u.pos AS pos, SUM(r.qx[u.pos + 1] * r.c) AS s
      FROM c{k} r, (SELECT unnest(range({EMB_DIM})) AS pos) u
      GROUP BY u.pos
    ),
    n{k} AS (SELECT sqrt(CAST(SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
                          AS DOUBLE)) AS nrm FROM s{k}),
    v{k} AS (SELECT list(CAST(s AS DOUBLE) / (SELECT nrm FROM n{k})
                         ORDER BY pos) AS v FROM s{k})"""


# initial iterate quantized exactly like the Spark loop's round 1:
# floor(1/sqrt(d)·PI_VSCALE + 0.5) — computed from EMB_DIM so a
# dimension change can't silently decouple the two sides
_PI_QV0_VAL = math.floor(1.0 / math.sqrt(EMB_DIM) * PI_VSCALE + 0.5)
_PI_QV0 = (
    f"SELECT list_transform(range({EMB_DIM}), "
    f"i -> CAST({_PI_QV0_VAL} AS BIGINT)) AS qv"
)


def _pi_qv(k: int) -> str:
    return (
        f"SELECT list_transform(v, x -> CAST(floor(x * {PI_VSCALE} + 0.5) "
        f"AS BIGINT)) AS qv FROM v{k}"
    )


_TOP_COMPONENT_ORACLE = f"""
    WITH pibase AS (
      SELECT list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {PI_XSCALE} + 0.5)
                  AS BIGINT)) AS qx
      FROM embeddings
    ),{_pi_iter_cte(1, _PI_QV0)},{_pi_iter_cte(2, _pi_qv(1))},{
        _pi_iter_cte(3, _pi_qv(2))}
    SELECT CAST(u.pos AS INTEGER) AS pos, v.v[u.pos + 1] AS loading
    FROM v3 v, (SELECT unnest(range({EMB_DIM})) AS pos) u
"""

_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_DOT.format(a='q.qe', b='e.embedding')}
               / ({_NORM.format(a='q.qe')} * {_NORM.format(a='e.embedding')}), 6) AS sim
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
"""

# full-pipeline oracle for the LSH variant: identical sketch (integer
# arithmetic, md5-derived ±1 matrix), identical banding, identical
# candidate join, identical verification formula.

# procedure-replicating IVF oracle: same codebook (first K_CELLS
# vectors), same argmax assignment, same NPROBE probe, same final top-k
# the IVF codebook + assignment CTE prefix — ONE definition shared by
# the probe oracles and the balance audit, so an assignment-rule fix
# can never diverge between them
_IVF_ASSIGN_CTES = f"""
cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings WHERE vec_id < {K_CELLS}
),
allsims AS (
  SELECT e.vec_id, c.cell_id,
         round({_DOT.format(a='e.embedding', b='c.ce')}
               / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='c.ce')}), 6) AS csim
  FROM embeddings e, cents c
),
assign AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id) AS rn
    FROM allsims
  ) WHERE rn = 1
)"""

_IVF_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
probes AS (
  SELECT vec_id AS query_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id) AS rn
    FROM allsims WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id
),
sims AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT.format(a='q.embedding', b='e.embedding')}
               / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='e.embedding')}), 6) AS sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
"""

_QUANT_ORACLE = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM v)
    SELECT vec_id, scale,
           CASE WHEN scale = 0 THEN 0.0
                ELSE list_max(list_transform(v,
                       x -> abs(x - floor(x / scale + 0.5) * scale)))
           END AS max_abs_err,
           CASE WHEN scale = 0 THEN 0
                -- coalesce: list_sum([]) is NULL in DuckDB while
                -- Spark's aggregate fold returns its 0 init — align
                -- the empty-vector edge on 0
                ELSE CAST(coalesce(list_sum(list_transform(v,
                       x -> CAST(floor(x / scale + 0.5) AS BIGINT))), 0)
                     AS BIGINT)
           END AS q_checksum
    FROM s
"""

from .text import BM25_SCORES_SQL as _BM25_SCORES_SQL  # noqa: E402

_HYBRID_ORACLE = f"""
WITH {_BM25_SCORES_SQL},
lexr AS (
  SELECT doc_id, rank_lex FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank_lex
    FROM bmscores
  ) WHERE rank_lex <= {RRF_HORIZON}
),
q AS (SELECT embedding AS qe FROM embeddings
      WHERE vec_id = {HYBRID_QUERY_DOC}),
sims AS (
  SELECT e.vec_id AS doc_id,
         round({_DOT.format(a='q.qe', b='e.embedding')}
               / ({_NORM.format(a='q.qe')} * {_NORM.format(a='e.embedding')}),
               6) AS sim
  FROM q, embeddings e WHERE e.vec_id != {HYBRID_QUERY_DOC}
),
semr AS (
  SELECT doc_id, rank_sem FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY sim DESC, doc_id) AS rank_sem
    FROM sims
  ) WHERE rank_sem <= {RRF_HORIZON}
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       CAST(l.rank_lex AS BIGINT) AS rank_lex,
       CAST(s.rank_sem AS BIGINT) AS rank_sem,
       COALESCE(CAST(floor({RRF_SCALE} / ({RRF_K} + l.rank_lex)) AS BIGINT), 0)
         + COALESCE(CAST(floor({RRF_SCALE} / ({RRF_K} + s.rank_sem))
                    AS BIGINT), 0) AS rrf_fp
FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf_fp DESC, doc_id ASC
LIMIT {HYBRID_TOP}
"""

ORACLES = {
    "hybrid_rrf_retrieval": _HYBRID_ORACLE,
    "ann_topk_bruteforce": _TOPK_ORACLE,
    "embedding_quantize_int8": _QUANT_ORACLE,
    "embedding_top_component": _TOP_COMPONENT_ORACLE,
    "embedding_kmeans_lloyd": _KMEANS_ORACLE,
    # identical procedure to the inline IVF build — persisting the
    # index can't change the answer, so the oracle is shared
    "ann_index_persist_probe": _IVF_ORACLE,
    "embedding_norm_outliers": f"""
        WITH base AS (
          SELECT vec_id, label,
                 list_sum(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5)
                        AS BIGINT)
                        * CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5)
                          AS BIGINT))) AS norm2
          FROM embeddings
        ),
        th AS (SELECT quantile_cont(norm2, 0.01) AS lo,
                      quantile_cont(norm2, 0.99) AS hi FROM base)
        SELECT label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN CAST(norm2 AS DOUBLE) < th.lo
                              OR CAST(norm2 AS DOUBLE) > th.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM base, th GROUP BY label ORDER BY label
    """,
    "ann_topk_blocked": _TOPK_ORACLE,
    "ann_topk_ivf": _IVF_ORACLE,
    "ann_ivf_balance_audit": f"""
WITH {_IVF_ASSIGN_CTES},
counts AS (
  SELECT c.cell_id AS cell,
         CAST(COUNT(a.vec_id) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN assign a ON a.cell = c.cell_id
  GROUP BY c.cell_id
),
tot AS (SELECT SUM(n_vecs) AS t FROM counts)
SELECT cell, n_vecs,
       CAST(FLOOR(1000000 * n_vecs / t) AS BIGINT) AS share_ppm,
       CAST(ROW_NUMBER() OVER (ORDER BY n_vecs DESC, cell) AS BIGINT)
         AS size_rank
FROM counts, tot ORDER BY cell
""",
    "embedding_centroids": f"""
        SELECT label, pos, CAST(SUM(q) AS DOUBLE) / {CENTROID_SCALE}.0
               / CAST(COUNT(*) AS DOUBLE) AS centroid_val,
               COUNT(*) AS n_vecs
        FROM (
          SELECT label,
                 unnest(list_transform(range(len(embedding)),
                        i -> CAST(i AS INT))) AS pos,
                 unnest(list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {CENTROID_SCALE})
                             AS BIGINT))) AS q
          FROM embeddings
        )
        GROUP BY label, pos
        ORDER BY label, pos
    """,
    "embedding_near_dup_pairs": f"""
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               round({_DOT.format(a='a.embedding', b='b.embedding')}
                     / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}), 6) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({_DOT.format(a='a.embedding', b='b.embedding')}
                    / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}), 6) >= 0.45
    """,
    # the router's 0.45 default is sub-LSH (lsh_geometry_for → None),
    # so the shipped plan is the exact block scan and the oracle is
    # the exact pair join — full-recall parity, not pipeline replay
    "embedding_near_dup_lsh": f"""
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               round({_DOT.format(a='a.embedding', b='b.embedding')}
                     / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}), 6) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({_DOT.format(a='a.embedding', b='b.embedding')}
                    / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}), 6) >= 0.45
    """,
}


MRL_DIM = 16  # Matryoshka truncation length


def _topk_truncated(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force top-k over the FIRST MRL_DIM dimensions only —
    the short-vector retrieval a Matryoshka-embedding deployment runs
    for cheap first-stage recall. Same kernel as the full-dimension
    baseline (_topk_cosine), differing only in the projection."""
    return _topk_cosine(spark, sf, lambda e: F.slice(e, 1, MRL_DIM))


def ann_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation eval: recall@k of 16-dim-prefix retrieval
    against the full-dimension exact top-k — the measurement that
    decides how far an MRL embedding can be truncated before recall
    collapses (the modern cost/quality dial for 100 TB vector
    corpora: a 4x-shorter prefix is 4x less scan + memory).
    Composes two oracle-exact operators; the eval adds only
    query-set-sized work (ann_recall_eval shape).
    """
    truth = ann_topk_bruteforce(spark, sf).select(
        F.col("query_id").alias("q"), F.col("neighbor_id").alias("exact_id")
    )
    short = _topk_truncated(spark, sf).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("approx_id")
    )
    joined = truth.join(
        short,
        (F.col("q") == F.col("aq"))
        & (F.col("exact_id") == F.col("approx_id")),
        "left",
    )
    return (
        joined.groupBy("q")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.col("approx_id").isNotNull().cast("long"))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            F.col("q").alias("query_id"),
            "n_exact",
            "n_hits",
            F.floor(F.col("n_hits") * F.lit(1_000_000) / F.col("n_exact"))
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


_TRUNC_TOPK_ORACLE = f"""
WITH tq AS (SELECT vec_id AS query_id, embedding[1:{MRL_DIM}] AS qe
            FROM embeddings WHERE vec_id < {N_QUERIES}),
tsims AS (
  SELECT tq.query_id, e.vec_id AS neighbor_id,
         round({_DOT.format(a='tq.qe', b=f'e.embedding[1:{MRL_DIM}]')}
               / ({_NORM.format(a='tq.qe')}
                  * {_NORM.format(a=f'e.embedding[1:{MRL_DIM}]')}), 6) AS sim
  FROM tq JOIN embeddings e ON e.vec_id != tq.query_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM tsims
  ) WHERE rank <= {TOP_K}
),
truth AS (SELECT query_id, neighbor_id FROM ({_TOPK_ORACLE}))
SELECT t.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hits,
       CAST(floor(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 1000000 / COUNT(*)) AS BIGINT) AS recall_ppm
FROM truth t LEFT JOIN short s
  ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
GROUP BY t.query_id ORDER BY t.query_id
"""

QUERIES["ann_matryoshka_recall"] = ann_matryoshka_recall
ORACLES["ann_matryoshka_recall"] = _TRUNC_TOPK_ORACLE


IVF_NEW_MOD, IVF_NEW_RES = 10, 3  # "today's batch" = vec_id % 10 == 3


def ann_incremental_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental index maintenance: assign a NEW vector batch to the
    EXISTING IVF cells without touching the index — the ingest-time
    shape (dedup_incremental_minhash's ANN twin). The codebook is
    built from the OLD corpus only (first K_CELLS old vectors, the
    deterministic rule _ivf_build uses), every vector gets its cell
    from the same parity-exact kernel (_cell_sim_matrix + argmax, ==
    the SQL round-6 + row_number tie-break), and the output is the
    per-cell occupancy profile old-vs-new plus the new share in ppm —
    the drift signal that tells an operator when the codebook needs
    retraining.

    Plan: a K_CELLS-row driver collect for the codebook (O(k·d)),
    then ONE narrow Arrow pass assigns all vectors — no shuffle until
    the cells-sized aggregate.
    """
    import numpy as np

    em = _vectors(spark, sf)
    old_first = (
        em.filter(F.pmod(F.col("vec_id"), IVF_NEW_MOD) != IVF_NEW_RES)
        .orderBy("vec_id")
        .limit(K_CELLS)
        .collect()
    )
    cent_ids = np.array([r["vec_id"] for r in old_first], dtype=np.int64)
    cent_mat = np.array([r["vec"] for r in old_first], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cent_ids, cent_mat))
    assigned = _assign_cells(em, bc, keep_vec=False)
    is_new = (F.pmod(F.col("vec_id"), IVF_NEW_MOD) == IVF_NEW_RES).cast(
        "long"
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(is_new).cast("long").alias("n_new"),
        )
        .select(
            "cell",
            (F.col("n_total") - F.col("n_new")).alias("n_old"),
            "n_new",
            F.floor(F.col("n_new") * F.lit(1_000_000) / F.col("n_total"))
            .cast("long")
            .alias("new_share_ppm"),
        )
        .orderBy("cell")
    )


_INCR_ASSIGN_ORACLE = f"""
WITH oldids AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id % {IVF_NEW_MOD} != {IVF_NEW_RES}
  ORDER BY vec_id LIMIT {K_CELLS}
),
cents AS (
  SELECT e.vec_id AS cell_id, e.embedding AS ce
  FROM embeddings e JOIN oldids o ON e.vec_id = o.vec_id
),
allsims AS (
  SELECT e.vec_id, c.cell_id,
         round({_DOT.format(a='e.embedding', b='c.ce')}
               / ({_NORM.format(a='e.embedding')}
                  * {_NORM.format(a='c.ce')}), 6) AS csim
  FROM embeddings e, cents c
),
assign AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cell_id) AS rn
    FROM allsims
  ) WHERE rn = 1
)
SELECT cell,
       CAST(SUM(CASE WHEN vec_id % {IVF_NEW_MOD} != {IVF_NEW_RES}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       CAST(SUM(CASE WHEN vec_id % {IVF_NEW_MOD} = {IVF_NEW_RES}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(floor(SUM(CASE WHEN vec_id % {IVF_NEW_MOD} = {IVF_NEW_RES}
                           THEN 1 ELSE 0 END) * 1000000 / COUNT(*))
         AS BIGINT) AS new_share_ppm
FROM assign GROUP BY cell ORDER BY cell
"""

QUERIES["ann_incremental_assign"] = ann_incremental_assign
ORACLES["ann_incremental_assign"] = _INCR_ASSIGN_ORACLE


# SemDeDup similarity gate: cos ≥ 0.95 ⟺ dot>0 ∧ 400·dot² ≥ 361·n1·n2
# (0.95² = 361/400) — pure int64 cross-multiplies, no float/sqrt at
# the decision boundary. Bound check: |qx| ≤ ~2·PI_XSCALE per dim,
# dim 64 → dot ≤ ~2.6e8, 400·dot² ≤ ~2.7e19… kept safe because unit-
# norm-ish embeddings give dot ≤ ~4e6 (400·dot² ≈ 6.4e15); a corpus
# with wildly larger coordinates should re-scale PI_XSCALE exactly as
# the power-iteration guard documents.
SEMDEDUP_COS_NUM = 361
SEMDEDUP_COS_DEN = 400


def dedup_semantic_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023)-style semantic deduplication: run
    k-means over the embeddings, then WITHIN each cluster drop every
    vector that has a higher-similarity twin with a smaller id
    (cos ≥ 0.95, keep-lowest-id) — the embedding-space dedup pass
    that removes paraphrase/near-translation redundancy exact and
    MinHash dedup can't see.

    Plan shape: clustering reuses the shared Lloyd loop
    (``_kmeans_final_assign``, corpus scanned never collected, model
    memoized — train-once/assign-many); the pairwise stage is a
    CLUSTER-LOCAL blocked Gram matmul via applyInPandas — O(Σ cᵢ²)
    work, never corpus², which is exactly SemDeDup's published cost
    model (the reference implementation holds one cluster per device
    the same way): at 100 TB you raise K so clusters stay bounded
    (K ≈ corpus/10⁴) and the groups stay shuffle-balanced; no global
    window anywhere. The similarity gate is integer-exact — int64
    Gram products of the fixed-point qx vectors (bound: |qx| ≤ ~600
    per dim at this PI_XSCALE → 400·dot² ≤ ~2e17, inside int64; the
    module constant's comment carries the re-scale rule) — so the
    Arrow path and the SQL oracle agree bit-for-bit. The matmul
    replaces a zip_with/aggregate HOF pair join that spent ~3 s at
    sf0.1 on lambda evaluation for the identical arithmetic.
    """
    import numpy as np
    import pandas as pd

    final, _ = _kmeans_final_assign(spark, sf)

    def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(np.int64)
        mat = np.array(pdf["qx"].tolist(), dtype=np.int64)
        gram = mat @ mat.T
        norms = np.diag(gram).copy()
        hit = (gram > 0) & (
            SEMDEDUP_COS_DEN * gram * gram
            >= SEMDEDUP_COS_NUM * np.outer(norms, norms)
        )
        ii, jj = np.nonzero(hit)
        keep_lower = ids[ii] < ids[jj]
        removed = np.unique(ids[jj[keep_lower]])
        return pd.DataFrame(
            {"cid": np.full(len(removed), pdf["cid"].iloc[0]), "v2": removed}
        )

    dup = final.select("cid", "vec_id", "qx").groupBy("cid").applyInPandas(
        cluster_dups, schema="cid int, v2 long"
    )
    removed = dup.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_removed"),
        F.sum("v2").cast("long").alias("removed_id_sum"),
    )
    return (
        final.groupBy("cid")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .join(removed, "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_vecs",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("removed_id_sum", F.lit(0))
            .cast("long")
            .alias("removed_id_sum"),
        )
        .orderBy("cluster_id")
    )


# the trained model's final assignment as a reusable CTE prefix
# (ends at assign3) — shared by the SemDeDup oracle and the streaming
# cell-assign oracle so both replay the identical Lloyd rounds
KM_ASSIGN3_CTES = f"""
kmbase AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {PI_XSCALE} + 0.5)
                AS BIGINT)) AS qx
  FROM embeddings
),
cent0f AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qx AS c
  FROM kmbase ORDER BY vec_id LIMIT {KM_K}
),{_km_assign_cte(1, "cent0f")},{_km_update_cte(1)},{
    _km_assign_cte(2, "cent1f")},{_km_update_cte(2)},{
    _km_assign_cte(3, "cent2f")}"""

_SEMDEDUP_ORACLE = f"""
WITH {KM_ASSIGN3_CTES},
semnorm AS (
  SELECT cid, vec_id, qx,
         list_sum(list_transform(qx, x -> x * x)) AS n2
  FROM assign3
),
sempairs AS (
  SELECT a.cid, a.vec_id AS v1, b.vec_id AS v2,
         list_sum(list_transform(list_zip(a.qx, b.qx),
                  p -> p[1] * p[2])) AS dot,
         a.n2 AS n1, b.n2 AS n2b
  FROM semnorm a JOIN semnorm b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
),
semdup AS (
  SELECT DISTINCT cid, v2 FROM sempairs
  WHERE dot > 0
    AND {SEMDEDUP_COS_DEN} * dot * dot >= {SEMDEDUP_COS_NUM} * n1 * n2b
),
semrem AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_removed,
         CAST(SUM(v2) AS BIGINT) AS removed_id_sum
  FROM semdup GROUP BY cid
)
SELECT CAST(s.cid AS INTEGER) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COALESCE(any_value(r.n_removed), 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(any_value(r.removed_id_sum), 0) AS BIGINT)
         AS removed_id_sum
FROM assign3 s LEFT JOIN semrem r ON r.cid = s.cid
GROUP BY s.cid ORDER BY cluster_id
"""

QUERIES["dedup_semantic_semdedup"] = dedup_semantic_semdedup
ORACLES["dedup_semantic_semdedup"] = _SEMDEDUP_ORACLE


def dedup_cross_lingual_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-lingual semantic duplicate mining (bitext-mining lite):
    semantic near-dup pairs whose two documents carry DIFFERENT
    language tags — the translation/paraphrase redundancy that no
    lexical detector (MinHash/SimHash/n-gram) can see, rolled up per
    ordered language pair. The multilingual-corpus counterpart of
    ``dedup_semantic_semdedup``: where SemDeDup prunes within-language
    paraphrases, this surfaces the cross-language ones a mixing plan
    must budget for (or a parallel-corpus builder wants to KEEP).

    Plan: reuses ``embedding_near_dup_pairs``' blocked exact pair scan
    (already candidate-bounded), then two broadcast-sized joins onto
    the documents language column and a language-pair-keyed rollup —
    pair-set-sized work end to end. Aggregates are count/id-sum/max
    (order-insensitive, engine-exact); no float accumulation.
    """
    from ..schema import load_table

    langs = load_table(spark, sf, "documents").select("doc_id", "lang")
    pairs = embedding_near_dup_pairs(spark, sf)
    la = langs.select(
        F.col("doc_id").alias("d1"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("d2"), F.col("lang").alias("lang_b")
    )
    tagged = (
        pairs.join(la, "d1")
        .join(lb, "d2")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select(
            F.least("lang_a", "lang_b").alias("lang_lo"),
            F.greatest("lang_a", "lang_b").alias("lang_hi"),
            "d1",
            "d2",
            "sim",
        )
    )
    return (
        tagged.groupBy("lang_lo", "lang_hi")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max("sim").alias("max_sim"),
            F.sum(F.col("d1") + F.col("d2")).cast("long").alias("pair_id_sum"),
        )
        .orderBy("lang_lo", "lang_hi")
    )


QUERIES["dedup_cross_lingual_pairs"] = dedup_cross_lingual_pairs
ORACLES["dedup_cross_lingual_pairs"] = f"""
WITH pairs AS ({ORACLES["embedding_near_dup_pairs"]}),
tagged AS (
  SELECT least(da.lang, db.lang) AS lang_lo,
         greatest(da.lang, db.lang) AS lang_hi,
         p.d1, p.d2, p.sim
  FROM pairs p
  JOIN documents da ON da.doc_id = p.d1
  JOIN documents db ON db.doc_id = p.d2
  WHERE da.lang != db.lang
)
SELECT lang_lo, lang_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MAX(sim) AS max_sim,
       CAST(SUM(d1 + d2) AS BIGINT) AS pair_id_sum
FROM tagged GROUP BY lang_lo, lang_hi ORDER BY lang_lo, lang_hi
"""


# ---------------------------------------------------------------------------
# product quantization (PQ) + asymmetric-distance top-k
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # dims per subspace
PQ_CODES = 8  # codebook entries per subspace
PQ_ITERS = 2  # Lloyd rounds per subspace codebook
PQ_TOP = 10
PQ_QUERY_VEC = 0  # query = vector 0, consistent with HYBRID_QUERY_DOC


@memoized("derived")
def _pq_model(spark: SparkSession, sf: str):
    """Train PQ_M independent sub-codebooks over the quantized corpus
    (``_lloyd`` with PQ_M subspaces) and encode every vector to PQ_M
    small codes. Returns (codes, books, qrow) where codes = (vec_id,
    qx, code_0..code_{M-1}).

    Scale: training is PQ_ITERS fused aggregations over SUBDIM-wide
    slices (cheaper than one full-dim k-means); encoding is a narrow
    pass — the codebook is an O(M·K·SUBDIM) literal expression, no
    shuffle, and the 8-byte code tuple replaces the 64-float vector in
    everything downstream (the memory-bound win PQ exists for: a
    100 TB embedding corpus compresses ~32× before the distance pass).
    """
    base = _quantized(spark, sf)
    seed_rows, books = _lloyd(base, PQ_CODES, PQ_M, PQ_ITERS)
    codes = cached(
        base.select(
            "vec_id",
            "qx",
            *[c.alias(f"code_{m}") for m, c in enumerate(_codes(books))],
        )
    )
    # no eager count: the first consumer's action fills the cache — an
    # eager count here paid one extra driver-synchronized job per
    # recompute rep for work the consumer's job performs anyway (r17
    # job-floor pass).  After a bench clearCache() the memoized lazy
    # ``codes`` re-derives from parquet on the first consumer action —
    # still correct (the codebook literals are frozen in the plan), the
    # first warm rep just absorbs the encode cost the eager count used
    # to isolate.  Do NOT re-add the count.
    return codes, books, _query_row(base, seed_rows)


@memoized("derived")
def ann_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — the
    missing family member next to brute/blocked/LSH/IVF: vectors are
    stored as PQ_M = 4 one-byte codes (independent 16-dim Lloyd
    codebooks, trained with the ``embedding_kmeans_lloyd`` parity
    recipe), and a query scores a vector as Σ_m d(query_m,
    centroid[code_m]) — a lookup into an M×K distance table computed
    ONCE per query, never touching the original floats (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    The top-10 by ADC is returned alongside each winner's EXACT
    quantized distance, the re-rank / recall audit a real pipeline
    runs. Integer-exact end to end: fixed-point vectors, integer
    centroid distances, (adc, vec_id) tie-break — the DuckDB oracle
    unrolls the identical per-subspace Lloyd rounds.

    Plan: the distance table is PQ_M·PQ_CODES literals folded into a
    map expression (constant, driver-computed from the codebooks —
    O(M·K·SUBDIM), no data scan); ADC score AND exact quantized
    distance are computed in ONE narrow projection over the cached
    codes frame (64 multiply-adds per row beats a second scan +
    join-back), and the top-10 is a single TakeOrdered job.
    """
    codes, books, qrow = _pq_model(spark, sf)
    # exact distance in the SAME projection as the ADC score: 64
    # multiply-adds per row is cheaper than a second scan + join, so
    # the whole warm query is ONE TakeOrdered job over the cached
    # codes frame (previously: top-k job + join-back job).
    return (
        codes.filter(F.col("vec_id") != PQ_QUERY_VEC)
        .select(
            "vec_id",
            _adc({0: qrow}, books, F.lit(0)).alias("pq_dist"),
            F.expr(_l2_sql("qx", qrow)).alias("exact_dist"),
        )
        .orderBy(F.col("pq_dist").asc(), F.col("vec_id").asc())
        .limit(PQ_TOP)
    )


def _pq_sub_ctes(m: int, src: str = "pqbase", adc: bool = True) -> str:
    """Per-subspace unrolled Lloyd (seed → 2 rounds) + final encode,
    mirroring ``_pq_model`` for subspace ``m``. ``src`` names
    the (vec_id, qx) CTE to train on; ``adc=False`` skips the flat-PQ
    query distance table (IVF-PQ builds per-cell tables instead)."""
    lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
    s = f"_{m}"  # (SQL oracle CTE builder — unrelated to the Spark expr)
    out = f"""
    sub{s} AS (SELECT vec_id, qx[{lo}:{hi}] AS qx FROM {src}),
    cent0f{s} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qx AS c
      FROM sub{s} ORDER BY vec_id LIMIT {PQ_CODES}
    )"""
    prev = f"cent0f{s}"
    for k in range(1, PQ_ITERS + 1):
        out += f""",
    assign{k}{s} AS (
      SELECT vec_id, qx, cid, dist FROM (
        SELECT i.vec_id, i.qx, i.cid, i.dist,
               row_number() OVER (PARTITION BY i.vec_id
                                  ORDER BY i.dist, i.cid) AS rk
        FROM (
          SELECT b.vec_id, b.qx, c.cid,
                 list_sum(list_transform(list_zip(b.qx, c.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
          FROM sub{s} b, {prev} c
        ) i
      ) WHERE rk = 1
    ),
    cent{k}{s} AS (
      SELECT g.cid,
             list(CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
                  AS BIGINT) ORDER BY pos) AS c
      FROM (
        SELECT a.cid, u.pos, SUM(a.qx[u.pos + 1]) AS s, COUNT(*) AS n
        FROM assign{k}{s} a, (SELECT unnest(range({PQ_SUBDIM})) AS pos) u
        GROUP BY a.cid, u.pos
      ) g GROUP BY g.cid
    ),
    cent{k}f{s} AS (
      SELECT p.cid, coalesce(c.c, p.c) AS c
      FROM {prev.replace('cent0f', 'cent0f')} p LEFT JOIN cent{k}{s} c USING (cid)
    )"""
        prev = f"cent{k}f{s}"
    out += f""",
    code{s} AS (
      SELECT vec_id, cid AS code, dist FROM (
        SELECT i.vec_id, i.cid, i.dist,
               row_number() OVER (PARTITION BY i.vec_id
                                  ORDER BY i.dist, i.cid) AS rk
        FROM (
          SELECT b.vec_id, c.cid,
                 list_sum(list_transform(list_zip(b.qx, c.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
          FROM sub{s} b, {prev} c
        ) i
      ) WHERE rk = 1
    )"""
    if adc:
        out += f""",
    adc{s} AS (
      SELECT c.cid,
             list_sum(list_transform(list_zip(q.qx, c.c),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      FROM {prev} c,
           (SELECT qx FROM sub{s} WHERE vec_id = {PQ_QUERY_VEC}) q
    )"""
    return out


_PQ_ORACLE = f"""
    WITH pqbase AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PI_XSCALE} + 0.5)
                    AS BIGINT)) AS qx
      FROM embeddings
    ),{",".join(_pq_sub_ctes(m) for m in range(PQ_M))},
    scored AS (
      SELECT c0.vec_id,
             {" + ".join(f"a{m}.d" for m in range(PQ_M))} AS pq_dist
      FROM code_0 c0
      {" ".join(f"JOIN code_{m} c{m} ON c{m}.vec_id = c0.vec_id" for m in range(1, PQ_M))}
      {" ".join(f"JOIN adc_{m} a{m} ON a{m}.cid = c{m}.code" for m in range(PQ_M))}
      WHERE c0.vec_id != {PQ_QUERY_VEC}
    ),
    top AS (
      SELECT vec_id, pq_dist FROM scored
      ORDER BY pq_dist ASC, vec_id ASC LIMIT {PQ_TOP}
    )
    SELECT t.vec_id, CAST(t.pq_dist AS BIGINT) AS pq_dist,
           CAST(list_sum(list_transform(list_zip(b.qx, q.qx),
                p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS exact_dist
    FROM top t
    JOIN pqbase b ON b.vec_id = t.vec_id
    CROSS JOIN (SELECT qx FROM pqbase WHERE vec_id = {PQ_QUERY_VEC}) q
    ORDER BY t.pq_dist ASC, t.vec_id ASC
"""

QUERIES["ann_pq_adc_topk"] = ann_pq_adc_topk
ORACLES["ann_pq_adc_topk"] = _PQ_ORACLE


NPROBE_CURVE = (1, 2, 4, 8, 16)  # 16 = all cells → recall must hit 10⁶


def ann_ivf_nprobe_curve(spark: SparkSession, sf: str) -> DataFrame:
    """The IVF tuning curve: recall@TOP_K against the exact
    brute-force neighbors for nprobe ∈ {1,2,4,8,16} — the
    accuracy/cost trade table every ANN deployment reads before
    picking its probe count (the last row probes ALL K_CELLS cells,
    so its recall is 10⁶ ppm by construction — a built-in sanity
    anchor).

    One probe pass computes each candidate's best probe rank; the
    per-nprobe top-k is then a filter + query-partitioned rank over
    the SAME scored pairs (no re-scan per sweep point). Candidates and
    ground truth reuse the deterministic first-K_CELLS codebook, so
    the oracle replays the identical procedure; recall is integer ppm.

    Scale: the probe join stays cell-keyed; the sweep multiplies only
    the candidate-set-sized rank pass, not the corpus work.
    """
    em, corpus, cent_ids, cent_mat = _ivf_build(spark, sf)
    q_rows = _query_rows(em)
    probes = _probe_cells(spark, q_rows, cent_ids, cent_mat, len(cent_ids))
    scored = (
        _query_sims(probes, corpus, "probe_rank", on="cell")
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe_rank").alias("mpr"), F.first("sim", True).alias("sim"))
    )
    # memoized: the recall-curve plan fans out over this bounded
    # (queries × probed candidates) frame once per nprobe point; the
    # memo keeps ONE resident copy per session instead of leaking a
    # fresh instance-keyed checkpoint per call (see checkpoints.py)
    scored = memo_local_checkpoint(scored, eager=False)
    # the brute side excludes EVERY query id from the corpus, not
    # just the query itself (the oracle's truth set)
    queries = spark.createDataFrame(
        [(r["vec_id"], list(r["vec"])) for r in q_rows],
        "query_id long, qvec array<double>",
    )
    brute = _query_sims(queries, em.filter(F.col("vec_id") >= N_QUERIES))
    btop = _top_ranked(brute, TOP_K).select("query_id", "neighbor_id")
    out = None
    for np_ in NPROBE_CURVE:
        itop = _top_ranked(scored.filter(F.col("mpr") <= np_), TOP_K).select(
            "query_id", "neighbor_id"
        )
        hits = itop.join(btop, ["query_id", "neighbor_id"]).agg(
            F.count("*").cast("long").alias("n_hits")
        )
        part = hits.select(
            F.lit(np_).cast("long").alias("nprobe"),
            "n_hits",
            (F.col("n_hits") * 1_000_000 / (TOP_K * N_QUERIES))
            .cast("long")
            .alias("recall_ppm"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("nprobe")


def _nprobe_cte(np_: int) -> str:
    return f"""
ivf{np_} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored WHERE mpr <= {np_}
  ) WHERE rank <= {TOP_K}
)"""


ORACLES["ann_ivf_nprobe_curve"] = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS ce FROM embeddings
  WHERE vec_id < {K_CELLS}
),
allsims AS (
  SELECT e.vec_id, c.cell_id,
         round({_DOT.format(a='e.embedding', b='c.ce')}
               / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='c.ce')}), 6) AS csim
  FROM embeddings e, cents c
),
assign AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id) AS rn
    FROM allsims
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell_id AS cell, rn AS probe_rank FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell_id) AS rn
    FROM allsims WHERE vec_id < {N_QUERIES}
  )
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, MIN(p.probe_rank) AS mpr,
         any_value(round({_DOT.format(a='q.embedding', b='e.embedding')}
               / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='e.embedding')}), 6)) AS sim
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  GROUP BY p.query_id, a.vec_id
),
brute AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id FROM (
    SELECT q.vec_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             round({_DOT.format(a='q.embedding', b='e.embedding')}
               / ({_NORM.format(a='q.embedding')} * {_NORM.format(a='e.embedding')}), 6) DESC,
             e.vec_id) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q,
         (SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}) e
  ) q(vec_id, vec_id_1, rank)
  JOIN embeddings e ON e.vec_id = q.vec_id_1
  JOIN embeddings qq ON qq.vec_id = q.vec_id
  WHERE q.rank <= {TOP_K}
),
{",".join(_nprobe_cte(n) for n in NPROBE_CURVE)}
{" UNION ALL ".join(
    f'''SELECT CAST({n} AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(*) * 1000000 // {TOP_K * N_QUERIES} AS BIGINT)
             AS recall_ppm
    FROM ivf{n} i JOIN brute b
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id'''
    for n in NPROBE_CURVE)}
ORDER BY nprobe
"""
QUERIES["ann_ivf_nprobe_curve"] = ann_ivf_nprobe_curve


DIM_VAR_BOTTOM = 8  # lowest-variance dimensions reported


def embedding_dim_variance(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-dimension screen: per-dimension variance of the embedding
    corpus, lowest-N reported — the design input for PQ subspace
    splits and Matryoshka truncation (a dimension carrying no variance
    wastes a codebook slot; a handful of dominant ones argue for OPQ
    rotation). Variance in exact fixed-point: coordinates quantize to
    int64 (the ``embedding_kmeans_lloyd`` recipe), variance numerator
    n·Σq² − (Σq)² stays integral in DECIMAL(38), and the only float is
    the audited per-dimension variance display (two casts + one
    division + one subtraction, identical in the oracle).

    Plan: one posexplode → 64-key aggregate (map-side combined ints);
    the bottom-N is a TakeOrdered over a dimension-sized frame.
    """
    base = load_table(spark, sf, "embeddings").select(
        F.posexplode(fixed_point(F.col("embedding"))).alias("dim", "q")
    )
    agg = base.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    var_num = F.col("n").cast("decimal(38,0)") * F.col("sqq") - F.col(
        "sq"
    ).cast("decimal(38,0)") * F.col("sq")
    variance = var_num.cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return (
        agg.select(
            F.col("dim").cast("long").alias("dim"),
            "n",
            # milli-variance as BIGINT (variance ≤ coordinate-range²,
            # corpus-size-independent — DECIMAL isn't driver-hashable)
            F.floor(variance * F.lit(1000.0)).cast("long").alias("var_milli"),
            variance.alias("variance_fp"),
            var_num.alias("_vn"),
        )
        .orderBy(F.col("_vn").asc(), F.col("dim").asc())
        .limit(DIM_VAR_BOTTOM)
        .drop("_vn")
    )


QUERIES["embedding_dim_variance"] = embedding_dim_variance
ORACLES["embedding_dim_variance"] = f"""
WITH q AS (
  SELECT i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {PI_XSCALE} + 0.5)
              AS BIGINT) AS q
  FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS t(i)
),
agg AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sqq
  FROM q GROUP BY dim
)
SELECT dim, n, var_milli, variance_fp FROM (
  SELECT CAST(dim AS BIGINT) AS dim, n,
         CAST(floor(CAST(CAST(n AS DECIMAL(38,0)) * sqq
              - CAST(sq AS DECIMAL(38,0)) * sq AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000) AS BIGINT)
           AS var_milli,
         CAST(CAST(n AS DECIMAL(38,0)) * sqq
              - CAST(sq AS DECIMAL(38,0)) * sq AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS variance_fp,
         CAST(n AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0)) * sq
           AS vn
  FROM agg
  ORDER BY vn ASC, dim ASC LIMIT {DIM_VAR_BOTTOM}
)
"""


# -- cosine radius (range) search ------------------------------------
RADIUS_T = 0.30  # cosine radius for the range search


def ann_radius_count(spark: SparkSession, sf: str) -> DataFrame:
    """Range (radius) search: per query, how many corpus vectors sit
    within cosine ≥ RADIUS_T, plus the nearest similarity — the
    density probe behind "find everything similar enough" retrieval
    (dedup radius tuning, coverage analysis), complementing the top-k
    family which fixes k instead of the radius.

    Plan: queries broadcast (bounded by N_QUERIES), corpus streams
    through executors once; the aggregate is map-side-combined per
    query so only N_QUERIES partials shuffle. Same round-6 cosine as
    every top-k operator (``_query_sims``), so FP association cannot
    flip a threshold decision. At 100 TB the same plan holds — it is
    one narrow pass; an IVF variant would prune cells whose centroid
    bound caps the radius, but the exact pass is already linear.
    """
    em = _vectors(spark, sf)
    return (
        _query_sims(_query_set(em), em)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("sim") >= RADIUS_T).cast("long"))
            .cast("long")
            .alias("n_within"),
            F.max("sim").alias("max_sim"),
        )
        .orderBy("query_id")
    )


QUERIES["ann_radius_count"] = ann_radius_count
ORACLES["ann_radius_count"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT q.query_id,
         round({_DOT.format(a='q.qe', b='e.embedding')}
               / ({_NORM.format(a='q.qe')} * {_NORM.format(a='e.embedding')}),
               6) AS sim
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
SELECT query_id,
       CAST(SUM(CASE WHEN sim >= {RADIUS_T} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within,
       MAX(sim) AS max_sim
FROM sims GROUP BY query_id ORDER BY query_id
"""


# -- kNN label-agreement eval ----------------------------------------
KNN_K = 5  # neighbors voting in the label eval


def embedding_knn_label_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-quality eval: leave-one-out kNN label agreement — for
    EVERY vector, take its KNN_K nearest neighbors (round-6 cosine,
    neighbor-id tie-break), majority-vote their labels (count desc,
    label asc on ties), and score agreement with the vector's own
    label per class. The standard "do embeddings respect the taxonomy"
    probe run before trusting vectors for clustering or dedup.

    Plan (the all-vectors kNN, not the bounded-query top-k): the
    ``_block_pair_scan`` layout ``embedding_near_dup_pairs`` runs on;
    each block-pair group computes its cosines with the bit-exact
    fold kernel (kNN keeps whole rows, so no threshold prefilter
    applies) and emits at most KNN_K candidates per vector per group,
    so the downstream per-vector window ranks ≤ KNN_K·N_BLOCKS rows
    per vector — partitioned by vec_id, never global. Per-task memory
    is two blocks; nothing collects.
    """
    import numpy as np

    def block_knn(ids_a, mat_a, ids_b, mat_b, same: bool):
        out_q, out_n, out_s = [], [], []

        def emit(ids_a, mat_a, ids_b, mat_b) -> None:
            # exact kernel on ALL cross pairs (no threshold prefilter —
            # kNN needs full rows); per-vector top-K inside the group
            sims = _round_half_up(_fold_cosine(mat_a[:, None], mat_b[None]))
            if same:
                np.fill_diagonal(sims, -np.inf)
            k = min(KNN_K, sims.shape[1])
            for r in range(len(ids_a)):
                row = sims[r]
                # top-k by (sim desc, neighbor id asc)
                order = np.lexsort((ids_b, -row))[:k]
                keep = row[order] > -np.inf
                out_q.append(np.full(keep.sum(), ids_a[r]))
                out_n.append(ids_b[order][keep])
                out_s.append(row[order][keep])

        emit(ids_a, mat_a, ids_b, mat_b)
        if not same:
            emit(ids_b, mat_b, ids_a, mat_a)
        return {
            "vec_id": np.concatenate(out_q).astype("int64"),
            "neighbor_id": np.concatenate(out_n).astype("int64"),
            "sim": np.concatenate(out_s),
        }

    cand = _block_pair_scan(
        spark, sf, block_knn, "vec_id long, neighbor_id long, sim double"
    )
    topk = _top_ranked(cand, KNN_K, "rk", by="vec_id")
    labels = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    nlab = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        topk.join(nlab, "neighbor_id")
        .groupBy("vec_id", "nlabel")
        .agg(F.count("*").alias("c"))
    )
    wv = W.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("nlabel"))
    pred = (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("nlabel").alias("pred"))
    )
    scored = pred.join(labels, "vec_id")
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum((F.col("pred") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_agree"),
            F.floor(
                F.sum((F.col("pred") == F.col("label")).cast("long"))
                * F.lit(1_000_000)
                / F.count("*")
            )
            .cast("long")
            .alias("agree_ppm"),
        )
        .orderBy("label")
    )


QUERIES["embedding_knn_label_eval"] = embedding_knn_label_eval
ORACLES["embedding_knn_label_eval"] = f"""
WITH sims AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round({_DOT.format(a='a.embedding', b='b.embedding')}
               / ({_NORM.format(a='a.embedding')}
                  * {_NORM.format(a='b.embedding')}), 6) AS sim
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
),
topk AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, neighbor_id) AS rk
    FROM sims
  ) WHERE rk <= {KNN_K}
),
votes AS (
  SELECT t.vec_id, CAST(e.label AS BIGINT) AS nlabel, COUNT(*) AS c
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY t.vec_id, e.label
),
pred AS (
  SELECT vec_id, nlabel AS pred FROM (
    SELECT vec_id, nlabel,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, nlabel) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT CAST(e.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST(SUM(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS agree_ppm
FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
GROUP BY e.label ORDER BY label
"""


# -- DBSCAN-style density roles ---------------------------------------

DBSCAN_MIN_NEIGHBORS = 2  # core point: ≥ this many eps-neighbors


@memoized("derived")
def embedding_dbscan_core(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density classification of the embedding corpus at
    eps = NEAR_DUP_THRESHOLD cosine: CORE points have ≥
    DBSCAN_MIN_NEIGHBORS neighbors within eps, BORDER points are
    non-core with at least one core neighbor, the rest are NOISE.
    This is the density triage that separates "template cluster
    member" (core/border — candidates for aggressive dedup) from
    "isolated document" (noise — keep) before a semantic-dedup pass.

    Plan at 100 TB: the eps-neighbor graph IS
    ``embedding_near_dup_pairs``'s block-partitioned exact pair scan
    (per-task memory two blocks, pairs materialize only above eps —
    sparse because eps sits above the random-background cosine;
    for sub-background eps use cluster-local SemDeDup instead, same
    guidance as ``check_lsh_regime``). Everything after is
    vertex-keyed: degree aggregate, a semi-join against the core set,
    and one roll-up — all candidate-graph-sized, corpus never
    re-shuffled.
    """
    em = load_table(spark, sf, "embeddings").select("vec_id", "label")
    pairs = embedding_near_dup_pairs(spark, sf)
    # both directions from one scan of the pair table (the union-of-
    # projections shape scanned it once per branch in the degree agg
    # AND again in the border join)
    nbrs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("d1").alias("v"), F.col("d2").alias("nbr")),
                F.struct(F.col("d2").alias("v"), F.col("d1").alias("nbr")),
            )
        ).alias("ud")
    ).select("ud.v", "ud.nbr")
    # cache the degree frame too: core/border/roles each consume it,
    # and every broadcast build over an uncached deg re-scans the
    # pair cache in its own job (measured: 12 of dbscan's 16 warm
    # jobs were exactly these rescans)
    deg = cached(
        nbrs.groupBy("v")
        .agg(F.count("*").cast("long").alias("degree"))
        .coalesce(4)
    )
    core = deg.where(F.col("degree") >= DBSCAN_MIN_NEIGHBORS).select("v")
    border = (
        nbrs.join(core.withColumnRenamed("v", "nbr"), "nbr")
        .select("v")
        .distinct()
        .join(core, "v", "left_anti")
    )
    roles = (
        em.join(deg, em.vec_id == deg.v, "left")
        .join(core.select(F.col("v").alias("cv"), F.lit(1).alias("is_core")),
              em.vec_id == F.col("cv"), "left")
        .join(border.select(F.col("v").alias("bv"), F.lit(1).alias("is_border")),
              em.vec_id == F.col("bv"), "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("degree"), F.lit(0)).alias("degree"),
            F.when(F.col("is_core") == 1, "core")
            .when(F.col("is_border") == 1, "border")
            .otherwise("noise")
            .alias("role"),
        )
    )
    return roles.groupBy("role").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("degree").cast("long").alias("total_degree"),
        F.sum("vec_id").cast("long").alias("id_checksum"),
    ).orderBy("role")


QUERIES["embedding_dbscan_core"] = embedding_dbscan_core
ORACLES["embedding_dbscan_core"] = f"""
WITH pairs AS ({ORACLES["embedding_near_dup_pairs"]}),
nbrs AS (
  SELECT d1 AS v, d2 AS nbr FROM pairs
  UNION ALL SELECT d2 AS v, d1 AS nbr FROM pairs
),
deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM nbrs GROUP BY v),
core AS (SELECT v FROM deg WHERE degree >= {DBSCAN_MIN_NEIGHBORS}),
border AS (
  SELECT DISTINCT n.v FROM nbrs n JOIN core c ON n.nbr = c.v
  WHERE n.v NOT IN (SELECT v FROM core)
),
roles AS (
  SELECT e.vec_id, e.label, COALESCE(d.degree, 0) AS degree,
         CASE WHEN e.vec_id IN (SELECT v FROM core) THEN 'core'
              WHEN e.vec_id IN (SELECT v FROM border) THEN 'border'
              ELSE 'noise' END AS role
  FROM embeddings e LEFT JOIN deg d ON e.vec_id = d.v
)
SELECT role, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(degree) AS BIGINT) AS total_degree,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM roles GROUP BY role ORDER BY role
"""


# -- maximal marginal relevance re-ranking ----------------------------

MMR_POOL = 20  # relevance shortlist per query fed to the MMR stage
MMR_K = 5  # diversified picks per query
MMR_LAMBDA = 0.7  # relevance weight
MMR_MU = 0.3  # redundancy weight — an explicit literal, NOT 1-λ: the
# float 1-0.7 is 0.30000000000000004, which would diverge from the
# oracle's parsed 0.3 in the last ulp


@memoized("derived")
def ann_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998) — the standard post-ANN re-rank that trades raw
    similarity for coverage: after a relevance-only shortlist of
    MMR_POOL candidates per query, greedily pick MMR_K items, each
    maximizing λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s). Pick 1 is
    pure relevance; later scores are the MMR objective at selection
    time.

    Parity: the shortlist sims are the JVM round-6 cosines; inside the
    per-query pandas stage the pairwise sims use the bit-exact
    ``_fold_cosine`` + half-up-rounding kernel (the near-dup verifier's
    kernel, proven against the same DuckDB ``list_sum`` expressions),
    and the greedy combine 0.7·rel − 0.3·red is the identical IEEE
    expression the oracle's chained-CTE unroll evaluates — ties break
    on neighbor_id. MMR_MU is an explicit 0.3 literal (1−0.7 differs
    in the last ulp).

    Plan at 100 TB: the corpus-touching work is ONE pass (the
    shortlist, ``_query_sims`` + ``_top_ranked``); the greedy stage
    is a single applyInPandas over queries×MMR_POOL rows — per-task
    memory one pool (POOL² sims computed locally), no unrolled join
    cascade (the first cut ran MMR_K rounds of joins+windows: ~25
    shuffle stages of scheduling floor for frames of 100 rows —
    measured 14 s warm at sf0.1 vs ~1 s for this shape)."""
    import numpy as np

    em = _vectors(spark, sf)
    sims = _query_sims(_query_set(em), em, "vec")
    cand = _top_ranked(sims, MMR_POOL, "rn").drop("rn")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["sim"].to_numpy()
        mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        n = len(ids)
        psim = _round_half_up(_fold_cosine(mat[:, None], mat[None]))
        qid = int(pdf["query_id"].iloc[0])
        picked: list[int] = []
        steps, out_ids, scores = [], [], []
        for step in range(1, min(MMR_K, n) + 1):
            if step == 1:
                score = rel.copy()
            else:
                red = psim[:, picked].max(axis=1)
                score = MMR_LAMBDA * rel - MMR_MU * red
            score[picked] = -np.inf
            # argmax with (score desc, neighbor_id asc) tie-break:
            # ids are sorted only by (sim, id), so scan explicitly
            best = -1
            for i in range(n):
                if i in picked:
                    continue
                if (
                    best < 0
                    or score[i] > score[best]
                    or (score[i] == score[best] and ids[i] < ids[best])
                ):
                    best = i
            picked.append(best)
            steps.append(step)
            out_ids.append(int(ids[best]))
            scores.append(float(score[best]))
        return pd.DataFrame(
            {
                "query_id": np.full(len(steps), qid, dtype="int64"),
                "step": np.array(steps, dtype="int64"),
                "neighbor_id": np.array(out_ids, dtype="int64"),
                "score": np.array(scores, dtype="float64"),
            }
        )

    out = cand.groupBy("query_id").applyInPandas(
        greedy, schema="query_id long, step long, neighbor_id long, score double"
    )
    return out.orderBy("query_id", "step")


def _mmr_oracle() -> str:
    lam, mu = MMR_LAMBDA, MMR_MU
    cos_q = (
        f"round({_DOT.format(a='q.qe', b='e.embedding')}"
        f" / ({_NORM.format(a='q.qe')} * {_NORM.format(a='e.embedding')}), 6)"
    )
    cos_p = (
        f"round({_DOT.format(a='x1.embedding', b='x2.embedding')}"
        f" / ({_NORM.format(a='x1.embedding')} * {_NORM.format(a='x2.embedding')}), 6)"
    )
    sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {cos_q} AS sim
  FROM q, embeddings e WHERE e.vec_id != q.query_id
),
cand AS (
  SELECT query_id, neighbor_id, sim FROM (
    SELECT query_id, neighbor_id, sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY sim DESC, neighbor_id) AS rn
    FROM sims
  ) WHERE rn <= {MMR_POOL}
),
pairs AS (
  SELECT a.query_id, a.neighbor_id AS va, b.neighbor_id AS vb,
         {cos_p} AS psim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
  JOIN embeddings x1 ON x1.vec_id = a.neighbor_id
  JOIN embeddings x2 ON x2.vec_id = b.neighbor_id
),
sel1 AS (
  SELECT query_id, CAST(1 AS BIGINT) AS step, neighbor_id, sim AS score
  FROM (SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand) WHERE rn = 1
),
acc1 AS (SELECT * FROM sel1)"""
    for s in range(2, MMR_K + 1):
        sql += f""",
sel{s} AS (
  SELECT query_id, CAST({s} AS BIGINT) AS step, neighbor_id, score FROM (
    SELECT c.query_id, c.neighbor_id,
           {lam} * c.sim - {mu} * m.maxsel AS score,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
             ORDER BY {lam} * c.sim - {mu} * m.maxsel DESC,
                      c.neighbor_id) AS rn
    FROM cand c
    JOIN (SELECT p.query_id, p.va, MAX(p.psim) AS maxsel
          FROM pairs p JOIN acc{s - 1} a
            ON p.query_id = a.query_id AND p.vb = a.neighbor_id
          GROUP BY p.query_id, p.va) m
      ON m.query_id = c.query_id AND m.va = c.neighbor_id
    LEFT JOIN acc{s - 1} d
      ON d.query_id = c.query_id AND d.neighbor_id = c.neighbor_id
    WHERE d.neighbor_id IS NULL
  ) WHERE rn = 1
),
acc{s} AS (SELECT * FROM acc{s - 1} UNION ALL SELECT * FROM sel{s})"""
    return sql + f"""
SELECT query_id, step, neighbor_id, score FROM acc{MMR_K}
ORDER BY query_id, step
"""


QUERIES["ann_mmr_rerank"] = ann_mmr_rerank
ORACLES["ann_mmr_rerank"] = _mmr_oracle()


# -- triplet mining: hardest negatives + hardest positive --------------

TRIPLET_NEG_K = 3  # hard negatives reported per anchor


def embedding_triplet_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative / hardest-positive TRIPLET mining — the standard
    contrastive-training data op (embedding models train on (anchor,
    positive, negative) triplets, and uniform-random negatives are too
    easy to carry gradient): per anchor, the TRIPLET_NEG_K
    most-similar DIFFERENT-label vectors (hard negatives, rank-ordered)
    joined with the LEAST-similar same-label vector's sim (the hardest
    positive), plus the triplet margin hardest_pos − neg (negative
    margin = an active triplet the loss would push on).

    Parity: the round-6 JVM cosines and (sim DESC, id) tie-break are
    the ``_query_sims``/``_top_ranked`` recipe; MIN over same-label sims is
    order-insensitive; the margin is one IEEE subtraction of two
    already-identical doubles in both engines.

    Plan at 100 TB: anchors broadcast (query-set-sized) against ONE
    corpus pass; per-anchor state after the pass is candidate-graph-
    sized (a window over anchor-keyed rows + one MIN aggregate), the
    corpus is never self-joined.  For anchor sets that outgrow the
    broadcast budget the shortlist generation swaps to the
    block-partitioned scan (``ann_topk_blocked``) or the IVF route —
    the mining semantics downstream are unchanged.
    """
    em = _vectors(spark, sf, "label")
    anchors = _query_set(em, F.col("label").alias("anchor_label"))
    sims = _query_sims(anchors, em, "anchor_label", "label")
    # ONE anchor-keyed shuffle computes both sides: the hardest-
    # positive MIN rides a plain partition window over the same rows
    # the negative ranking windows over, so the corpus is scanned
    # once and there is no join back (the first cut ran pos/neg as
    # separate branches — two corpus passes + a join on a 15-row
    # frame)
    same = F.col("label") == F.col("anchor_label")
    scored = sims.withColumn(
        "hardest_pos_sim",
        F.min(F.when(same, F.col("sim"))).over(W.partitionBy("query_id")),
    )
    # an anchor with NO same-label peer has no positive to mine a
    # triplet against — drop it (matches the oracle's inner join;
    # without this, Spark would emit its negatives with NULL
    # hardest_pos_sim while DuckDB emits nothing)
    negs = scored.filter(~same).filter(F.col("hardest_pos_sim").isNotNull())
    return (
        _top_ranked(negs, TRIPLET_NEG_K, "rn")
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("rn").cast("long").alias("neg_rank"),
            F.col("neighbor_id").alias("hard_neg_id"),
            F.col("sim").alias("neg_sim"),
            "hardest_pos_sim",
            (F.col("hardest_pos_sim") - F.col("sim")).alias("margin"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


QUERIES["embedding_triplet_mining"] = embedding_triplet_mining
_TRIP_COS = (
    f"round({_DOT.format(a='q.ae', b='e.embedding')}"
    f" / ({_NORM.format(a='q.ae')} * {_NORM.format(a='e.embedding')}), 6)"
)
ORACLES["embedding_triplet_mining"] = f"""
WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                  embedding AS ae
           FROM embeddings WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT q.anchor_id, q.anchor_label, e.vec_id AS cand_id,
         e.label AS cand_label, {_TRIP_COS} AS sim
  FROM q, embeddings e WHERE e.vec_id != q.anchor_id
),
pos AS (
  SELECT anchor_id, MIN(sim) AS hardest_pos_sim
  FROM sims WHERE cand_label = anchor_label GROUP BY anchor_id
),
negs AS (
  SELECT anchor_id, cand_id, sim,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
           ORDER BY sim DESC, cand_id) AS rn
  FROM sims WHERE cand_label != anchor_label
)
SELECT n.anchor_id, CAST(n.rn AS BIGINT) AS neg_rank,
       n.cand_id AS hard_neg_id, n.sim AS neg_sim,
       p.hardest_pos_sim, p.hardest_pos_sim - n.sim AS margin
FROM negs n JOIN pos p USING (anchor_id)
WHERE n.rn <= {TRIPLET_NEG_K}
ORDER BY anchor_id, neg_rank
"""


# -- IVF-PQ: coarse cells + residual product quantization -------------

IVFPQ_CELLS = 8  # coarse cells; production ≈ √corpus_rows
IVFPQ_NPROBE = 2  # cells probed per query


def ann_ivfpq_residual_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The full FAISS ``IVFx,PQy`` composition (Jégou et al. 2011
    §IV): a coarse quantizer routes each vector to a cell, PQ encodes
    the RESIDUAL (vector − cell centroid) — residuals concentrate near
    the origin, so the same PQ bits quantize them far more accurately
    than raw vectors — and a query probes its IVFPQ_NPROBE nearest
    cells, scoring candidates with a PER-CELL ADC table built from the
    query's residual against that cell. This is the memory layout
    every billion-scale ANN deployment runs: cells prune the scan, PQ
    codes shrink storage ~32×, and only the final top-k rejoins
    anything full-width.

    Integer-exact end to end (the module's fixed-point recipe): the
    coarse assignment is the k-means integer-L2 argmin
    (``_nearest``), residuals are integer subtractions, the residual
    PQ trains with the shared ``_lloyd`` and encodes the residual frame
    in place (cell kept, no join back), and every ADC entry is an
    exact int64 — the oracle unrolls the identical pipeline. Output: top-PQ_TOP by (per-cell ADC, vec_id)
    with the exact quantized distance for the re-rank audit.

    Plan at 100 TB: assignment + residual are one narrow pass; PQ
    training cost is unchanged from flat PQ; scoring reads ONLY the
    probed cells (partition-prune by cell at scale), the LUT is a
    driver-computed literal map of NPROBE·M·K entries, and the top-k
    is a TakeOrdered.
    """
    base = _quantized(spark, sf)
    codes, cents, books, qrow = _ivfpq_model(spark, sf)

    # probe the query's nearest cells (integer L2, (dist, cid) ties),
    # each scored with the query's residual against that cell
    probes = sorted(cents, key=lambda j: (_l2(qrow, cents[j]), j))[:IVFPQ_NPROBE]
    residuals = {
        j: [a - b for a, b in zip(qrow, cents[j])] for j in probes
    }
    top = (
        codes.filter(
            F.col("cell").isin(*probes) & (F.col("vec_id") != PQ_QUERY_VEC)
        )
        .select(
            "vec_id",
            "cell",
            _adc(residuals, books, F.col("cell")).alias("pq_dist"),
        )
        .orderBy(F.col("pq_dist").asc(), F.col("vec_id").asc())
        .limit(PQ_TOP)
    )
    exact = base.select(
        "vec_id", F.expr(_l2_sql("qx", qrow)).alias("exact_dist")
    )
    return (
        top.join(exact, "vec_id")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            "pq_dist",
            "exact_dist",
        )
        .orderBy(F.col("pq_dist").asc(), F.col("vec_id").asc())
    )


@memoized("derived")
def _ivfpq_model(spark: SparkSession, sf: str):
    """The IVF-PQ model (``ann_ivfpq_residual_topk``): coarse cells,
    the cached residual frame, residual codebooks and the codes.
    Returns (codes, cents, books, qrow)."""
    base = _quantized(spark, sf)
    # coarse cells: the first IVFPQ_CELLS vectors (zero Lloyd rounds)
    cent_rows, (cents,) = _lloyd(base, IVFPQ_CELLS, 1, 0)
    centlit = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in cents[j]) + ")"
            for j in sorted(cents)
        )
        + ")"
    )
    res = cached(
        base.select("vec_id", "qx", _nearest("qx", cents)["cid"].alias("cell"))
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                "qx",
                F.element_at(centlit, F.col("cell") + 1),
                lambda a, b: a - b,
            ).alias("qx"),
        )
    )
    _, books = _lloyd(res, PQ_CODES, PQ_M, PQ_ITERS)
    codes = cached(
        res.select(
            "vec_id",
            "cell",
            *[c.alias(f"code_{m}") for m, c in enumerate(_codes(books))],
        )
    )
    # the query row is raw: looked up among the coarse seeds, never
    # among the residual frame's
    return codes, cents, books, _query_row(base, cent_rows)


_IVFPQ_ORACLE = f"""
    WITH pqbase AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PI_XSCALE} + 0.5)
                    AS BIGINT)) AS qx
      FROM embeddings
    ),
    ccents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qx AS c
      FROM pqbase ORDER BY vec_id LIMIT {IVFPQ_CELLS}
    ),
    cassign AS (
      SELECT vec_id, qx, cid AS cell FROM (
        SELECT i.vec_id, i.qx, i.cid,
               row_number() OVER (PARTITION BY i.vec_id
                                  ORDER BY i.dist, i.cid) AS rk
        FROM (
          SELECT b.vec_id, b.qx, c.cid,
                 list_sum(list_transform(list_zip(b.qx, c.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
          FROM pqbase b, ccents c
        ) i
      ) WHERE rk = 1
    ),
    resbase AS (
      SELECT a.vec_id,
             list_transform(list_zip(a.qx, c.c), p -> p[1] - p[2]) AS qx
      FROM cassign a JOIN ccents c ON c.cid = a.cell
    ),{",".join(_pq_sub_ctes(m, src="resbase", adc=False) for m in range(PQ_M))},
    qvec AS (SELECT qx FROM pqbase WHERE vec_id = {PQ_QUERY_VEC}),
    probes AS (
      SELECT cid AS cell FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 list_sum(list_transform(list_zip(q.qx, c.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid)
                 AS rk
        FROM ccents c, qvec q
      ) WHERE rk <= {IVFPQ_NPROBE}
    ),
    qres AS (
      SELECT p.cell,
             list_transform(list_zip(q.qx, c.c), p2 -> p2[1] - p2[2])
               AS rqx
      FROM probes p JOIN ccents c ON c.cid = p.cell CROSS JOIN qvec q
    ),
    {",".join(f'''
    radc_{m} AS (
      SELECT qr.cell, c.cid,
             list_sum(list_transform(
               list_zip(qr.rqx[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}],
                        c.c),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      FROM qres qr, cent{PQ_ITERS}f_{m} c
    )''' for m in range(PQ_M))},
    scored AS (
      SELECT c0.vec_id, a.cell,
             {" + ".join(f"r{m}.d" for m in range(PQ_M))} AS pq_dist
      FROM code_0 c0
      {" ".join(f"JOIN code_{m} c{m} ON c{m}.vec_id = c0.vec_id" for m in range(1, PQ_M))}
      JOIN cassign a ON a.vec_id = c0.vec_id
      JOIN probes pr ON pr.cell = a.cell
      {" ".join(f"JOIN radc_{m} r{m} ON r{m}.cell = a.cell AND r{m}.cid = c{m}.code" for m in range(PQ_M))}
      WHERE c0.vec_id != {PQ_QUERY_VEC}
    ),
    top AS (
      SELECT vec_id, cell, pq_dist FROM scored
      ORDER BY pq_dist ASC, vec_id ASC LIMIT {PQ_TOP}
    )
    SELECT t.vec_id, CAST(t.cell AS BIGINT) AS cell,
           CAST(t.pq_dist AS BIGINT) AS pq_dist,
           CAST(list_sum(list_transform(list_zip(b.qx, q.qx),
                p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)
             AS exact_dist
    FROM top t
    JOIN pqbase b ON b.vec_id = t.vec_id
    CROSS JOIN qvec q
    ORDER BY t.pq_dist ASC, t.vec_id ASC
"""

QUERIES["ann_ivfpq_residual_topk"] = ann_ivfpq_residual_topk
ORACLES["ann_ivfpq_residual_topk"] = _IVFPQ_ORACLE


SPLIT_CELL_OFFSET = 1_000_000  # split-half cell ids: offset + seed vec_id


def ann_ivf_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index REBALANCE — the maintenance action the balance audit
    (``ann_ivf_balance_audit``) exists to trigger: take the hottest
    cell (max resident count, ties on cell id), split it in two by
    re-seeding from its own members, and re-assign ONLY that cell's
    members — the rest of the index is untouched, which is the whole
    point at 100 TB (a full retrain re-shuffles the corpus; a hot-cell
    split re-shuffles one cell).

    Deterministic procedure (replayed verbatim by the oracle): hot
    cell = argmax count (tie: lower cell id); split seeds = the two
    lowest vec_ids among its members; each member goes to the seed
    with the higher round-6 cosine (tie: lower seed id) — the same
    parity-exact kernel as the build (``_cell_sim_matrix`` argmax ==
    SQL ``csim DESC, seed_id`` row_number). Split halves get cell id
    ``SPLIT_CELL_OFFSET + seed_vec_id`` (collision-free vs the
    codebook ids, which are < K_CELLS).

    Plan shape: serve from the PERSISTED cell-partitioned index
    (``_ivf_index_on_disk`` — the same nightly artifact
    ``ann_index_persist_probe`` probes). Per-cell resident counts come
    from the index files' parquet FOOTERS (the catalog-stats path —
    exact, metadata-only, no scan job), so the ONLY Spark scans are
    the hot cell's partition (seed fetch + member re-assignment) —
    partition pruning does the "only its members" guarantee
    structurally. The 2-row seed fetch is a bounded driver collect;
    the final audit frame is K_CELLS+1 rows (the unpartitioned total
    window is whitelisted at that bound, same justification as the
    balance audit). Output is the post-rebalance audit: per cell, its
    seed, what it was split from (-1 = untouched), count, and corpus
    share in ppm.
    """
    import numpy as np

    index_dir, cent_ids, _ = _ivf_index_on_disk(spark, sf)
    corpus = spark.read.parquet(index_dir).select("vec_id", "cell", "vec")
    # per-cell resident counts from the index's parquet FOOTERS —
    # the catalog-stats path (same policy as schema.table_row_count):
    # O(cells × files) driver metadata reads, no data scan and no
    # Spark job just to pick the hot cell.  A real IVF maintenance
    # job reads these from the table format's manifest stats; the
    # counts are exact either way.  This removes the full-index
    # scan+agg job the r14 profile showed costing 0.3-0.8 s per call;
    # the only Spark scans left are the HOT partition (seed fetch +
    # member re-assignment), which is the op's structural guarantee.
    #
    # SCALE CONTRACT of the two count paths (r14 verdict #8): the
    # POSIX listdir+footer loop below is the LOCAL-DEV TWIN of the
    # production source — at 100 TB the index lives in a table format
    # whose manifests already carry exact per-partition row counts, so
    # the counts come from a metadata-only catalog read (this repo's
    # worked analog: ``snapshots.snapshot_metadata_only_count``, which
    # answers COUNT(*) from snapshot manifest stats without scanning
    # data).  The Spark-scan fallback in the ``if not n_by_cell``
    # branch exists for stores with neither POSIX listing nor manifest
    # stats; it is one map-side-combined aggregate over the index —
    # correct anywhere, and the only path that touches data.
    import os as _os

    import pyarrow.parquet as _pq

    import pyarrow as _pa

    n_by_cell: dict[int, int] = {}
    # ArrowException covers ArrowInvalid/ArrowIOError from a corrupt
    # or truncated footer — any footer-read failure (not just POSIX
    # listing errors) must take the Spark-scan fallback below rather
    # than hard-failing the rebalance
    try:
        for d in sorted(_os.listdir(index_dir)):
            if not d.startswith("cell="):
                continue
            cdir = _os.path.join(index_dir, d)
            n = sum(
                _pq.ParquetFile(_os.path.join(cdir, f)).metadata.num_rows
                for f in _os.listdir(cdir)
                if f.endswith(".parquet")
            )
            n_by_cell[int(d.split("=", 1)[1])] = n
    except (OSError, _pa.ArrowException):
        n_by_cell = {}
    if not n_by_cell:
        # fallback for index dirs the driver cannot list POSIX-style
        # (object store / HDFS deployments): one map-side-combined
        # scan over the index — the pre-r14 path.  Local runs never
        # take this branch; the footer path is its metadata-only twin.
        n_by_cell = {
            int(r["cell"]): int(r["n"])
            for r in corpus.groupBy("cell")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }
    hot = min(n_by_cell.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    seed_rows = (
        corpus.filter(F.col("cell") == hot)
        .select("vec_id", "vec")
        .orderBy("vec_id")
        .limit(2)
        .collect()
    )
    if len(seed_rows) != 2:
        # data-dependent precondition — raise explicitly (a bare
        # assert is stripped under python -O and the degenerate case
        # would fail obscurely inside numpy instead)
        raise ValueError(
            f"hot cell {hot} must have >= 2 members to split; "
            f"got {len(seed_rows)}"
        )
    seed_ids = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    seed_mat = np.array([r["vec"] for r in seed_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((seed_ids, seed_mat))
    halves = _assign_cells(
        corpus.filter(F.col("cell") == hot).select("vec_id", "vec"), bc,
        keep_vec=False,
    ).select(
        (F.col("cell") + F.lit(SPLIT_CELL_OFFSET)).alias("cell"),
        F.col("cell").alias("seed_id"),
        F.lit(int(hot)).cast("long").alias("split_from"),
    )
    # the untouched-cell audit rows are fully determined by the
    # footer-derived K_CELLS counts — build them driver-side instead
    # of joining against a counts frame, which would re-run a
    # full-index scan+agg inside the final plan (a whole extra job
    # per call; measured 2nd index scan in the r14 profile)
    # one slice AT CREATION: plain createDataFrame spreads these
    # K_CELLS-1 local rows over defaultParallelism Python partitions,
    # scheduling ~32 no-op tasks in every downstream stage (r18
    # profile: the final stage ran 33 tasks for 17 rows).  A
    # coalesce(1) on top is worse, not better — it makes ONE task
    # drain all 32 Python-worker partitions sequentially (measured
    # +4.7 s/rep).  parallelize(rows, 1) gives one Python partition.
    kept = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (int(c), int(c), -1, n_by_cell.get(int(c), 0))
                for c in cent_ids
                if int(c) != int(hot)
            ],
            1,
        ),
        "cell long, seed_id long, split_from long, n_vecs long",
    )
    split = halves.groupBy("cell", "seed_id", "split_from").agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    out = kept.unionByName(split)
    wtot = W.partitionBy()  # K_CELLS + 1 rows by construction
    return out.select(
        "cell", "seed_id", "split_from", "n_vecs",
        F.floor(
            F.lit(1_000_000) * F.col("n_vecs") / F.sum("n_vecs").over(wtot)
        ).cast("long").alias("share_ppm"),
    ).orderBy("cell")


_REBALANCE_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
counts AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY cell
),
hot AS (SELECT cell FROM counts ORDER BY n DESC, cell LIMIT 1),
seeds AS (
  SELECT e.vec_id AS seed_id, e.embedding AS se
  FROM embeddings e
  JOIN (SELECT a.vec_id FROM assign a, hot h WHERE a.cell = h.cell
        ORDER BY a.vec_id LIMIT 2) s ON e.vec_id = s.vec_id
),
subassign AS (
  SELECT vec_id, seed_id FROM (
    SELECT a.vec_id, s.seed_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
             round({_DOT.format(a='e.embedding', b='s.se')}
                   / ({_NORM.format(a='e.embedding')}
                      * {_NORM.format(a='s.se')}), 6) DESC,
             s.seed_id) AS rn
    FROM assign a
    JOIN embeddings e ON e.vec_id = a.vec_id
    CROSS JOIN seeds s
    WHERE a.cell = (SELECT cell FROM hot)
  ) WHERE rn = 1
),
split AS (
  SELECT {SPLIT_CELL_OFFSET} + seed_id AS cell, seed_id,
         (SELECT cell FROM hot) AS split_from,
         CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM subassign GROUP BY seed_id
),
kept AS (
  SELECT c.cell_id AS cell, c.cell_id AS seed_id, -1 AS split_from,
         CAST(COALESCE(n.n, 0) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN counts n ON n.cell = c.cell_id
  WHERE c.cell_id != (SELECT cell FROM hot)
),
allcells AS (SELECT * FROM kept UNION ALL SELECT * FROM split),
tot AS (SELECT SUM(n_vecs) AS t FROM allcells)
SELECT CAST(cell AS BIGINT) AS cell, CAST(seed_id AS BIGINT) AS seed_id,
       CAST(split_from AS BIGINT) AS split_from, n_vecs,
       CAST(FLOOR(1000000 * n_vecs / t) AS BIGINT) AS share_ppm
FROM allcells, tot ORDER BY cell
"""

QUERIES["ann_ivf_rebalance"] = ann_ivf_rebalance
ORACLES["ann_ivf_rebalance"] = _REBALANCE_ORACLE
