"""Deduplication operators (SURVEY §2.9 X1) over the documents fixture.

Four tiers, each with the partition strategy a 100 TB corpus needs:

- **exact** — hash-groupBy on a content fingerprint. One shuffle keyed
  by md5(text); skew-free (hashes are uniform).
- **MinHash + LSH** — shingle → k minhashes → bands → bucket-join.
  The only shuffles are keyed by (band_idx, band_val) and by shingle,
  both uniform; candidate verification touches candidate pairs only,
  never the O(n²) cross product. This is the scale path.
- **SimHash** — 32-bit signature from word hashes; Hamming-0 buckets
  group in one shuffle (banding the bits extends to Hamming-k).
- **embedding cosine** — see ``similarity.embedding_near_dup_pairs``.

Hash functions are md5-hex (identical in Spark and DuckDB), and the
k min-hashes take the lexicographic MIN of the hex strings — fully
SQL-expressible on both engines, so even the LSH pipeline has an exact
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import release_checkpoint_bucket, release_local_checkpoint
from ..plan_cache import cached, memoized, session_memo
from ..schema import load_table, table_row_count
from .text import normalized, tokens

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = 2
JACCARD_THRESHOLD = 0.5


def _spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin-spread a scan (``repartition(n)`` without columns
    is round-robin, not hash, partitioning — any even spread works
    here since downstream ops re-shuffle on their own keys) whose
    downstream work is CPU-amplified far beyond its byte size (the
    MinHash family: ~100 shingles × 2 md5 per doc ≈ 1000× compute per
    input byte), so Spark's byte-proportional split sizing doesn't
    serialize it.

    r13 event-log profile: at sf0.1 documents.parquet is 580 KB → ONE
    input split at maxPartitionBytes=4M, and the whole
    shingle→md5→min pipeline ran as back-to-back 1-task stages
    (~1.6 s of the 3.4 s wall) while 31 cores idled.  The repartition
    moves only the raw text bytes (trivial at the sizes where it
    fires) and is GATED on the scan's split count: at 100 TB the
    input has thousands of splits, the gate is false, and no
    corpus-wide shuffle is ever added."""
    from ..session import default_parallelism

    cores = default_parallelism()
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by normalized-content hash: keeper = min doc_id."""
    d = load_table(spark, sf, "documents")
    return (
        d.select("doc_id", F.md5(normalized(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_set(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    Built entirely with array higher-order functions on the token
    array — a NARROW transformation (no explode-then-window shuffle),
    so shingling scales linearly with input splits and costs zero
    network at 100 TB.
    """
    # Materialize the token array in its own projection first: lambda
    # bodies inline their argument expression, so referencing tokens()
    # directly would re-run split+filter once per element_at — O(L²)
    # per document.
    with_toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    # guard: Spark's sequence(1, 0) counts DOWN, so short docs need an
    # explicit empty index array rather than greatest()-clamping
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return with_toks.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def minhash_signatures(sh: DataFrame, k: int = N_HASHES) -> DataFrame:
    """k min-hashes per doc, as k partial-min aggregates (map-side
    combine → the shuffle carries one row per doc per map partition).

    Hash family: two md5 digests per shingle (plain + salted), each
    split into four 8-hex-char words — 8 independent 32-bit hashes
    from 2 digest computations instead of 8. Fixed-width lowercase hex
    compares lexicographically == numerically, so MIN over the hex
    words is MIN over the hash values.
    """
    assert k == 8, "hash family is fixed at 8 (2 md5 digests x 4 words)"
    hashed = sh.select(
        "doc_id",
        F.md5(F.col("shingle")).alias("m0"),
        F.md5(F.concat(F.lit("x:"), F.col("shingle"))).alias("m1"),
    )
    aggs = [
        F.min(F.substring(f"m{i // 4}", 8 * (i % 4) + 1, 8)).alias(f"h{i}")
        for i in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame, k: int = N_HASHES, bands: int = N_BANDS) -> DataFrame:
    """Fold the signature into band buckets: (doc_id, band_idx, band_val).

    band_val is a BIGINT (the first 60 bits of the band md5, via conv
    of 15 hex chars — 15 so the unsigned value always fits a signed
    int64), not the 32-char digest string: the candidate self-join
    shuffles and compares one band row per doc per band, and 8-byte
    keys hash/compare/shuffle ~4× cheaper than 32-byte strings at that
    volume — the same join-key lesson as ``dedup_simhash_hamming``.
    The oracle buckets by the same 15-char digest prefix (conv is
    bijective on fixed-width hex), so candidate sets stay identical
    in both engines even at the 2⁻⁶⁰ collision margin.
    """
    r = k // bands
    band_cols = [
        F.conv(
            F.substring(
                F.md5(F.concat(*[F.col(f"h{b * r + j}") for j in range(r)])),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        for b in range(bands)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_val"),
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) LSH band table of a shingle table."""
    return lsh_bands(minhash_signatures(sh))


# Forced-broadcast budgets for candidate-derived frames (candidate
# pairs, candidate-doc sets, their size/signature/shingle tables): all
# of them grow with the CANDIDATE volume, not the corpus — a healthy
# banding keeps candidates a sliver of the corpus at any scale, and
# the true 100 TB risk is a candidate explosion (hot bands, threshold
# in the no-prune regime — see check_lsh_regime). So the gate measures
# the candidate pair count itself: one count() on the CACHED candidate
# frame (materialized anyway by every consumer), not a corpus scan.
# Past the budget the joins fall back to shuffled equi-joins, where
# AQE still converts any side that turns out small at runtime.
CAND_BROADCAST_MAX_PAIRS = 1_000_000  # narrow id/size frames
# the candidate-doc SHINGLE set carries full shingle strings
# (~100 strings/doc), so its broadcast budget is far tighter
CAND_SHINGLE_BROADCAST_MAX_PAIRS = 100_000
# dedup_weighted_jaccard applies its candidate-shingle df prune only
# while candidate docs are under this share of the corpus (percent):
# above it the prune drops (almost) nothing and its extra distinct +
# broadcast build are pure overhead (measured +1.5 s warm at sf0.1)
WJ_PRUNE_CAND_DOC_PCT = 10


# candidate pair count per (session, cand plan) — ``by_plan`` buckets.
# The count only chooses whether the candidate consumers add a
# broadcast hint (both branches return identical rows), and the
# candidate set is deterministic for a session's source tables, so the
# count is a plan-shaping statistic like a footer row count: retained
# across resets, it runs ONCE per session instead of once per rebuilt
# plan (a bare tiny-job count still costs a full stage-scheduling
# round trip).  No release: the cand frame's cache belongs to whoever
# owns its ``cached()`` (a memoized entry, or the cached-frame memo).
_N_CAND_MEMO = session_memo("retained")


def _cand_count(cand: DataFrame) -> int:
    return _N_CAND_MEMO.by_plan(cand, cand.count)


def _bcast_if_small(
    df: DataFrame,
    n_cand: int | None,
    budget: int | None = None,
) -> DataFrame:
    """Broadcast-hint ``df`` only while the candidate pair count is
    within ``budget`` (default: the narrow-frame
    CAND_BROADCAST_MAX_PAIRS, read at CALL time so tests can lower
    it); ``n_cand=None`` keeps the hint (caller vouches for
    boundedness, e.g. per-micro-batch candidates)."""
    if budget is None:
        budget = CAND_BROADCAST_MAX_PAIRS
    if n_cand is None or n_cand <= budget:
        return F.broadcast(df)
    return df


def _jaccard_on_candidates(
    sh: DataFrame,
    cand: DataFrame,
    left: str,
    right: str,
    threshold: float | None = JACCARD_THRESHOLD,
    n_cand: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification over candidate pairs ONLY — shared by
    the corpus-wide and incremental MinHash variants so the scoring
    dataflow (and its rounding) has exactly one definition.

    Shape (r18, guide §2.3/§2.4): ONE membership broadcast — each
    candidate pair exploded into two ``(left, right, doc_id)`` rows —
    joined once against the corpus shingle table prunes non-candidate
    docs AND fans each surviving shingle row out to its pairs in the
    same pass; then a single two-level aggregation per pair yields
    both set sizes at once: ``tot`` (Σ rows = n₁+n₂) and ``u``
    (distinct shingles = |A∪B|), so ``i = tot − u`` and
    ``jaccard = i / u`` — the identical integers, hence the identical
    IEEE division, as the old ``i / (n₁+n₂−i)``.  This replaces the
    r13 shape's 3-join cascade (pair⋈s1⋈s2 + two per-doc size
    broadcasts, each build re-running the sizes aggregate): 5
    candidate-derived broadcast builds + 4 exchanges collapse to 1
    broadcast + 2 exchanges (r18 event-log profile: the n1/n2 builds
    alone cost ~0.6-0.9 s per recompute of the CC family).  At scale
    both exchanges are keyed by candidate pair — uniform, and
    candidate-volume-sized, never corpus-sized.

    The membership broadcast is gated on the candidate pair count
    (``_bcast_if_small``) when the caller passes ``n_cand``; past the
    budget it degrades to a shuffled equi-join on doc_id, which AQE
    re-balances (hot docs appearing in many pairs split fine — the
    join key is doc_id, the fan-out is join output, not input skew).
    """
    mem = cand.select(
        F.col(left),
        F.col(right),
        F.explode(F.array(left, right)).alias("doc_id"),
    )
    rows = sh.join(_bcast_if_small(mem, n_cand), "doc_id")
    # two-level aggregation: (pair, shingle) multiplicity (1 = one
    # side, 2 = shared) → per-pair totals.  Level 2 rides level 1's
    # partitioning only if keys match — they don't, so this is the 2
    # exchanges counted above.
    lvl = rows.groupBy(left, right, "shingle").agg(
        F.count("*").alias("_c")
    )
    per = lvl.groupBy(left, right).agg(
        F.sum("_c").alias("_tot"), F.count("*").alias("_u")
    )
    i = (F.col("_tot") - F.col("_u")).cast("long")
    jac = i.cast("double") / F.col("_u").cast("double")
    # the old shape's intersection join was INNER: a banded pair with
    # zero shared shingles (possible only via a hash collision) never
    # reached the scored set — keep that contract explicitly
    out = (
        per.filter(F.col("_tot") > F.col("_u"))
        .select(left, right, F.round(jac, 6).alias("jaccard"))
    )
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def _minhash_candidates(spark: SparkSession, sf: str):
    """Shared shingle table + banded candidate pairs (both cached) —
    one definition for the verified-pair op and the score histogram."""
    d = _spread_for_compute(load_table(spark, sf, "documents"))
    sh = cached(shingle_set(d))
    # cache the BAND table too (docs x N_BANDS rows, tiny): the band
    # self-join consumes it on BOTH sides, and without the cache each
    # side re-ran the whole md5 signature pipeline from the cached
    # shingles (r13 event-log profile: two concurrent ~0.4 s
    # md5-heavy stages per recompute, cpu 9 + 3 s across cores)
    bands = cached(minhash_bands(sh))
    b1 = bands.alias("a")
    b2 = bands.alias("b")
    cand = (
        b1.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # tiny; reused for the pair join AND the doc-set prune
    cand = cached(cand)
    return sh, cand


@memoized("derived")
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs via MinHash LSH + exact-Jaccard verification.

    Candidate generation is a self-join on (band_idx, band_val) —
    at scale this is the band-bucket shuffle, never an n² compare.
    Verification computes true Jaccard only on candidates
    (``_jaccard_on_candidates``).

    Prepared plan: this is the CC family's shared pipeline, built
    once per (session, sf, budget) until the next reset; its
    ``cached`` intermediates (shingles, bands, candidates, the result)
    belong to that entry and are released with it.  The candidate
    count that gates the broadcast hint is kept across resets
    (``_N_CAND_MEMO``).
    """
    sh, cand = _minhash_candidates(spark, sf)
    # cache the RESULT frame too: the pair set is near-dup-sized
    # (tiny), and consumers with the identical plan — notably
    # dedup_connected_components' edge build in the same session — hit
    # Spark's cache manager instead of re-running the whole
    # shingle→minhash→band→verify pipeline (measured 3.2→1.4 s for CC
    # at sf0.1 when the pairs were materialized by a prior call)
    return cached(
        _jaccard_on_candidates(sh, cand, "d1", "d2", n_cand=_cand_count(cand))
    )


NEW_BATCH_MOD, NEW_BATCH_RESIDUE = 10, 3  # doc_id % 10 == 3 → "today's batch"


def minhash_probe(
    sh: DataFrame, ref_bands: DataFrame, probe_bands: DataFrame, per_batch: bool = False
) -> DataFrame:
    """Verified ``(ref, probe, jaccard)`` doc pairs of a reference-index
    probe — the one dataflow behind incremental dedup and fuzzy
    decontamination, batch and streaming.  Candidates are the
    ref×probe equi-join on (band_idx, band_val) — never ref×ref or
    probe×probe work — and ``_jaccard_on_candidates`` verifies them
    against ``sh``, which holds both sides' shingles.

    A whole-set probe caches its candidates (the gate count and the
    verifier both read them) and gates the membership broadcast on
    their count.  A ``per_batch`` probe does neither: each micro-batch
    is a new plan, and batch size bounds its candidates."""
    cand = (
        ref_bands.withColumnRenamed("doc_id", "ref")
        .join(
            probe_bands.withColumnRenamed("doc_id", "probe"), ["band_idx", "band_val"]
        )
        .select("ref", "probe")
        .distinct()
    )
    n_cand = None
    if not per_batch:
        cand = cached(cand)
        n_cand = _cand_count(cand)
    return _jaccard_on_candidates(sh, cand, "ref", "probe", n_cand=n_cand)


def match_new_docs(new_docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """One row per doc of ``new_docs`` from its ``minhash_probe`` pairs
    against the old corpus: match count, best Jaccard, and the
    best-match tie-break (min old doc id among the argmax jaccard,
    deterministic in both engines) — ``stream_incremental_dedup``'s
    per-batch body, and ``dedup_incremental_minhash`` applied to the
    whole new batch."""
    from pyspark.sql import Window as W

    best_j = F.max("jaccard").over(W.partitionBy("probe"))
    agg = (
        pairs.withColumn("best_j", best_j)
        .groupBy("probe")
        .agg(
            F.count("*").alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
            F.min(
                F.when(F.col("jaccard") == F.col("best_j"), F.col("ref"))
            ).alias("best_old_id"),
        )
    )
    return (
        new_docs.select(F.col("doc_id").alias("probe"))
        .join(agg, "probe", "left")
        .select(
            F.col("probe").alias("new_doc_id"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            "best_jaccard",
            "best_old_id",
        )
    )


def dedup_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (ingest-time) near-dup check: probe a NEW batch of
    documents against the EXISTING corpus without ever comparing
    old×old — the shape a daily 100 TB ingest actually runs, where the
    corpus-wide pair join (``dedup_minhash_lsh``) would redo quadratic
    work that was already done on previous days.

    One cached corpus shingle table and one band table, split BEFORE
    the join into the old (build) and new (probe) sides of
    ``minhash_probe``; verification and scoring touch candidate docs
    only.  One row per new doc, matched or not (``match_new_docs``).
    """
    d = load_table(spark, sf, "documents")
    sh = cached(shingle_set(_spread_for_compute(d)))
    bands = minhash_bands(sh)
    is_new = (F.col("doc_id") % NEW_BATCH_MOD) == NEW_BATCH_RESIDUE
    pairs = minhash_probe(sh, bands.filter(~is_new), bands.filter(is_new))
    return match_new_docs(d.filter(is_new), pairs)


NGRAM_DF_CUTOFF = 50


def _rare_shingle_intersection(spark: SparkSession, sf: str):
    """Shared df-pruned inverted-index dataflow for the exact
    similarity family (``dedup_ngram_jaccard``, containment): rare
    shingles (df ≤ cutoff), per-doc set sizes, and per-pair
    intersection counts — ONE definition so jaccard and containment
    candidates can never desynchronize. Returns (inter, sizes)."""
    d = load_table(spark, sf, "documents")
    sh = cached(shingle_set(d))
    # hot-shingle list is tiny (only shingles shared by >cutoff docs)
    # → broadcast anti-join keeps the pruning narrow
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > NGRAM_DF_CUTOFF)
        .select("shingle")
    )
    rare = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("i"))
    )
    return inter, sizes


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (no MinHash approximation).

    Candidate generation is an inverted-index self-join on the shingle
    itself, pruned by document frequency: a shingle present in > cutoff
    docs contributes O(df²) candidate pairs while carrying no
    discriminative signal, so it is dropped before the join (the
    standard prefix-/frequency-filtering trick). This bounds per-key
    join fan-out at C(cutoff, 2) regardless of corpus size — the
    property that keeps the plan alive at 100 TB. Jaccard is computed
    over the pruned shingle sets.

    Contrast with ``dedup_minhash_lsh``: same shingles, but exact
    similarity over an inverted index instead of an LSH approximation.
    """
    inter, sizes = _rare_shingle_intersection(spark, sf)
    n1 = sizes.alias("n1")
    n2 = sizes.alias("n2")
    jac = F.round(
        F.col("i").cast("double")
        / (F.col("n1.n") + F.col("n2.n") - F.col("i")).cast("double"),
        6,
    )
    return (
        inter.join(F.broadcast(n1), F.col("n1.doc_id") == F.col("d1"))
        .join(F.broadcast(n2), F.col("n2.doc_id") == F.col("d2"))
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _simhash_signatures_core(spark: SparkSession, sf: str, bits: int) -> DataFrame:
    """w-bit SimHash per document: (doc_id, simhash bit-string).

    Signature bit b = sign of Σ_words (±1), where the ±1 is one md5
    bit of the word — engine-portable and exactly SQL-expressible.
    With ``bpn = bits/32`` signature bits per hex nibble, bit b reads
    bit ``3 - b%bpn`` (from the top) of nibble ``b//bpn``; at
    bits=128 that is simply ALL 128 digest bits in order.  Pure
    integer shift/mask on four pre-converted 32-bit words — ~10×
    cheaper per word than per-bit substring+IN string tests.
    """
    assert bits in (32, 64, 128), bits
    bpn = bits // 32  # signature bits consumed per hex nibble
    nb = 8 * bpn  # signature bits driven by each 32-bit digest word
    # same CPU-amplification gate as the shingle path: ~1 md5 per word
    # over a sub-split-sized parquet ran the whole tokenize→md5→sum
    # pipeline as ONE task (r18 profile: 755 ms of dedup_simhash's
    # 1.4 s wall, 925 ms of hamming's 1.5 s, 31 cores idle); the gate
    # is false at scale, where the input already has many splits
    d = _spread_for_compute(load_table(spark, sf, "documents"))
    words = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    digests = words.select("doc_id", F.md5("w").alias("hw"))
    # A single groupBy(doc_id) with `bits` sum() accumulators generates
    # a codegen method so large the JVM refuses to JIT it at bits=128
    # (measured 8 s vs 1 s for the same data at 64).  Instead explode
    # the digest into one row per 32-bit word and aggregate nb ≤ 32
    # narrow sums keyed on (doc_id, word_idx) — per-row codegen stays
    # small and JIT-hot at every width, the map-side partial agg
    # shrinks the shuffle to 4 rows per doc, and the final reassembly
    # groupBy(doc_id) touches only doc-count × 4 rows.
    quads = digests.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.conv(F.substring("hw", 8 * j + 1, 8), 16, 10).cast("long")
                    for j in range(4)
                ]
            )
        ).alias("j", "v"),
    )
    # global signature bit b = word b // nb, local bit i = b % nb; the
    # word-bit shift for local bit i is j-independent: bit (bpn-1-i%bpn
    # from the bottom) of nibble i//bpn
    shifts = [31 - 4 * ((i // bpn) % 8) - (i % bpn) for i in range(nb)]
    sums = quads.groupBy("doc_id", "j").agg(
        *[
            F.expr(f"sum((shiftright(v, {s}) & 1) * 2 - 1)").alias(f"s{i}")
            for i, s in enumerate(shifts)
        ]
    )
    chunk = F.concat(
        *[F.when(F.col(f"s{i}") > 0, "1").otherwise("0") for i in range(nb)]
    )
    per_word = sums.select("doc_id", "j", chunk.alias("chunk"))
    sig = per_word.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("chunk"))).alias(f"c{j}")
            for j in range(4)
        ]
    )
    return sig.select(
        "doc_id", F.concat(*[F.col(f"c{j}") for j in range(4)]).alias("simhash")
    )


def simhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash (the Hamming-0 bucketing signature)."""
    return _simhash_signatures_core(spark, sf, 32)


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """ASYMMETRIC near-dup: pairs where one document's shingle set is
    ≥80% contained in the other's — the quote-inclusion / partial-copy
    case that symmetric Jaccard MISSES (a paragraph embedded in a long
    doc has tiny Jaccard but containment ≈ 1), and that MinHash
    banding also misses because its collision probability tracks
    Jaccard. Candidates therefore come from the df-pruned inverted
    index (the ``dedup_ngram_jaccard`` scheme, fan-out bounded by the
    cutoff), and both direction-specific containments are exact.
    """
    inter, sizes = _rare_shingle_intersection(spark, sf)
    n1 = sizes.alias("n1")
    n2 = sizes.alias("n2")
    c12 = F.col("i").cast("double") / F.col("n1.n").cast("double")
    c21 = F.col("i").cast("double") / F.col("n2.n").cast("double")
    return (
        inter.join(F.broadcast(n1), F.col("n1.doc_id") == F.col("d1"))
        .join(F.broadcast(n2), F.col("n2.doc_id") == F.col("d2"))
        .select(
            "d1",
            "d2",
            c12.alias("containment_1in2"),
            c21.alias("containment_2in1"),
        )
        .filter(
            (F.col("containment_1in2") >= CONTAINMENT_THRESHOLD)
            | (F.col("containment_2in1") >= CONTAINMENT_THRESHOLD)
        )
    )


@memoized("derived")
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash Hamming-0 bucket sizes: doc_id, signature, and how many
    docs share it exactly (near-dup group size). The signature table is
    cached like the 128-bit variant's — doc-count-sized, and the
    plan-keyed cache lets repeated same-session calls skip the
    tokenize→md5→32-sum aggregation."""
    sigs = cached(simhash_signatures(spark, sf))
    # bucket size via window — one shuffle on simhash instead of a
    # groupBy + join pair
    from pyspark.sql import Window as W

    return sigs.select(
        "doc_id",
        "simhash",
        F.count("*").over(W.partitionBy("simhash")).alias("n_in_bucket"),
    )


def simhash_signatures128(spark: SparkSession, sf: str) -> DataFrame:
    """128-bit SimHash per document (the scale-path signature).

    Width history: the 32-bit/8-bit-band variant had 256 bucket
    values per band (candidates ~4n²/2⁹); 64-bit/16-bit bands gave
    65 536 buckets but natural-language bit bias still left ONE band
    bucket holding ~65% of the fixture corpus — in-bucket candidate
    pairs grow quadratically at scale.  128-bit signatures with
    32-bit bands give 2³² bucket values per band; even with biased
    bits the max observed band-bucket share drops from 65% to 0.3%
    of docs (15 of 5000 at sf0.1), so candidate generation stays
    join-shaped at 10⁹ docs.  128 bits consume the ENTIRE md5 digest
    (one signature bit per digest bit), so no second hash is needed.
    """
    return _simhash_signatures_core(spark, sf, 128)


K_HAMMING = 3
SIMHASH_BANDS = K_HAMMING + 1  # pigeonhole: d(x,y) ≤ k ⇒ ≥1 band equal
SIMHASH_BITS = 128


@memoized("derived")
def dedup_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ 3 via banded 128-bit SimHash.

    Splitting the 128-bit signature into k+1 = 4 bands of 32 bits
    makes candidate generation a band-bucket equi-join with FULL
    recall (pigeonhole: ≤3 differing bits can't touch all 4 bands),
    fixing the Hamming-0-only blind spot of ``dedup_simhash``.
    Verification XOR-popcounts candidate pairs only — never the
    O(n²) cross product.  32-bit bands mean 2³² bucket values per
    band, which bounds the hot-band bucket that made the earlier
    64-bit variant quadratic at scale (see ``simhash_signatures128``).

    The signature table is materialized once (cache): the plan
    consumes it four times (band self-join sides + both verify
    probes), and without materialization Spark re-runs the whole
    tokenize→md5→64-column aggregation per consumer (measured 4
    document scans / 0 reused exchanges). cache() beats
    localCheckpoint here because the cache is PLAN-keyed: repeated
    calls in one session (warm bench runs, dependent operators) reuse
    the materialized table instead of re-checkpointing per call.
    Every production LSH system persists signatures for the same
    reason — the table is doc-count-sized, negligible next to the
    corpus.
    """
    sigs = cached(simhash_signatures128(spark, sf))
    bw = SIMHASH_BITS // SIMHASH_BANDS
    # the candidate join carries BARE id pairs: natural-language simhash
    # bands have hot buckets (one fixture bucket holds 65% of one band's
    # docs → multi-million raw pairs), so every byte per candidate row
    # is multiplied by millions.  Signatures come back afterwards via
    # two broadcast joins against the doc-sized signature table, already
    # converted to int64 ONCE PER DOC — the previous form shuffled two
    # 32-char strings per candidate and ran conv() twice per pair.
    # band_val as a BIGINT (32-bit chunk of the signature), not the
    # 32-char bit-string: 8-byte join keys hash/compare/shuffle ~4×
    # cheaper than 32-byte strings at candidate-join volume
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"cast(conv(substring(simhash, {bw * b + 1}, {bw}), 2, 10)"
                        " as bigint)"
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(F.col("doc_id").alias("d1"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("d2"), "band_idx", "band_val")
    # NO distinct here: a pair agreeing in m bands appears m (≤4)
    # times, but deduping the candidate set costs a full shuffle of
    # the LARGEST intermediate (measured: 1.7 s to drop 2.3% of ~1M
    # pairs at sf0.1). Verification is a narrow broadcast-join +
    # popcount, so verifying the few duplicates is far cheaper; the
    # distinct moves AFTER the Hamming filter, where the data is
    # output-sized.
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
    )
    # four 32-bit words: conv('<64+ bits>', 2, 10) would overflow a
    # signed bigint cast when the sign bit is set, so the XOR-popcount
    # runs word-wise on 32-bit chunks of the 128-bit signature
    nw = SIMHASH_BITS // 32
    sigl = sigs.select(
        "doc_id",
        *[
            F.expr(f"cast(conv(substring(simhash, {32 * j + 1}, 32), 2, 10) as bigint)")
            .alias(f"w{j}")
            for j in range(nw)
        ],
    )
    s1 = sigl.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"w{j}").alias(f"x{j}") for j in range(nw)],
    )
    s2 = sigl.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"w{j}").alias(f"y{j}") for j in range(nw)],
    )
    ham = sum(
        (F.expr(f"bit_count(x{j} ^ y{j})") for j in range(1, nw)),
        F.expr("bit_count(x0 ^ y0)"),
    )
    return (
        cand.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .select("d1", "d2", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= K_HAMMING)
        .distinct()
    )


MAX_CC_ITERS = 25  # fixpoint bound; components here are tiny


def _observed_n_changed(obs, updated: DataFrame) -> int:
    """Read the round's convergence metric off its Observation.

    Pinned Spark behavior (verified on 4.1): ``Dataset.localCheckpoint
    (eager=True)`` executes under ``withAction``, which posts the
    ``SQLExecutionEnd`` event that fulfills the Observation — so by
    the time the checkpoint call above returns, the metric is already
    available and ``obs.get`` returns without blocking.  That is an
    undocumented detail of the checkpoint path, so guard it: probe the
    JVM-side ``getRowOrEmpty`` (non-blocking) first, and if a future
    Spark stops running eager checkpoints under ``withAction`` — or
    the private handle moves — fall back to an explicit filter+count
    over the materialized checkpoint (one extra tiny job per round,
    the pre-r14 cost) instead of hanging the CC loop in ``obs.get``.
    (r16 instrumented check: across loaded-host reps the probe was
    fulfilled on EVERY call — the fulfillment is synchronous with the
    checkpoint's action as pinned above, not listener-bus-delayed —
    so no wait loop is needed in front of the fallback.)
    """
    try:
        fulfilled = obs._jo is not None and obs._jo.getRowOrEmpty().isDefined()
    except Exception:
        fulfilled = False
    if fulfilled:
        return int(obs.get["n_changed"] or 0)
    return updated.filter(F.col("label") != F.col("old_label")).count()


def connected_components_over(pairs: DataFrame) -> DataFrame:
    """Connected components over an arbitrary (d1, d2) pair graph.

    Hash-to-min label propagation: labels are SEEDED with the identity
    round already applied (label₁(v) = min(v, neighbors(v)), one
    aggregation over the edge table); each following round a node
    adopts the minimum label among itself and its neighbors; fixpoint
    = components labeled by their minimum doc_id. Each round is one
    join + one shuffle keyed by node; the driver loop only checks a
    converged-count — no edge data ever collects. The fixture graph
    converges in ≤3 rounds; at 100 TB the same loop runs O(log n)
    rounds (or the published big-star/small-star variant for
    pathological chains) with per-round checkpointing to cut lineage.
    """
    # memoized per (session, pairs-plan): the converged label table is
    # consumed by FOUR operators (components / canonical / stats /
    # cohesion families) and by every warm bench repetition — without
    # the memo each call re-runs the whole loop AND leaks a fresh
    # final-round checkpoint into block-manager storage (checkpoints
    # are instance-keyed, unlike cache(); see checkpoints.py). One
    # nodes-sized resident entry per distinct pair graph, intermediate
    # rounds released as the loop advances.  The memo holds the final
    # round's CHECKPOINT frame (not a projection of it) so a reset can
    # release its blocks.
    ck = _CC_MEMO.by_plan(pairs, lambda: _converged_labels(pairs))
    return _cc_output(ck.select("node", "label"))


def _converged_labels(pairs: DataFrame) -> DataFrame:
    """The min-label propagation loop of ``connected_components_over``:
    returns the final round's checkpoint (node, old_label, label)."""
    # undirected adjacency (both directions), so every node appears as
    # d1 and isolated-after-filter nodes keep their own label via the
    # self row unioned into each round's aggregation.  Materialized
    # once: every propagation round joins against edges, and without
    # the checkpoint each round would re-run the whole MinHash
    # candidate+verify pipeline (measured 2.5× the total runtime).
    # Symmetrize via explode, NOT union(pairs, flip(pairs)): the union
    # shape evaluates the candidate+verify subtree TWICE in the eager
    # checkpoint job and doubles the checkpointed partition count,
    # which every propagation round then re-pays as task overhead
    # (r18 profile: 32 near-empty tasks per round stage for a
    # 3.5k-row edge table at sf0.1).  One scan emitting both
    # directions is strictly less work at any scale.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("d1"), F.col("d2")),
                F.struct(
                    F.col("d2").alias("d1"), F.col("d1").alias("d2")
                ),
            )
        ).alias("e")
    ).select("e.d1", "e.d2").localCheckpoint(eager=True)
    # SEED = the identity round, fused into one aggregation (r17): with
    # identity labels, round 1's neighbor-min is just min(d2) per d1,
    # so label₁(v) = least(v, min neighbor) costs ONE map-side-combined
    # shuffle over the checkpointed edges — the old identity-labels
    # checkpoint (a distinct over edges, same price as this agg) AND
    # the first full propagation round (edges⋈labels join + agg + a
    # second join, 3-4 AQE jobs) collapse into it.  Per-phase profile
    # at sf0.1 before the change: dedup_connected_components spent
    # 2.3 s / 35 driver-synchronized jobs in this eager build.
    labels = (
        edges.groupBy("d1")
        .agg(F.min("d2").alias("mn"))
        .select(
            F.col("d1").alias("node"),
            F.least(F.col("d1"), F.col("mn")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    prev_ckpt: DataFrame = labels
    for _ in range(MAX_CC_ITERS):
        # one round = ONE edges⋈labels equi-join + ONE map-side-
        # combined min aggregation.  The self row (own=true) rides the
        # union so the aggregation itself yields BOTH the new label
        # (min over self ∪ neighbors) and the old label (max of the
        # tagged self row — exactly one per node), which the old shape
        # paid a second labels⋈neighbor_min join per round to carry.
        # The convergence check rides the checkpoint's materializing
        # job as an OBSERVED metric — zero extra jobs per round (a
        # filter+count over the just-written checkpoint would pay one
        # full job-boundary round trip per round, ~0.1 s each in
        # local mode and a driver sync at any scale).
        nbr = edges.join(labels, edges.d2 == labels.node).select(
            edges.d1.alias("node"),
            F.col("label"),
            F.lit(False).alias("own"),
        )
        self_rows = labels.select(
            "node", "label", F.lit(True).alias("own")
        )
        obs = Observation()
        updated = (
            nbr.unionAll(self_rows)
            .groupBy("node")
            .agg(
                F.max(F.when(F.col("own"), F.col("label"))).alias(
                    "old_label"
                ),
                F.min("label").alias("label"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("old_label"), 1).otherwise(0)
                ).alias("n_changed"),
            )
            .localCheckpoint(eager=True)  # cut lineage each round
        )
        changed = _observed_n_changed(obs, updated)
        # this round is materialized (the observed checkpoint above) —
        # the previous round's blocks (the seed's, on round 1) are
        # dead: release them NOW so the loop holds at most 2 rounds of
        # state, not O(rounds)
        release_local_checkpoint(prev_ckpt)
        prev_ckpt = updated
        labels = updated.select("node", "label")
        if changed == 0:
            break
    else:
        # min-label propagation needs O(component diameter) rounds; a
        # silent cap-out would return WRONG cluster labels on a corpus
        # with a longer chain than the fixture's — fail loudly instead
        # (same convention as bench.py's unknown-query handling)
        raise RuntimeError(
            f"connected_components_over did not converge in "
            f"{MAX_CC_ITERS} rounds ({changed} labels still changing); "
            f"raise MAX_CC_ITERS for this corpus"
        )
    # the edge table is dead once converged; only the final round's
    # checkpoint (referenced by the returned plan) stays resident,
    # owned by the memo
    release_local_checkpoint(edges)
    # the CHECKPOINT itself, not the (node, label) projection:
    # release_local_checkpoint can only free blocks when handed the
    # frame whose analyzed plan IS the LogicalRDD
    return prev_ckpt


# no release for the keying pairs frame: its prepared plan owns it
_CC_MEMO = session_memo("derived", release=release_checkpoint_bucket)


def _cc_output(labels: DataFrame) -> DataFrame:
    from pyspark.sql import Window as W

    out = labels.select("node", F.col("label").alias("component"))
    return out.select(
        F.col("node").alias("doc_id"),
        "component",
        F.count("*").over(W.partitionBy("component")).alias("component_size"),
    )


def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the
    MinHash near-dup pair graph (see ``connected_components_over``)."""
    return connected_components_over(
        dedup_minhash_lsh(spark, sf).select("d1", "d2")
    )


def embedding_cluster_components(spark: SparkSession, sf: str) -> DataFrame:
    """SEMANTIC duplicate clusters: connected components over the
    embedding near-dup LSH pair graph — the same label-propagation
    loop as the text-shingle clusters, but edges come from cosine
    similarity, so paraphrase-level duplicates that share no shingles
    still cluster. The pair generation is the banded sketch join
    (``similarity.embedding_near_dup_lsh``), candidates-only at any
    scale."""
    from .similarity import embedding_near_dup_lsh

    pairs = embedding_near_dup_lsh(spark, sf).select("d1", "d2")
    return connected_components_over(pairs).select(
        F.col("doc_id").alias("vec_id"), "component", "component_size"
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_hamming": dedup_simhash_hamming,
    "dedup_containment_pairs": dedup_containment_pairs,
    "dedup_incremental_minhash": dedup_incremental_minhash,
}

_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"

_SHINGLES_CTE = f"""
toksrc AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks)-2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM toksrc
)
"""

# MinHash signature + banded buckets, shared by the corpus-wide and
# incremental oracles (one definition of the hash family / banding,
# mirroring minhash_signatures + lsh_bands)
_MINHASH_BANDS_CTE = """
hashes AS (
  SELECT doc_id, md5(shingle) AS m0, md5('x:' || shingle) AS m1 FROM sh
),
sig AS (
  SELECT doc_id,
         min(substring(m0,  1, 8)) AS h0, min(substring(m0,  9, 8)) AS h1,
         min(substring(m0, 17, 8)) AS h2, min(substring(m0, 25, 8)) AS h3,
         min(substring(m1,  1, 8)) AS h4, min(substring(m1,  9, 8)) AS h5,
         min(substring(m1, 17, 8)) AS h6, min(substring(m1, 25, 8)) AS h7
  FROM hashes GROUP BY doc_id
),
bands AS (
  -- 15-char digest prefix: same 60-bit bucketing as the Spark side's
  -- conv(...,16,10) BIGINT key (bijective on fixed-width hex)
  SELECT doc_id, unnest([0,1,2,3]) AS band_idx,
         unnest([substring(md5(h0||h1),1,15), substring(md5(h2||h3),1,15),
                 substring(md5(h4||h5),1,15), substring(md5(h6||h7),1,15)])
           AS band_val
  FROM sig
)
"""

_SIMHASH_SIGS_CTE = f"""
words AS (
  SELECT doc_id, md5(unnest({_TOKS})) AS hw FROM documents
),
sums AS (
  SELECT doc_id, b,
         SUM(CASE WHEN substring(hw, b+1, 1) IN ('8','9','a','b','c','d','e','f')
                  THEN 1 ELSE -1 END) AS s
  FROM words, (SELECT unnest(generate_series(0,31)) AS b) bits
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
  FROM sums GROUP BY doc_id
)
"""

# 128-bit variant: four signature bits per md5 nibble — bit b reads
# bit (3 - b%4) of nibble b//4, replaying simhash_signatures128 exactly
_SIMHASH128_SIGS_CTE = f"""
words AS (
  SELECT doc_id, md5(unnest({_TOKS})) AS hw FROM documents
),
sums AS (
  SELECT doc_id, b,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substring(hw, b // 4 + 1, 1)) - 1)
                        >> (3 - (b % 4))) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM words, (SELECT unnest(generate_series(0,127)) AS b) bits
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
  FROM sums GROUP BY doc_id
)
"""


# shared df-pruned inverted-index CTEs (SQL twin of
# _rare_shingle_intersection) — composed by the jaccard AND
# containment oracles so the two candidate definitions are one text
_RARE_INTERSECT_CTE = f"""
dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
rare AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN dfc USING (shingle) WHERE dfc.df <= {NGRAM_DF_CUTOFF}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM rare a JOIN rare b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

ORACLES = {
    "dedup_exact": """
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
               min(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        {_MINHASH_BANDS_CTE},
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b
            ON a.band_idx=b.band_idx AND a.band_val=b.band_val AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.d1, c.d2, COUNT(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id=c.d1
          JOIN sh s2 ON s2.doc_id=c.d2 AND s2.shingle=s1.shingle
          GROUP BY c.d1, c.d2
        )
        SELECT d1, d2,
               round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6) AS jaccard
        FROM inter JOIN sizes n1 ON n1.doc_id=d1 JOIN sizes n2 ON n2.doc_id=d2
        WHERE round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6) >= 0.5
    """,
    "dedup_incremental_minhash": f"""
        WITH {_SHINGLES_CTE},
        {_MINHASH_BANDS_CTE},
        cand AS (
          SELECT DISTINCT a.doc_id AS d_old, b.doc_id AS d_new
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          WHERE a.doc_id % {NEW_BATCH_MOD} != {NEW_BATCH_RESIDUE}
            AND b.doc_id % {NEW_BATCH_MOD} = {NEW_BATCH_RESIDUE}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.d_old, c.d_new, COUNT(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d_old
          JOIN sh s2 ON s2.doc_id = c.d_new AND s2.shingle = s1.shingle
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT d_old, d_new,
                 round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6)
                   AS jaccard
          FROM inter JOIN sizes n1 ON n1.doc_id = d_old
                     JOIN sizes n2 ON n2.doc_id = d_new
          WHERE round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6)
                >= 0.5
        ),
        ranked AS (
          SELECT *, MAX(jaccard) OVER (PARTITION BY d_new) AS best_j
          FROM scored
        ),
        agg AS (
          SELECT d_new, COUNT(*) AS n_matches, MAX(jaccard) AS best_jaccard,
                 MIN(CASE WHEN jaccard = best_j THEN d_old END) AS best_old_id
          FROM ranked GROUP BY d_new
        )
        SELECT doc_id AS new_doc_id,
               CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches,
               best_jaccard, best_old_id
        FROM documents LEFT JOIN agg ON d_new = doc_id
        WHERE doc_id % {NEW_BATCH_MOD} = {NEW_BATCH_RESIDUE}
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        {_RARE_INTERSECT_CTE}
        SELECT d1, d2,
               round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6) AS jaccard
        FROM inter JOIN sizes n1 ON n1.doc_id=d1 JOIN sizes n2 ON n2.doc_id=d2
        WHERE round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6) >= 0.5
    """,
    "dedup_containment_pairs": f"""
        WITH {_SHINGLES_CTE},
        {_RARE_INTERSECT_CTE}
        SELECT d1, d2,
               CAST(i AS DOUBLE) / CAST(n1.n AS DOUBLE) AS containment_1in2,
               CAST(i AS DOUBLE) / CAST(n2.n AS DOUBLE) AS containment_2in1
        FROM inter JOIN sizes n1 ON n1.doc_id = d1
                   JOIN sizes n2 ON n2.doc_id = d2
        WHERE CAST(i AS DOUBLE) / CAST(n1.n AS DOUBLE)
                >= {CONTAINMENT_THRESHOLD}
           OR CAST(i AS DOUBLE) / CAST(n2.n AS DOUBLE)
                >= {CONTAINMENT_THRESHOLD}
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_SIGS_CTE}
        SELECT doc_id, simhash,
               COUNT(*) OVER (PARTITION BY simhash) AS n_in_bucket
        FROM sigs
    """,
    "dedup_simhash_hamming": f"""
        WITH {_SIMHASH128_SIGS_CTE},
        bands AS (
          SELECT doc_id, simhash, unnest([0,1,2,3]) AS band_idx,
                 unnest([substring(simhash, 1, 32), substring(simhash, 33, 32),
                         substring(simhash, 65, 32), substring(simhash, 97, 32)]) AS band_val
          FROM sigs
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                 a.simhash AS s1, b.simhash AS s2
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
        )
        SELECT d1, d2, hamming FROM (
          SELECT d1, d2,
                 CAST(len(list_filter(generate_series(1, 128),
                      i -> substring(s1, i, 1) != substring(s2, i, 1))) AS BIGINT)
                   AS hamming
          FROM cand
        ) WHERE hamming <= 3
    """,
}

QUERIES["dedup_connected_components"] = dedup_connected_components
# the recursive closure enumerates (node, reachable-root) pairs — fine
# for the near-dup graph's tiny components; the Spark side is the
# scalable iterative form
ORACLES["dedup_connected_components"] = f"""
    WITH RECURSIVE pairs AS (
      SELECT d1, d2 FROM ({ORACLES["dedup_minhash_lsh"]})
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL
      SELECT d2, d1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS component_size
    FROM comp
"""


def dedup_cluster_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end fuzzy-dedup funnel: near-dup clusters (connected
    components over the MinHash pair graph) → keep the HIGHEST-QUALITY
    document per cluster (ties broken by min doc_id) — the keep-policy
    production dedup actually ships, vs ``dedup_keep_canonical``'s
    exact-hash min-id rule.

    Scale shape: the pair graph and labels are the (cached) CC
    dataflow; the quality join touches cluster members only and the
    argmax is a per-component window over component-sized groups —
    nothing quadratic, nothing driver-side.
    """
    from .text import text_quality_score
    from pyspark.sql import Window as W

    cc = dedup_connected_components(spark, sf)
    q = text_quality_score(spark, sf).select("doc_id", "quality_score")
    joined = cc.join(q, "doc_id")
    w = W.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("component_size").cast("long").alias("component_size"),
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("quality_score").alias("canonical_quality"),
            (F.col("component_size") - 1).cast("long").alias("n_discarded"),
        )
    )


def dedup_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster profile: how many near-dup clusters exist at
    each size, and how many documents they hold — the report that
    decides a dedup rollout (a few huge clusters vs a long tail needs
    different keep-policies). Cluster-count-sized rollup over the CC
    labels; the heavy lifting is the (cached) pair graph."""
    cc = dedup_connected_components(spark, sf)
    return (
        cc.groupBy("component_size")
        .agg(
            F.countDistinct("component").alias("n_components"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("component_size")
    )


from .text import ORACLES as _TEXT_ORACLES  # noqa: E402

QUERIES["dedup_cluster_canonical"] = dedup_cluster_canonical
# composes the CC closure with the quality replay; the argmax is the
# same (quality DESC, doc_id ASC) total order as the Spark window
ORACLES["dedup_cluster_canonical"] = f"""
    WITH cc AS ({ORACLES["dedup_connected_components"]}),
    q AS ({_TEXT_ORACLES["text_quality_score"]})
    SELECT component,
           CAST(component_size AS BIGINT) AS component_size,
           canonical_doc_id, canonical_quality,
           CAST(component_size - 1 AS BIGINT) AS n_discarded
    FROM (
      SELECT cc.component, cc.component_size, cc.doc_id AS canonical_doc_id,
             q.quality_score AS canonical_quality,
             row_number() OVER (PARTITION BY cc.component
                                ORDER BY q.quality_score DESC, cc.doc_id ASC)
               AS rk
      FROM cc JOIN q ON cc.doc_id = q.doc_id
    ) WHERE rk = 1
"""

QUERIES["dedup_cluster_stats"] = dedup_cluster_stats
ORACLES["dedup_cluster_stats"] = f"""
    WITH cc AS ({ORACLES["dedup_connected_components"]})
    SELECT component_size,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
           COUNT(*) AS n_docs
    FROM cc GROUP BY component_size ORDER BY component_size
"""


def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's 3-gram shingles
    whose FIRST corpus occurrence (min doc_id) is this doc — the
    dedup-aware curation signal that prefers documents contributing
    new content over rehashes. Inverted-index shape: one shuffle keyed
    by shingle for first-occurrence, one map-side-combined per-doc
    rollup; docs with fewer than 3 tokens have no shingles and no row
    (same in the oracle)."""
    d = load_table(spark, sf, "documents")
    sh = cached(shingle_set(d))
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


QUERIES["text_ngram_novelty"] = text_ngram_novelty
ORACLES["text_ngram_novelty"] = f"""
    WITH {_SHINGLES_CTE},
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc
               FROM sh GROUP BY shingle),
    per AS (
      SELECT s.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f USING (shingle) GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
    FROM per
"""


# semantic (embedding) duplicate clusters: same recursive closure, the
# pair source swaps to the embedding LSH oracle
from .similarity import ORACLES as _SIM_ORACLES  # noqa: E402

QUERIES["embedding_cluster_components"] = embedding_cluster_components
ORACLES["embedding_cluster_components"] = f"""
    WITH RECURSIVE pairs AS (
      SELECT d1, d2 FROM ({_SIM_ORACLES["embedding_near_dup_lsh"]})
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL
      SELECT d2, d1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, root) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node)
    SELECT node AS vec_id, component,
           COUNT(*) OVER (PARTITION BY component) AS component_size
    FROM comp
"""


def embedding_cluster_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-policy over SEMANTIC clusters: one canonical vector per
    embedding-similarity component, ranked by LARGEST integer-exact
    squared norm (information-content proxy; ties → min vec_id) — a
    real selection rule, unlike min-id, which would be a tautology
    (label propagation already labels components by min id). The
    mirror of ``dedup_cluster_canonical`` for the cosine edge set.
    """
    from pyspark.sql import Window as W

    cc = embedding_cluster_components(spark, sf)
    em = load_table(spark, sf, "embeddings")
    norm2 = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * 1000 + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    scored = cc.join(em.select("vec_id", norm2.alias("norm2")), "vec_id")
    w = W.partitionBy("component").orderBy(
        F.col("norm2").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("component_size").cast("long").alias("component_size"),
            F.col("vec_id").alias("canonical_vec_id"),
            F.col("norm2").cast("long").alias("canonical_norm2"),
            (F.col("component_size") - 1).cast("long").alias("n_discarded"),
        )
    )


QUERIES["embedding_cluster_canonical"] = embedding_cluster_canonical
ORACLES["embedding_cluster_canonical"] = f"""
    WITH ecc AS ({ORACLES["embedding_cluster_components"]}),
    nrm AS (
      SELECT vec_id,
             list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                    * CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))
               AS norm2
      FROM embeddings
    )
    SELECT component,
           CAST(component_size AS BIGINT) AS component_size,
           canonical_vec_id,
           CAST(canonical_norm2 AS BIGINT) AS canonical_norm2,
           CAST(component_size - 1 AS BIGINT) AS n_discarded
    FROM (
      SELECT e.component, e.component_size, e.vec_id AS canonical_vec_id,
             n.norm2 AS canonical_norm2,
             row_number() OVER (PARTITION BY e.component
                                ORDER BY n.norm2 DESC, e.vec_id ASC) AS rk
      FROM ecc e JOIN nrm n ON e.vec_id = n.vec_id
    ) WHERE rk = 1
"""


def dedup_lexical_semantic_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Agreement audit between the two near-dup detectors: the
    MinHash-LSH (lexical, shingle Jaccard >= 0.5) pair set vs the
    exact embedding-cosine (semantic, >= 0.45) pair set — the
    detector-vs-detector A/B a pipeline runs before deciding which
    dedup stage to trust. Output: both set sizes, the intersection,
    each side's exclusive count, and the Jaccard agreement of the two
    PAIR SETS in exact ppm.

    Plan: both generators are the already-bucketed operators (band
    join / block-pair scan); the comparison itself is one full outer
    join on (d1, d2) — pair-set-sized, tiny next to candidate
    generation — folded to a single audit row.
    """
    from .similarity import embedding_near_dup_pairs

    lex = dedup_minhash_lsh(spark, sf).select(
        "d1", "d2", F.lit(1).alias("in_lex")
    )
    sem = embedding_near_dup_pairs(spark, sf).select(
        "d1", "d2", F.lit(1).alias("in_sem")
    )
    f = lex.join(sem, ["d1", "d2"], "full").select(
        F.coalesce("in_lex", F.lit(0)).alias("in_lex"),
        F.coalesce("in_sem", F.lit(0)).alias("in_sem"),
    )
    agg = f.agg(
        F.sum("in_lex").cast("long").alias("n_lexical"),
        F.sum("in_sem").cast("long").alias("n_semantic"),
        F.sum(F.col("in_lex") * F.col("in_sem")).cast("long").alias("n_both"),
    )
    union_n = F.col("n_lexical") + F.col("n_semantic") - F.col("n_both")
    return agg.select(
        "n_lexical",
        "n_semantic",
        "n_both",
        (F.col("n_lexical") - F.col("n_both")).alias("n_lexical_only"),
        (F.col("n_semantic") - F.col("n_both")).alias("n_semantic_only"),
        F.when(
            union_n > 0, F.floor(F.col("n_both") * F.lit(1_000_000) / union_n)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("agreement_ppm"),
    )


QUERIES["dedup_lexical_semantic_eval"] = dedup_lexical_semantic_eval
ORACLES["dedup_lexical_semantic_eval"] = f"""
WITH lex AS (SELECT d1, d2 FROM ({ORACLES["dedup_minhash_lsh"]})),
sem AS (SELECT d1, d2 FROM ({_SIM_ORACLES["embedding_near_dup_pairs"]})),
f AS (
  SELECT CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
         CASE WHEN s.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_sem
  FROM lex l FULL JOIN sem s ON l.d1 = s.d1 AND l.d2 = s.d2
),
agg AS (
  SELECT CAST(SUM(in_lex) AS BIGINT) AS n_lexical,
         CAST(SUM(in_sem) AS BIGINT) AS n_semantic,
         CAST(SUM(in_lex * in_sem) AS BIGINT) AS n_both
  FROM f
)
SELECT n_lexical, n_semantic, n_both,
       n_lexical - n_both AS n_lexical_only,
       n_semantic - n_both AS n_semantic_only,
       CASE WHEN n_lexical + n_semantic - n_both > 0
            THEN CAST(floor(n_both * 1000000
                            / (n_lexical + n_semantic - n_both)) AS BIGINT)
            ELSE 0 END AS agreement_ppm
FROM agg
"""


def dedup_similarity_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Observability for dedup tuning: the Jaccard distribution of ALL
    banded candidate pairs (no threshold) in tenth-wide buckets — the
    histogram an operator inspects before moving the 0.5 cut, which
    only works if the mass BELOW the cut is visible too. Candidate-
    set-sized input (the cached band pairs + the shared verifier with
    the threshold disabled), so the histogram is nearly free.
    """
    sh, cand = _minhash_candidates(spark, sf)
    pairs = _jaccard_on_candidates(
        sh, cand, "d1", "d2", threshold=None, n_cand=_cand_count(cand)
    )
    return (
        pairs.select(
            F.floor(F.col("jaccard") * 10).cast("long").alias("bucket_tenths")
        )
        .groupBy("bucket_tenths")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("bucket_tenths")
    )


QUERIES["dedup_similarity_histogram"] = dedup_similarity_histogram
ORACLES["dedup_similarity_histogram"] = f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx=b.band_idx AND a.band_val=b.band_val AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id=c.d1
  JOIN sh s2 ON s2.doc_id=c.d2 AND s2.shingle=s1.shingle
  GROUP BY c.d1, c.d2
),
scored AS (
  SELECT round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6)
    AS jaccard
  FROM inter JOIN sizes n1 ON n1.doc_id=d1 JOIN sizes n2 ON n2.doc_id=d2
)
SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bucket_tenths,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored GROUP BY 1 ORDER BY 1
"""


def dedup_minhash_band_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-flight skew telemetry for the MinHash candidate join — the
    check a 100 TB dedup run executes BEFORE launching the band
    self-join: per band, the bucket-size distribution and the exact
    upper bound on candidate pairs (Σ s·(s−1)/2). A hot bucket shows
    up here as a max_bucket/pair-bound spike while the join is still
    un-run — the operational guard the r4/r5 verdicts asked the LSH
    family to keep (cf. ``test_simhash_band_buckets_bounded``), now
    queryable instead of test-only.

    One map-side-combined aggregate over the band table (doc×bands
    rows), then a bands-count-sized rollup — no pair join anywhere.
    """
    d = _spread_for_compute(load_table(spark, sf, "documents"))
    sh = shingle_set(d)
    bands = minhash_bands(sh)
    sizes = bands.groupBy("band_idx", "band_val").agg(
        F.count("*").alias("s")
    )
    return (
        sizes.groupBy("band_idx")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("s").cast("long").alias("n_docs"),
            F.max("s").cast("long").alias("max_bucket"),
            F.sum(F.col("s") * (F.col("s") - 1) / 2)
            .cast("long")
            .alias("candidate_pair_bound"),
        )
        .orderBy("band_idx")
    )


QUERIES["dedup_minhash_band_skew_audit"] = dedup_minhash_band_skew_audit
ORACLES["dedup_minhash_band_skew_audit"] = f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDS_CTE},
sizes AS (
  SELECT band_idx, band_val, COUNT(*) AS s
  FROM bands GROUP BY band_idx, band_val
)
SELECT band_idx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(s) AS BIGINT) AS n_docs,
       CAST(MAX(s) AS BIGINT) AS max_bucket,
       CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS candidate_pair_bound
FROM sizes GROUP BY band_idx ORDER BY band_idx
"""


@memoized("derived")
def dedup_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Signature-calibration audit: how well does MinHash agreement
    predict exact Jaccard? For every banded candidate pair, count the
    matching signature positions (0–8) and compare the implied
    estimate (matches/8) against the exact shingle Jaccard — grouped
    by match count: pair count, mean exact Jaccard, and mean absolute
    estimator error, all in integer ppm. This is the tuning table that
    justifies (or indicts) the banding threshold before a 100 TB run:
    if high-match pairs have low true Jaccard the hash family is too
    small; if low-match pairs hide high Jaccard the bands are too
    strict.

    Plan: candidate-set-sized throughout — ONE groupBy over the
    candidate-pruned shingles builds everything per-doc at once
    (shingle set as an UNORDERED collect_set array — only its size and
    array_intersect are consumed, neither order-sensitive — set size,
    and the 8 minhash mins PACKED into one array column), then two
    footer-gated broadcast joins against the 702-row candidate pairs
    compute exact intersection (array_intersect), Jaccard, and the
    signature-match count in a single projection. The previous shape
    re-ran the 10-stage ``_jaccard_on_candidates`` shuffle cascade
    plus two sig shuffles for the same 702 rows — pure per-stage floor
    (the r8 regression). Values are bit-identical: same exact
    intersection counts (inner-join semantics kept via the i ≥ 1
    filter), same round-6 Jaccard division, same min-hash recipe. No
    float accumulation: per-pair ppm floors first, integer sums after,
    and the per-bucket means are true integer `div` (exact past 2^53,
    matching the oracle's `//`).
    """
    sh, cand = _minhash_candidates(spark, sf)
    n_cand = _cand_count(cand)
    cand_docs = (
        cand.select(F.explode(F.array("d1", "d2")).alias("doc_id")).distinct()
    )
    hashed = sh.join(_bcast_if_small(cand_docs, n_cand), "doc_id").select(
        "doc_id",
        "shingle",
        F.md5(F.col("shingle")).alias("m0"),
        F.md5(F.concat(F.lit("x:"), F.col("shingle"))).alias("m1"),
    )
    docdata = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.collect_set("shingle").alias("shs"),
        F.array(
            *[
                F.min(F.substring(f"m{i // 4}", 8 * (i % 4) + 1, 8))
                for i in range(N_HASHES)
            ]
        ).alias("sig"),
    )
    # candidate-doc-sized (~1k rows); cached so the g1/g2 broadcast
    # builds don't each re-run the groupBy, and repeat calls hit the
    # cache-manager entry like `cand` above
    docdata = cached(docdata)
    i_ = F.size(F.array_intersect(F.col("g1.shs"), F.col("g2.shs"))).cast(
        "long"
    )
    jac = F.round(
        i_.cast("double")
        / (F.col("g1.n") + F.col("g2.n") - i_).cast("double"),
        6,
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("g1.sig"),
            F.col("g2.sig"),
            lambda a, b: (a == b).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    per_pair = (
        cand.join(
            # docdata carries full shingle-set arrays — the wide-frame
            # (shingle) broadcast budget applies
            _bcast_if_small(
                docdata.alias("g1"), n_cand, CAND_SHINGLE_BROADCAST_MAX_PAIRS
            ),
            F.col("g1.doc_id") == F.col("d1"),
        )
        .join(
            _bcast_if_small(
                docdata.alias("g2"), n_cand, CAND_SHINGLE_BROADCAST_MAX_PAIRS
            ),
            F.col("g2.doc_id") == F.col("d2"),
        )
        .select(
            i_.alias("i"),
            matches.alias("n_sig_match"),
            F.floor(jac * 1_000_000).cast("long").alias("jac_ppm"),
        )
        # keep the shared verifier's inner-join semantics: a banded
        # pair with ZERO shared shingles (possible only via an 8-hex
        # hash collision) never reaches the scored set there either
        .filter(F.col("i") >= 1)
        .withColumn(
            "est_ppm", (F.col("n_sig_match") * 1_000_000 / N_HASHES).cast("long")
        )
    )
    return (
        per_pair.groupBy("n_sig_match")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("sum(jac_ppm) div count(*)")
            .cast("long")
            .alias("mean_jaccard_ppm"),
            F.expr("sum(abs(est_ppm - jac_ppm)) div count(*)")
            .cast("long")
            .alias("mean_abs_err_ppm"),
        )
        .orderBy("n_sig_match")
    )


QUERIES["dedup_minhash_calibration"] = dedup_minhash_calibration
ORACLES["dedup_minhash_calibration"] = f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx=b.band_idx AND a.band_val=b.band_val AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id=c.d1
  JOIN sh s2 ON s2.doc_id=c.d2 AND s2.shingle=s1.shingle
  GROUP BY c.d1, c.d2
),
scored AS (
  SELECT d1, d2,
         round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6) AS jaccard
  FROM inter JOIN sizes n1 ON n1.doc_id=d1 JOIN sizes n2 ON n2.doc_id=d2
),
per_pair AS (
  SELECT ({" + ".join(f"CASE WHEN g1.h{i} = g2.h{i} THEN 1 ELSE 0 END" for i in range(8))})
           AS n_sig_match,
         CAST(floor(jaccard * 1000000) AS BIGINT) AS jac_ppm
  FROM scored
  JOIN sig g1 ON g1.doc_id = scored.d1
  JOIN sig g2 ON g2.doc_id = scored.d2
),
est AS (
  SELECT n_sig_match, jac_ppm,
         CAST(n_sig_match * 1000000 / 8 AS BIGINT) AS est_ppm
  FROM per_pair
)
SELECT CAST(n_sig_match AS BIGINT) AS n_sig_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(jac_ppm) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm,
       CAST(SUM(abs(est_ppm - jac_ppm)) // COUNT(*) AS BIGINT)
         AS mean_abs_err_ppm
FROM est GROUP BY n_sig_match ORDER BY n_sig_match
"""


def dedup_cluster_cohesion(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-cohesion audit — the check that catches TRANSITIVE
    CHAINING, the classic connected-components dedup failure (A~B and
    B~C link A and C into one cluster even when A and C share almost
    nothing): per component, the verified-edge density
    (edges / C(size,2)) and the weakest verified Jaccard, rolled up by
    cluster size. Tight clusters show density near 10⁶ ppm and high
    min-Jaccard; long chains show low density — the signal to switch
    the keep-policy from cluster-canonical to pairwise.

    Costs nothing new at scale: the edges ARE the (cached) verified
    MinHash pairs and the labels the (cached) CC output — two
    component-keyed joins over candidate-set-sized data, then a
    size-bucket rollup. Integer ppm throughout.
    """
    edges = dedup_minhash_lsh(spark, sf).select(
        "d1", "d2", F.floor(F.col("jaccard") * 1_000_000).cast("long").alias("jac_ppm")
    )
    cc = dedup_connected_components(spark, sf).select(
        F.col("doc_id").alias("d1"), "component", "component_size"
    )
    per_comp = (
        edges.join(cc, "d1")
        .groupBy("component", "component_size")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.min("jac_ppm").cast("long").alias("min_jac_ppm"),
            F.sum("jac_ppm").cast("long").alias("sum_jac_ppm"),
        )
        .withColumn(
            "density_ppm",
            (
                F.col("n_edges")
                * F.lit(1_000_000)
                / (
                    F.col("component_size")
                    * (F.col("component_size") - 1)
                    / 2
                )
            ).cast("long"),
        )
    )
    return (
        per_comp.groupBy("component_size")
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.sum("n_edges").cast("long").alias("n_edges"),
            F.floor(F.sum("density_ppm") / F.count("*"))
            .cast("long")
            .alias("mean_density_ppm"),
            F.min("min_jac_ppm").cast("long").alias("weakest_edge_jac_ppm"),
        )
        .orderBy("component_size")
    )


QUERIES["dedup_cluster_cohesion"] = dedup_cluster_cohesion
ORACLES["dedup_cluster_cohesion"] = f"""
WITH pairs AS ({ORACLES["dedup_minhash_lsh"]}),
cc AS ({ORACLES["dedup_connected_components"]}),
per_comp AS (
  SELECT cc.component, cc.component_size,
         CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(MIN(CAST(floor(p.jaccard * 1000000) AS BIGINT)) AS BIGINT)
           AS min_jac_ppm,
         CAST((COUNT(*) * 1000000)
              / (cc.component_size * (cc.component_size - 1) / 2)
              AS BIGINT) AS density_ppm
  FROM pairs p JOIN cc ON cc.doc_id = p.d1
  GROUP BY cc.component, cc.component_size
)
SELECT CAST(component_size AS BIGINT) AS component_size,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(SUM(n_edges) AS BIGINT) AS n_edges,
       CAST(SUM(density_ppm) // COUNT(*) AS BIGINT) AS mean_density_ppm,
       CAST(MIN(min_jac_ppm) AS BIGINT) AS weakest_edge_jac_ppm
FROM per_comp GROUP BY component_size ORDER BY component_size
"""


def dedup_loss_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup survivorship telemetry: which sources LOSE the most
    documents when near-dup clusters keep only their highest-quality
    member — the per-domain loss report a curation run publishes
    before committing a dedup pass (a source losing half its mass to
    clusters canonicalized elsewhere is a mixture change, not just a
    size change). Removed = cluster members that are not their
    cluster's canonical; integer ppm against the source's full count.
    """
    cc = dedup_connected_components(spark, sf).select(
        "doc_id", "component"
    )
    canon = dedup_cluster_canonical(spark, sf).select(
        "component", F.col("canonical_doc_id").alias("doc_id"), F.lit(1).alias("keep")
    )
    d = load_table(spark, sf, "documents").select("doc_id", "source")
    members = cc.join(canon, ["component", "doc_id"], "left").join(d, "doc_id")
    per_src_cluster = members.groupBy("source").agg(
        F.count("*").cast("long").alias("n_in_clusters"),
        F.sum(F.when(F.col("keep").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )
    totals = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        totals.join(per_src_cluster, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_in_clusters", F.lit(0)).cast("long").alias("n_in_clusters"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            (
                F.coalesce("n_removed", F.lit(0)) * F.lit(1_000_000) / F.col("n_docs")
            )
            .cast("long")
            .alias("removed_ppm"),
        )
        .orderBy("source")
    )


QUERIES["dedup_loss_by_source"] = dedup_loss_by_source
ORACLES["dedup_loss_by_source"] = f"""
WITH cc AS ({ORACLES["dedup_connected_components"]}),
canon AS ({ORACLES["dedup_cluster_canonical"]}),
members AS (
  SELECT cc.doc_id, cc.component, d.source,
         CASE WHEN can.canonical_doc_id IS NOT NULL THEN 1 END AS keep
  FROM cc
  JOIN documents d ON d.doc_id = cc.doc_id
  LEFT JOIN canon can
    ON can.component = cc.component AND can.canonical_doc_id = cc.doc_id
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in_clusters,
         CAST(SUM(CASE WHEN keep IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM members GROUP BY source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source
)
SELECT t.source, t.n_docs,
       CAST(COALESCE(p.n_in_clusters, 0) AS BIGINT) AS n_in_clusters,
       CAST(COALESCE(p.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(p.n_removed, 0) * 1000000 // t.n_docs AS BIGINT)
         AS removed_ppm
FROM totals t LEFT JOIN per_src p ON p.source = t.source
ORDER BY t.source
"""


# -- prefix-template detection ---------------------------------------
PREFIX_TOKENS = 8  # leading tokens that define the template key


def dedup_prefix_template(spark: SparkSession, sf: str) -> DataFrame:
    """Template detection by shared document prefix: docs whose first
    PREFIX_TOKENS normalized tokens are identical form a template
    cluster (the form-letter / scraped-boilerplate shape that full-doc
    exact dedup misses when bodies differ). Emits the cluster-size
    histogram — how many templates exist at each multiplicity and how
    many docs they absorb — the report a curation run reads before
    deciding a per-template keep quota.

    Scale: the prefix key is a scan-local md5 of a bounded slice
    (never the whole doc); clustering is one map-side-combinable
    groupBy(key) and the histogram a second groupBy over
    cluster-count-sized data. No window, no join, 100 TB-safe.
    """
    d = load_table(spark, sf, "documents").select(
        tokens(normalized(F.col("text"))).alias("toks")
    )
    keyed = d.select(
        F.md5(
            F.concat_ws(" ", F.slice("toks", 1, PREFIX_TOKENS))
        ).alias("pkey")
    )
    clusters = keyed.groupBy("pkey").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count("*").cast("long").alias("n_templates"),
            (F.count("*") * F.col("cluster_size")).cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


QUERIES["dedup_prefix_template"] = dedup_prefix_template
_PFX_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
ORACLES["dedup_prefix_template"] = f"""
WITH keyed AS (
  SELECT md5(array_to_string(
           list_filter(string_split({_PFX_NORM}, ' '), x -> x != '')
             [1:{PREFIX_TOKENS}], ' ')) AS pkey
  FROM documents
),
clusters AS (
  SELECT pkey, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM keyed GROUP BY pkey
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_templates,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM clusters GROUP BY cluster_size ORDER BY cluster_size
"""


# -- split-document stitch audit --------------------------------------

STITCH_K = 3  # overlap width in tokens (tail-of-A == head-of-B)
STITCH_TOP = 20


def dedup_chunk_stitch_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Split-document detection: a doc whose LAST STITCH_K tokens equal
    another doc's FIRST STITCH_K tokens is the signature of one source
    document sharded across records (pagination, chunked uploads,
    context-window splits) — the inverse failure mode of duplication,
    and invisible to every similarity dedup because the two halves
    share almost nothing. Reported as the per-boundary-gram audit:
    tail count × head count per overlap gram, top keys by implied
    stitch-pair volume.

    Scale posture: heads and tails are ONE narrow projection each
    (first/last K tokens as a single join key string), the join is a
    gram-keyed equi-count — and pairs are NEVER materialized: a hot
    boundary gram (a template opening shared by n docs) would explode
    n_tails×n_heads pairs, so the audit reports the COUNTS whose
    product is that volume instead (the same no-quadratic-candidates
    discipline as ``check_lsh_regime``). A stitcher consuming this
    audit joins only the keys it accepts.
    """
    d = load_table(spark, sf, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    d = d.where(F.size("toks") >= 2 * STITCH_K).select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", 1, STITCH_K)).alias("head_gram"),
        F.concat_ws(" ", F.slice("toks", -STITCH_K, STITCH_K)).alias(
            "tail_gram"
        ),
    )
    heads = d.groupBy(F.col("head_gram").alias("gram")).agg(
        F.count("*").cast("long").alias("n_heads")
    )
    tails = d.groupBy(F.col("tail_gram").alias("gram")).agg(
        F.count("*").cast("long").alias("n_tails")
    )
    return (
        tails.join(heads, "gram")
        .select(
            "gram",
            "n_tails",
            "n_heads",
            (F.col("n_tails") * F.col("n_heads")).cast("long").alias(
                "n_stitch_pairs"
            ),
        )
        .orderBy(F.col("n_stitch_pairs").desc(), F.col("gram"))
        .limit(STITCH_TOP)
    )


QUERIES["dedup_chunk_stitch_audit"] = dedup_chunk_stitch_audit
ORACLES["dedup_chunk_stitch_audit"] = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
  FROM documents
),
k AS (
  SELECT doc_id,
         array_to_string(toks[1:{STITCH_K}], ' ') AS head_gram,
         array_to_string(toks[-{STITCH_K}:], ' ') AS tail_gram
  FROM d WHERE len(toks) >= {2 * STITCH_K}
),
heads AS (SELECT head_gram AS gram, CAST(COUNT(*) AS BIGINT) AS n_heads
          FROM k GROUP BY head_gram),
tails AS (SELECT tail_gram AS gram, CAST(COUNT(*) AS BIGINT) AS n_tails
          FROM k GROUP BY tail_gram)
SELECT t.gram, t.n_tails, h.n_heads,
       CAST(t.n_tails * h.n_heads AS BIGINT) AS n_stitch_pairs
FROM tails t JOIN heads h ON t.gram = h.gram
ORDER BY n_stitch_pairs DESC, t.gram LIMIT {STITCH_TOP}
"""


# -- IDF-weighted Jaccard scoring -------------------------------------


@memoized("derived")
def dedup_weighted_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """IDF-weighted Jaccard over the MinHash candidate pairs: rare
    shingles count more than boilerplate ones, so two docs sharing a
    distinctive phrase score higher than two sharing only template
    chrome — the re-weighting practical near-dup pipelines apply when
    plain Jaccard over-fires on boilerplate. Weight w(t) =
    bitlen(n_docs) − bitlen(df_t) + 1 (an integer-exact ⌊log2⌋ IDF,
    the module's libm-free trick), so every per-pair score is a ratio
    of exact int64 sums: Jw = Σ_{t∈a∩b} w / (Wa + Wb − Σ_inter w),
    floored to ppm. Output: every candidate pair with BOTH metrics —
    the weighted score and its delta vs unweighted ppm Jaccard.

    Plan: candidate-set-sized like the unweighted verifier — shingles
    pruned to candidate docs (gated broadcast semi-join) BEFORE the df
    join. The df aggregate is ADDITIONALLY pruned to CANDIDATE
    shingles before its shuffle when candidates are a sliver of the
    corpus (candidate docs ≤ 10% of the footer doc count): only
    shingles occurring in some candidate doc get a df row, so the df
    shuffle and wsh join stop scaling with the corpus vocabulary —
    global counts stay exact, the semi-join only drops shingles whose
    weight nothing consumes (the ``text_keyword_extraction`` / BM25
    prune-before-shuffle rule). When candidates are corpus-dominated
    (both test fixtures: 28% of sf0.1 docs; 100% of the salted 10×
    growth corpus, whose candidate workload is 417× by construction)
    the prune is pure overhead — an extra distinct + broadcast build
    to drop nothing, measured +1.5 s warm at sf0.1 — so it switches
    off and the straight map-side-combined df aggregate runs instead.
    """
    sh, cand = _minhash_candidates(spark, sf)
    n_cand = _cand_count(cand)
    cand_docs = (
        cand.select(F.explode(F.array("d1", "d2")).alias("doc_id")).distinct()
    )
    shc = sh.join(_bcast_if_small(cand_docs, n_cand), "doc_id")
    # footer-metadata row count — no data scan just to size the IDF
    n_docs = table_row_count(sf, "documents")
    nbits = n_docs.bit_length()
    df_src = sh
    if 2 * n_cand * 100 <= n_docs * WJ_PRUNE_CAND_DOC_PCT:
        cand_shingles = shc.select("shingle").distinct()
        df_src = sh.join(
            _bcast_if_small(
                cand_shingles, n_cand, CAND_SHINGLE_BROADCAST_MAX_PAIRS
            ),
            "shingle",
        )
    df = df_src.groupBy("shingle").agg(F.count("*").alias("df"))
    # cache() (plan-keyed) the weighted candidate-shingle frame: it is
    # candidate-doc-sized (tiny next to the corpus), session-
    # deterministic, and has THREE consumers per call (wsizes + both
    # intersection sides) — and, critically, it is the frame whose
    # build contains the corpus-vocabulary df pass.  Without the cache
    # every warm call re-ran that vocabulary aggregate (the r10 driver
    # bench's +34% "off-regime overhead"); with it, warm calls join
    # bounded in-memory frames only.
    wsh = (
        shc.join(df, "shingle")
        .select(
            "doc_id",
            "shingle",
            (
                F.lit(nbits)
                - (F.length(F.expr("bin(df)")) - 1)
                + F.lit(1)
            )
            .cast("long")
            .alias("w"),
        )
    )
    wsh = cached(wsh)
    # r18 (guide §2.3/§2.4, the `_jaccard_on_candidates` shape): ONE
    # membership broadcast fans each weighted shingle row out to its
    # pairs, and a single two-level aggregation yields intersection
    # weight, intersection count, AND the union weight at once —
    # Σ_distinct w = (Σ_A w + Σ_B w) − wi, exactly the old
    # n1.wt + n2.wt − wi denominator (identical integers → identical
    # IEEE division/floor).  Replaces the pair⋈s1⋈s2 cascade + two
    # per-doc weight-sum broadcasts (each build re-ran the wsizes
    # aggregate over the cached wsh).
    mem = cand.select(
        "d1", "d2", F.explode(F.array("d1", "d2")).alias("doc_id")
    )
    rows = wsh.join(_bcast_if_small(mem, n_cand), "doc_id")
    lvl = rows.groupBy("d1", "d2", "shingle").agg(
        F.count("*").alias("_c"), F.max("w").alias("_w")
    )
    per = lvl.groupBy("d1", "d2").agg(
        F.sum(F.when(F.col("_c") == 2, F.col("_w")))
        .cast("long")
        .alias("wi"),
        F.count(F.when(F.col("_c") == 2, True)).cast("long").alias("n_inter"),
        F.sum("_w").cast("long").alias("_wu"),
    )
    return (
        # inner-join contract of the old shape: pairs sharing no
        # shingle never reach the output
        per.filter(F.col("n_inter") >= 1)
        .select(
            "d1",
            "d2",
            "n_inter",
            F.floor(
                (F.col("wi") * F.lit(1_000_000)).cast("double")
                / F.col("_wu").cast("double")
            )
            .cast("long")
            .alias("wjac_ppm"),
        )
        .orderBy("d1", "d2")
    )


QUERIES["dedup_weighted_jaccard"] = dedup_weighted_jaccard
ORACLES["dedup_weighted_jaccard"] = f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx=b.band_idx AND a.band_val=b.band_val
   AND a.doc_id < b.doc_id
),
nd AS (SELECT length(bin(COUNT(*))) AS nbits FROM documents),
df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
wsh AS (
  SELECT s.doc_id, s.shingle,
         CAST(nd.nbits - (length(bin(df.df)) - 1) + 1 AS BIGINT) AS w
  FROM sh s JOIN df USING (shingle) CROSS JOIN nd
),
wsizes AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt
           FROM wsh GROUP BY doc_id),
winter AS (
  SELECT c.d1, c.d2, CAST(SUM(s1.w) AS BIGINT) AS wi,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN wsh s1 ON s1.doc_id = c.d1
  JOIN wsh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
  GROUP BY c.d1, c.d2
)
SELECT w.d1, w.d2, w.n_inter,
       CAST(floor(CAST(w.wi * 1000000 AS DOUBLE)
                  / CAST(n1.wt + n2.wt - w.wi AS DOUBLE)) AS BIGINT)
         AS wjac_ppm
FROM winter w
JOIN wsizes n1 ON n1.doc_id = w.d1
JOIN wsizes n2 ON n2.doc_id = w.d2
ORDER BY w.d1, w.d2
"""


def dedup_incremental_cc(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL connected components — merge a new batch's edges
    into an existing component labeling without ever re-running label
    propagation over old×old edges (the cluster-maintenance twin of
    ``dedup_incremental_minhash``, and the missing half of a daily
    dedup pipeline: yesterday you labeled the corpus, today you must
    fold in the new batch's near-dup edges, and re-clustering 100 TB
    from scratch is not an option).

    Batch split: "today's batch" = doc_id % NEW_BATCH_MOD ==
    NEW_BATCH_RESIDUE (the ``dedup_incremental_minhash`` convention).
    Old edges = MinHash pairs with both endpoints old; new edges =
    pairs touching at least one new doc.

    Algorithm (the standard union-find contraction): (1) yesterday's
    state = CC labels over old edges only (here recomputed via the
    memoized loop; in production a table read); (2) CONTRACT — map
    each new edge's endpoints through the old labeling (old node → its
    component label, unseen node → itself), so whole old components
    become single super-nodes; (3) run label propagation on the
    contracted graph, whose size is bounded by the NEW edge set — the
    old corpus appears only as O(#touched components) super-nodes;
    (4) COMPOSE — old nodes take their component's merged label via
    one labels⋈merge join, contracted-only nodes (new docs, plus old
    docs with no old edges) take theirs directly.

    Labels stay min-doc-id by construction (each old component's
    super-node id IS its min member; the merged min-of-mins is the
    union component's global min), so the result must equal — and is
    oracled by — full CC over the union pair graph. Per-round shuffle
    in step 3 scales with today's batch, never with the corpus.
    """
    pairs = dedup_minhash_lsh(spark, sf).select("d1", "d2")

    def is_new(c: str):
        return (F.col(c) % NEW_BATCH_MOD) == NEW_BATCH_RESIDUE

    old_pairs = pairs.filter(~is_new("d1") & ~is_new("d2"))
    new_pairs = pairs.filter(is_new("d1") | is_new("d2"))
    old_labels = connected_components_over(old_pairs).select(
        "doc_id", "component"
    )
    return incremental_components_merge(old_labels, new_pairs)


def incremental_components_merge(
    old_labels: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """Contract-propagate-compose merge of a new edge batch into an
    existing min-id component labeling (``dedup_incremental_cc`` steps
    2-4, factored out so the merge semantics are unit-testable on
    synthetic graphs). ``old_labels`` must be a (doc_id, component)
    min-id labeling; ``new_pairs`` a (d1, d2) edge frame."""
    m1 = old_labels.select(
        F.col("doc_id").alias("d1"), F.col("component").alias("c1")
    )
    m2 = old_labels.select(
        F.col("doc_id").alias("d2"), F.col("component").alias("c2")
    )
    contracted = (
        new_pairs.join(m1, "d1", "left")
        .join(m2, "d2", "left")
        .select(
            F.coalesce("c1", F.col("d1")).alias("d1"),
            F.coalesce("c2", F.col("d2")).alias("d2"),
        )
    )
    merge = connected_components_over(contracted).select(
        F.col("doc_id").alias("super"), F.col("component").alias("merged")
    )
    old_final = (
        old_labels.join(
            merge, old_labels.component == merge.super, "left"
        ).select(
            "doc_id", F.coalesce("merged", "component").alias("component")
        )
    )
    # super-nodes that are NOT old component labels are real doc ids
    # seen only in new edges — label them directly
    new_final = merge.join(
        old_labels.select(F.col("component").alias("super")).distinct(),
        "super",
        "left_anti",
    ).select(F.col("super").alias("doc_id"), F.col("merged").alias("component"))
    from pyspark.sql import Window as W

    return old_final.unionByName(new_final).select(
        "doc_id",
        "component",
        F.count("*").over(W.partitionBy("component")).alias("component_size"),
    )


QUERIES["dedup_incremental_cc"] = dedup_incremental_cc
# the incremental merge must be indistinguishable from full CC over
# the union pair graph — so the oracle IS the full-CC oracle
ORACLES["dedup_incremental_cc"] = ORACLES["dedup_connected_components"]
