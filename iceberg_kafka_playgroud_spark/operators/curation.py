"""Training-corpus curation operators — the pipeline stages a
large-scale LLM data build runs between raw documents and tokenized
shards: deterministic splits, stratified sampling, sequence packing,
vocabulary stats, benchmark-contamination checks, and the quality
funnel that strings the filters together.

The reference exposes raw documents through its SQL passthrough only;
these operators are the SURVEY §2.9 north-star extensions that make
the engine useful as a data-pipeline backend at 100 TB.

Design rules shared by every operator here:

- **Determinism without RNG state.** Anything sample- or split-shaped
  derives from md5 of a stable key, never ``rand()`` — the same row
  lands in the same split on every engine, run, and cluster size
  (md5 is also the one hash both Spark and DuckDB compute
  identically, so every query stays exactly oracle-checkable).
- **Narrow where possible.** Split assignment and hash sampling are
  pure projections/filters (zero shuffle, scan-local at any scale);
  packing and vocab are single-shuffle aggregations.
- **Integer arithmetic** for anything compared or summed (token
  counts, cumulative budgets) — no float accumulation drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..checkpoints import memo_local_checkpoint
from ..plan_cache import cached, memoized
from ..schema import load_table
from ..tmpdirs import tmpdir_reclaimed_at_exit
from .dedup import (
    _MINHASH_BANDS_CTE,
    _SHINGLES_CTE,
    JACCARD_THRESHOLD,
    minhash_bands,
    minhash_probe,
    shingle_set,
)
from .text import tokens

# ---------------------------------------------------------------------------
# deterministic split
# ---------------------------------------------------------------------------

# hex first-char buckets: 0-b → train (12/16), c-d → val, e-f → test
_VAL_CHARS = ("c", "d")
_TEST_CHARS = ("e", "f")


def _split_col() -> F.Column:
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        F.when(h.isin(*_TEST_CHARS), "test")
        .when(h.isin(*_VAL_CHARS), "val")
        .otherwise("train")
    )


def split_train_val_test(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test assignment.

    The split is a pure narrow projection on md5(doc_id) — no shuffle,
    no RNG, no global coordination; a 100 TB corpus splits at scan
    speed, and re-running (or re-sharding) the corpus never moves a
    document across splits.  The summary aggregation on top is one
    map-side-combined shuffle over ≤3 rows per partition.
    """
    d = load_table(spark, sf, "documents")
    return (
        d.select(_split_col().alias("split"), F.col("n_chars"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


SAMPLE_PER_SOURCE = 10


def stratified_sample_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: exactly k docs per source,
    chosen by md5 rank (reproducible reservoir-sampling analog).

    One shuffle on ``source``; rank state is per-group and O(1) via
    TOP-K-per-group semantics.  For skewed strata at 100 TB the same
    md5 order can be pre-filtered with a hash-prefix predicate (see
    ``sample_hash_bucket``) so the window never sees the full stratum.
    """
    d = load_table(spark, sf, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "source", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_SOURCE)
        .select("doc_id", "source", "lang")
        .orderBy("source", "doc_id")
    )


def mixture_resample_balanced(spark: SparkSession, sf: str) -> DataFrame:
    """Rebalance the corpus to a uniform source mixture by
    downsampling every source to the smallest source's size — the
    domain-mixture control step training-data pipelines run before
    shard writing (here with a balanced target; any target vector
    slots into the same rank-gate).

    Fully deterministic and integer-exact: the per-source keep-set is
    the first ``min_count`` docs in (md5(doc_id), doc_id) order, so
    re-runs and re-shards never move a document in or out. Two
    shuffles: the per-source count (map-side combined, sources-sized
    result broadcast back) and the per-source rank window. The output
    proves WHICH docs survived via an exact integer id-sum, not just
    how many.
    """
    d = load_table(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    min_count = counts.agg(F.min("n_docs").alias("min_count"))
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    kept = (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(min_count))
        .filter(F.col("rk") <= F.col("min_count"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("kept_id_sum"),
        )
        .join(F.broadcast(counts), "source")
        .select("source", "n_docs", "n_kept", "kept_id_sum")
        .orderBy("source")
    )


def quality_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted corpus sampling: each document survives with
    probability equal to its quality score — the soft-filter blend
    (hard thresholds discard borderline data; weighting keeps a
    calibrated slice of every stratum) used when down-sizing a corpus
    to a token budget.

    Deterministic "coin flip": the first 8 md5 hex chars of doc_id as
    a 32-bit integer, kept iff hash < floor(q·2³²) — one multiply +
    floor over the (already engine-exact) score, so the kept set is
    identical across engines, runs, and cluster sizes. Zero shuffle
    until the per-source summary.
    """
    from .text import text_quality_score

    q = text_quality_score(spark, sf).select("doc_id", "quality_score")
    d = load_table(spark, sf, "documents").select("doc_id", "source")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = (
        d.join(q, "doc_id")
        .withColumn("h", h)
        .withColumn(
            "keep",
            F.col("h")
            < F.floor(F.col("quality_score") * F.lit(4294967296.0)).cast(
                "long"
            ),
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("doc_id"))).cast("long").alias(
                "kept_id_sum"
            ),
        )
        .orderBy("source")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def chunk_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level (chunk-level) exact dedup — the pass real
    pretraining pipelines run BETWEEN document dedup and training:
    boilerplate paragraphs (headers, licenses, navigation) repeat
    across otherwise-distinct documents, so dedup at chunk
    granularity removes what document-level hashing can't see.

    Keeps the FIRST occurrence of each chunk hash in (doc_id,
    chunk_idx) order and reports per-source removal stats. One hash
    shuffle over the chunk set (chunking itself is narrow); the
    keep-rank window is partitioned by chunk_md5 — key cardinality ≈
    distinct chunks, the scalable partitioning.
    """
    from pyspark.sql import Window as W

    chunks = doc_chunking(spark, sf)
    src = load_table(spark, sf, "documents").select("doc_id", "source")
    w = W.partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rk", F.row_number().over(w)).join(
        F.broadcast(src), "doc_id"
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("rk") > 1).cast("long"))
            .cast("long")
            .alias("n_removed"),
            F.sum(F.col("chunk_tokens")).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("rk") > 1, F.col("chunk_tokens")))
            .cast("long")
            .alias("tokens_removed"),
        )
        .select(
            "source",
            "n_chunks",
            "n_removed",
            "n_tokens",
            F.coalesce("tokens_removed", F.lit(0)).alias("tokens_removed"),
            F.floor(F.col("n_removed") * F.lit(1_000_000) / F.col("n_chunks"))
            .cast("long")
            .alias("removed_ppm"),
        )
        .orderBy("source")
    )


def doc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """RAG-style document chunking: overlapping token windows (64
    tokens, stride 48) with per-chunk ids and content hashes — the
    retrieval-index prep step between curation and embedding. One
    narrow pass: the window fanout is array slicing inside the scan
    task, zero shuffle; a 100 TB corpus chunks at scan speed.

    Chunk rule: starts at 0, stride, 2·stride, …; the LAST window is
    whatever remains (≥1 token), so every token is covered and chunk
    count = ⌈max(n−overlap, 1) / stride⌉ — replayed exactly in SQL.
    """
    d = load_table(spark, sf, "documents")
    with_toks = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    toks = F.col("toks")
    n_chunks = F.ceil(
        F.greatest(F.size(toks) - (CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1))
        / F.lit(CHUNK_STRIDE)
    ).cast("int")
    chunks = with_toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda c: F.struct(
                    # size the token SLICE directly — re-splitting the
                    # concatenated text would pay a second O(len) pass
                    # per chunk for a value the slice already knows
                    F.size(
                        F.slice(toks, c * CHUNK_STRIDE + 1, CHUNK_TOKENS)
                    ).alias("n"),
                    F.concat_ws(
                        " ", F.slice(toks, c * CHUNK_STRIDE + 1, CHUNK_TOKENS)
                    ).alias("txt"),
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk.n").cast("long").alias("chunk_tokens"),
        F.md5("chunk.txt").alias("chunk_md5"),
    )


PACK_BUDGET = 512  # tokens per packed sequence


def sequence_pack_contiguous(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: assign doc_id-ordered documents per source to
    fixed token-budget bins (bin = exclusive-prefix-sum // budget —
    the contiguous-packing rule used by streaming shard writers, which
    never reorders documents and needs only a running counter).

    One shuffle on ``source`` for the prefix sum, one map-side-combined
    aggregation for the bin summary.  Token counts are int64 end to
    end.  At 100 TB the window is per-source and the packing remains a
    single pass — no driver state, no global sort.
    """
    d = load_table(spark, sf, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = sized.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(PACK_BUDGET)
        ),
    )
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("source", "bin")
    )


VOCAB_TOP_K = 50


def vocab_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: top-k casefolded terms by frequency.

    Explode → count is the canonical two-phase aggregation: partial
    counts combine map-side so the shuffle carries one row per distinct
    term per map partition (vocabulary-sized, not corpus-sized); the
    final top-k is TakeOrderedAndProject.  This is the word-count that
    actually scales — no collect, no driver-side dictionary.
    """
    d = load_table(spark, sf, "documents")
    return (
        d.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(VOCAB_TOP_K)
    )


OOV_VOCAB_K = 100  # tokenizer-coverage vocab size for vocab_oov_rate


def vocab_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-coverage evaluation: per-source out-of-vocabulary
    token fraction against the corpus-global top-K vocabulary — the
    check that decides whether a tokenizer/vocab is usable on a new
    source before training on it.

    Two token passes total — the index-then-probe minimum: pass 1
    builds the vocabulary (vocabulary-sized shuffle, then
    ``orderBy().limit()`` = TakeOrderedAndProject, a distributed
    partial top-k, NOT a single-partition window; (freq DESC, term
    ASC) is a total order so the K-boundary tie-break is deterministic
    in both engines). Pass 2 probes every token against the broadcast
    vocabulary and folds the total and OOV counts into ONE map-side-
    combined aggregation — the token stream itself is never shuffled.
    """
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(OOV_VOCAB_K)
        .select("term", F.lit(1).alias("hit"))
    )
    probed = tok.join(F.broadcast(vocab), "term", "left")
    n_oov = F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).cast("long")
    return (
        probed.groupBy("source")
        .agg(F.count("*").alias("n_tokens"), n_oov.alias("n_oov"))
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
            .alias("oov_rate"),
        )
        .orderBy("source")
    )


EVAL_MOD = 10  # doc_id % 10 == 7 → held-out "benchmark" set


def contamination_ngram_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination check: training docs sharing word
    3-gram shingles with a held-out eval set, scored by the number of
    distinct shared shingles.

    The held-out set is tiny relative to the corpus, so its distinct
    shingles BROADCAST and the check is a narrow semi-join-shaped
    probe over the training shingles — the corpus-sized side never
    shuffles on the shingle key.  This is the decontamination pass a
    training pipeline runs before every dataset release.
    """
    d = load_table(spark, sf, "documents")
    sh = shingle_set(d)
    is_eval = (F.col("doc_id") % EVAL_MOD) == F.lit(EVAL_MOD - 3)
    eval_sh = (
        sh.filter(is_eval).select(F.col("shingle").alias("ev_shingle")).distinct()
    )
    train_sh = sh.filter(~is_eval)
    return (
        train_sh.join(
            F.broadcast(eval_sh),
            train_sh.shingle == F.col("ev_shingle"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_ngrams"))
        .orderBy(F.col("n_shared_ngrams").desc(), F.col("doc_id").asc())
        .limit(100)
    )


MIN_CHARS, MAX_CHARS = 100, 20000


def quality_filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The curation funnel: survivor count after each successive
    filter stage (raw → length gate → English → canonical-text dedup).

    Each stage is a narrow predicate over the previous one, evaluated
    in ONE scan: stage membership becomes four 0/1 indicator columns
    summed in a single map-side-combined aggregation — the funnel
    costs one pass over the corpus regardless of stage count (the
    dedup indicator adds the one unavoidable shuffle, on the
    canonical-text hash).
    """
    from .text import normalized

    d = load_table(spark, sf, "documents")
    w = W.partitionBy(F.md5(normalized(F.col("text")))).orderBy("doc_id")
    flagged = (
        d.select("doc_id", "lang", "n_chars", "text")
        .withColumn("dup_rk", F.row_number().over(w))
        .select(
            F.lit(1).alias("s0"),
            F.col("n_chars").between(MIN_CHARS, MAX_CHARS).cast("int").alias("s1"),
            (
                F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
                & (F.col("lang") == "en")
            )
            .cast("int")
            .alias("s2"),
            (
                F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
                & (F.col("lang") == "en")
                & (F.col("dup_rk") == 1)
            )
            .cast("int")
            .alias("s3"),
        )
    )
    agg = flagged.agg(
        F.sum("s0").alias("raw"),
        F.sum("s1").alias("after_length"),
        F.sum("s2").alias("after_lang"),
        F.sum("s3").alias("after_dedup"),
    )
    stages = F.array(
        F.struct(F.lit("0_raw").alias("stage"), F.col("raw").alias("n_docs")),
        F.struct(
            F.lit("1_length").alias("stage"),
            F.col("after_length").alias("n_docs"),
        ),
        F.struct(
            F.lit("2_lang").alias("stage"), F.col("after_lang").alias("n_docs")
        ),
        F.struct(
            F.lit("3_dedup").alias("stage"),
            F.col("after_dedup").alias("n_docs"),
        ),
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.n_docs")
        .orderBy("stage")
    )


def dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized dedup: per source, total docs vs canonical
    survivors (first doc_id per normalized-text group) — the summary a
    pipeline emits after the keep-one-per-cluster pass.

    The group key is md5 of the canonical text, so the shuffle is
    hash-uniform (no hot key even if one document dominates the
    corpus); survivors are row_number()==1, the same keep-first rule
    as ``dedup_exact``.
    """
    from .text import normalized

    d = load_table(spark, sf, "documents")
    w = W.partitionBy(F.md5(normalized(F.col("text")))).orderBy("doc_id")
    return (
        d.select("doc_id", "source", "text")
        .withColumn("rk", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("rk") == 1).cast("long")).alias("n_canonical"),
        )
        .orderBy("source")
    )


DECON_MOD = 97  # deterministic pseudo-eval set: doc_id % 97 == 0


def decontaminate_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-hash benchmark decontamination: flag training docs whose
    normalized text hash collides with any held-out eval doc — the
    cheap first pass every pipeline runs before the n-gram overlap
    check (``contamination_ngram_overlap`` is the fuzzy second pass).

    The eval hash set is corpus-independent-small, so the probe is a
    broadcast left join against distinct eval hashes — scan-shaped on
    the training side, no shuffle of the corpus at any scale.
    """
    from .text import normalized

    d = load_table(spark, sf, "documents")
    h = F.md5(normalized(F.col("text")))
    ev = (
        d.filter(F.col("doc_id") % DECON_MOD == 0)
        .select(h.alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = d.filter(F.col("doc_id") % DECON_MOD != 0).select(
        "source", h.alias("h")
    )
    return (
        train.join(F.broadcast(ev), "h", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .orderBy("source")
    )


def token_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Power-of-two token-length histogram per source — the
    length-distribution profile that drives packing budgets and
    curriculum buckets. The bucket is floor(log2(n_tokens)) computed
    EXACTLY as length(bin(n)) - 1 (integer bit-length, no float log
    that misrounds at powers of two); one map-side-combined groupBy.
    """
    d = load_table(spark, sf, "documents")
    sized = d.select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    bucket = (F.length(F.expr("bin(n_tokens)")) - 1).cast("long")
    return (
        sized.withColumn("bucket", bucket)
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source", "bucket")
    )


def curation_pipeline_end_to_end(spark: SparkSession, sf: str) -> DataFrame:
    """The whole corpus-build pipeline as ONE composed plan: length
    gate → English gate → canonical dedup (keep first) → deterministic
    split → per-(split, source) shard manifest with document and token
    counts.  This is the query a dataset release actually runs; every
    stage is the operator tested individually above, and composing them
    costs two shuffles total (the dedup window's hash partition and the
    final manifest aggregation) because all intermediate stages are
    narrow.

    Catalyst fuses the narrow stages into the same whole-stage-codegen
    span — the pipeline is NOT materialized between steps, which is
    the point of declaring it as one DataFrame instead of running the
    stages with intermediate writes.
    """
    from .text import normalized

    d = load_table(spark, sf, "documents")
    w = W.partitionBy(F.md5(normalized(F.col("text")))).orderBy("doc_id")
    survivors = (
        d.filter(
            F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
            & (F.col("lang") == "en")
        )
        .withColumn("dup_rk", F.row_number().over(w))
        .filter(F.col("dup_rk") == 1)
    )
    return (
        survivors.select(
            _split_col().alias("split"),
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "curation_pipeline_end_to_end": curation_pipeline_end_to_end,
    "split_train_val_test": split_train_val_test,
    "stratified_sample_per_source": stratified_sample_per_source,
    "mixture_resample_balanced": mixture_resample_balanced,
    "quality_weighted_sample": quality_weighted_sample,
    "doc_chunking": doc_chunking,
    "chunk_exact_dedup": chunk_exact_dedup,
    "sequence_pack_contiguous": sequence_pack_contiguous,
    "vocab_top_terms": vocab_top_terms,
    "contamination_ngram_overlap": contamination_ngram_overlap,
    "quality_filter_funnel": quality_filter_funnel,
    "dedup_keep_canonical": dedup_keep_canonical,
    "decontaminate_exact": decontaminate_exact,
    "token_length_histogram": token_length_histogram,
    "vocab_oov_rate": vocab_oov_rate,
}

_TOKS_LOWER = "list_filter(string_split(lower(text), ' '), x -> x != '')"
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SPLIT_SQL = (
    "CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e','f') "
    "THEN 'test' "
    "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') "
    "THEN 'val' ELSE 'train' END"
)

_SHINGLES_CTE = """
toksrc AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks)-2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM toksrc
)
"""

from .text import ORACLES as _TEXT_ORACLES  # noqa: E402

ORACLES = {
    "doc_chunking": """
        WITH docs AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks
          FROM documents
        ),
        sized AS (
          SELECT doc_id, toks,
                 CAST(ceil(CAST(greatest(len(toks) - 16, 1) AS DOUBLE) / 48)
                      AS INT) AS n_chunks
          FROM docs WHERE len(toks) > 0
        ),
        chunks AS (
          SELECT doc_id, c.c AS chunk_idx,
                 array_to_string(toks[c.c * 48 + 1 : c.c * 48 + 64], ' ')
                   AS chunk_text
          FROM sized, LATERAL (
            SELECT unnest(generate_series(0, n_chunks - 1)) AS c
          ) c
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(list_filter(string_split(chunk_text, ' '),
                                    x -> x != '')) AS BIGINT) AS chunk_tokens,
               md5(chunk_text) AS chunk_md5
        FROM chunks
    """,
    "quality_weighted_sample": """
        WITH q AS (""" + _TEXT_ORACLES["text_quality_score"] + """),
        kept AS (
          SELECT d.doc_id, d.source, q.quality_score,
                 CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT)
                   < CAST(floor(q.quality_score * 4294967296.0) AS BIGINT)
                   AS keep
          FROM documents d JOIN q ON d.doc_id = q.doc_id
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN keep THEN doc_id END) AS BIGINT)
                 AS kept_id_sum
        FROM kept GROUP BY source ORDER BY source
    """,
    "mixture_resample_balanced": """
        WITH counts AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ),
        mc AS (SELECT MIN(n_docs) AS min_count FROM counts),
        ranked AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                   AS rk
          FROM documents
        ),
        kept AS (
          SELECT source, COUNT(*) AS n_kept, SUM(doc_id) AS kept_id_sum
          FROM ranked, mc WHERE rk <= min_count GROUP BY source
        )
        SELECT k.source, c.n_docs, k.n_kept,
               CAST(k.kept_id_sum AS BIGINT) AS kept_id_sum
        FROM kept k JOIN counts c ON k.source = c.source
        ORDER BY k.source
    """,
    "curation_pipeline_end_to_end": (
        "WITH gated AS ("
        "  SELECT doc_id, source, text, "
        f"  ROW_NUMBER() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) "
        "    AS dup_rk "
        "  FROM documents "
        f"  WHERE n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS} "
        "    AND lang = 'en'), "
        "survivors AS (SELECT * FROM gated WHERE dup_rk = 1) "
        f"SELECT {_SPLIT_SQL} AS split, source, COUNT(*) AS n_docs, "
        "CAST(SUM(CAST(len(list_filter(string_split(text, ' '), x -> x != '')) "
        "AS BIGINT)) AS BIGINT) AS total_tokens "
        "FROM survivors GROUP BY 1, 2 ORDER BY 1, 2"
    ),
    "split_train_val_test": (
        f"SELECT {_SPLIT_SQL} AS split, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
        "FROM documents GROUP BY 1 ORDER BY 1"
    ),
    "stratified_sample_per_source": (
        "SELECT doc_id, source, lang FROM ("
        "  SELECT doc_id, source, lang, "
        "  ROW_NUMBER() OVER (PARTITION BY source "
        "      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk "
        "  FROM documents) "
        f"WHERE rk <= {SAMPLE_PER_SOURCE} ORDER BY source, doc_id"
    ),
    "sequence_pack_contiguous": (
        "WITH sized AS (SELECT doc_id, source, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x != '')) "
        "AS BIGINT) AS n_tokens FROM documents), "
        "packed AS (SELECT source, "
        "CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
        f"/ {PACK_BUDGET}) AS BIGINT) AS bin, n_tokens FROM sized) "
        "SELECT source, bin, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens "
        "FROM packed GROUP BY source, bin ORDER BY source, bin"
    ),
    "vocab_top_terms": (
        "SELECT term, COUNT(*) AS freq FROM "
        f"(SELECT unnest({_TOKS_LOWER}) AS term FROM documents) "
        "GROUP BY term "
        f"ORDER BY freq DESC, term ASC LIMIT {VOCAB_TOP_K}"
    ),
    "contamination_ngram_overlap": (
        f"WITH {_SHINGLES_CTE}, "
        f"ev AS (SELECT DISTINCT shingle FROM sh "
        f"       WHERE doc_id % {EVAL_MOD} = {EVAL_MOD - 3}), "
        f"tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> {EVAL_MOD - 3}) "
        "SELECT tr.doc_id, COUNT(DISTINCT tr.shingle) AS n_shared_ngrams "
        "FROM tr JOIN ev ON tr.shingle = ev.shingle "
        "GROUP BY tr.doc_id "
        "ORDER BY n_shared_ngrams DESC, doc_id ASC LIMIT 100"
    ),
    "quality_filter_funnel": (
        "WITH flagged AS (SELECT doc_id, lang, n_chars, "
        f"ROW_NUMBER() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) "
        "AS dup_rk FROM documents), "
        "agg AS (SELECT COUNT(*) AS raw, "
        f"CAST(SUM(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS} "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS after_length, "
        f"CAST(SUM(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS} "
        "    AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS after_lang, "
        f"CAST(SUM(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS} "
        "    AND lang = 'en' AND dup_rk = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS after_dedup "
        "FROM flagged) "
        "SELECT '0_raw' AS stage, raw AS n_docs FROM agg "
        "UNION ALL SELECT '1_length', after_length FROM agg "
        "UNION ALL SELECT '2_lang', after_lang FROM agg "
        "UNION ALL SELECT '3_dedup', after_dedup FROM agg "
        "ORDER BY stage"
    ),
    "dedup_keep_canonical": (
        "WITH ranked AS (SELECT doc_id, source, "
        f"ROW_NUMBER() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) "
        "AS rk FROM documents) "
        "SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_canonical "
        "FROM ranked GROUP BY source ORDER BY source"
    ),
    "decontaminate_exact": (
        f"WITH ev AS (SELECT DISTINCT md5({_NORM}) AS h FROM documents "
        f"            WHERE doc_id % {DECON_MOD} = 0), "
        f"tr AS (SELECT source, md5({_NORM}) AS h FROM documents "
        f"       WHERE doc_id % {DECON_MOD} != 0) "
        "SELECT source, COUNT(*) AS n_train, "
        "CAST(SUM(CASE WHEN h IN (SELECT h FROM ev) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_contaminated "
        "FROM tr GROUP BY source ORDER BY source"
    ),
    "vocab_oov_rate": (
        f"WITH tok AS (SELECT source, unnest({_TOKS_LOWER}) AS term "
        "             FROM documents), "
        "vocab AS (SELECT term FROM (SELECT term, COUNT(*) AS freq "
        "          FROM tok GROUP BY term) "
        f"         ORDER BY freq DESC, term ASC LIMIT {OOV_VOCAB_K}), "
        "per_src AS (SELECT source, COUNT(*) AS n_tokens FROM tok "
        "            GROUP BY source), "
        "oov AS (SELECT source, COUNT(*) AS n_oov FROM tok "
        "        WHERE term NOT IN (SELECT term FROM vocab) "
        "        GROUP BY source) "
        "SELECT source, n_tokens, "
        "CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov, "
        "CAST(coalesce(n_oov, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) "
        "AS oov_rate "
        "FROM per_src LEFT JOIN oov USING (source) ORDER BY source"
    ),
    "token_length_histogram": (
        "WITH sized AS (SELECT source, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x != '')) "
        "AS BIGINT) AS n_tokens FROM documents), "
        "bucketed AS (SELECT source, n_tokens, "
        "CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket "
        "FROM sized WHERE n_tokens > 0) "
        "SELECT source, bucket, COUNT(*) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, "
        "MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens "
        "FROM bucketed GROUP BY source, bucket ORDER BY source, bucket"
    ),
}


ORACLES["chunk_exact_dedup"] = f"""
WITH ch AS ({ORACLES["doc_chunking"]}),
ranked AS (
  SELECT c.doc_id, c.chunk_tokens, d.source,
         row_number() OVER (PARTITION BY c.chunk_md5
                            ORDER BY c.doc_id, c.chunk_idx) AS rk
  FROM ch c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(chunk_tokens) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(CASE WHEN rk > 1 THEN chunk_tokens END), 0)
         AS BIGINT) AS tokens_removed,
       CAST(floor(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END)
                  * 1000000 / COUNT(*)) AS BIGINT) AS removed_ppm
FROM ranked GROUP BY source ORDER BY source
"""


def corpus_report_card(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset report card — the one-table summary a
    training-data team publishes with every corpus release (HF dataset
    card "statistics" section): volume (docs/chars/tokens), language
    profile (count + deterministic mode), exact-duplicate load, and
    mean quality — composed from the same engine primitives the
    pipeline itself runs, in three shuffles total.

    Exactness: quality is floored to per-doc milli units BEFORE
    summing (float sums are association-order-dependent; int64 sums
    are not); the dominant language tie-breaks lexicographically; dup
    marking is keep-first on md5(normalized text) — all bit-stable
    across engines and cluster sizes.
    """
    from .text import normalized, text_quality_score

    d = load_table(spark, sf, "documents")
    q = text_quality_score(spark, sf).select(
        "doc_id", F.floor(F.col("quality_score") * 1000).alias("qm")
    )
    base = (
        d.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.size(tokens(F.col("text"))).alias("n_tokens"),
            F.md5(normalized(F.col("text"))).alias("h"),
        )
        .join(q, "doc_id")
        .withColumn(
            "is_dup",
            (
                F.row_number().over(
                    W.partitionBy("h").orderBy("doc_id")
                )
                > 1
            ).cast("long"),
        )
    )
    # mode only needs (source, lang) — group straight off the scan so
    # the quality join + dup window aren't recomputed for this branch
    lang_mode = (
        d.groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("source").orderBy(
                    F.col("n").desc(), F.col("lang").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
            F.sum("is_dup").cast("long").alias("n_exact_dups"),
            F.sum("qm").cast("long").alias("sum_quality_milli"),
        )
        .join(F.broadcast(lang_mode), "source")
        .orderBy("source")
    )


QUERIES["corpus_report_card"] = corpus_report_card
ORACLES["corpus_report_card"] = f"""
WITH q AS ({_TEXT_ORACLES["text_quality_score"]}),
base AS (
  SELECT d.doc_id, d.source, d.lang, d.n_chars,
         len(list_filter(string_split(d.text, ' '), x -> x != ''))
           AS n_tokens,
         CAST(floor(q.quality_score * 1000) AS BIGINT) AS qm,
         CASE WHEN row_number() OVER (
                PARTITION BY md5({_NORM})
                ORDER BY d.doc_id) > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents d JOIN q ON d.doc_id = q.doc_id
),
lang_mode AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY COUNT(*) DESC, lang ASC) AS rk
    FROM base GROUP BY source, lang
  ) WHERE rk = 1
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(b.n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs,
       CAST(SUM(b.is_dup) AS BIGINT) AS n_exact_dups,
       CAST(SUM(b.qm) AS BIGINT) AS sum_quality_milli,
       m.top_lang
FROM base b JOIN lang_mode m ON b.source = m.source
GROUP BY b.source, m.top_lang
ORDER BY b.source
"""


def quality_dup_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration audit: exact-duplicate load per quality decile —
    the sanity check that quality filtering and dedup agree (in most
    real corpora, boilerplate clusters at LOW quality; if dups
    concentrate in HIGH deciles the quality score is broken).
    Deciles are ntile(10) over the total order (score, doc_id), so
    bucket assignment is deterministic in both engines; dup marking
    is keep-first on md5(normalized text).

    Scale: the decile assignment is NOT a global ntile window (which
    would funnel the whole corpus through one task) — it is the
    distributed prefix-sum rank from ``distributed.ranked_total``
    (range partition → per-partition rank → broadcast offsets) plus
    the SQL-standard bucket-size formula, bit-identical to ntile.
    """
    from .distributed import ntile_expr, ranked_total
    from .text import normalized, text_quality_score

    q = text_quality_score(spark, sf).select("doc_id", "quality_score")
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.md5(normalized(F.col("text"))).alias("h")
    )
    joined = d.join(q, "doc_id").withColumn(
        "is_dup",
        (
            F.row_number().over(W.partitionBy("h").orderBy("doc_id")) > 1
        ).cast("long"),
    )
    ranked, total = ranked_total(
        joined,
        [F.col("quality_score").asc_nulls_last(), F.col("doc_id").asc()],
        "_grank",
    )
    base = ranked.withColumn("decile", ntile_expr("_grank", total, 10))
    return (
        base.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_exact_dups"),
            F.floor(
                F.sum("is_dup") * F.lit(1_000_000) / F.count("*")
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("decile")
    )


QUERIES["quality_dup_calibration"] = quality_dup_calibration
ORACLES["quality_dup_calibration"] = f"""
WITH q AS ({_TEXT_ORACLES["text_quality_score"]}),
base AS (
  SELECT d.doc_id, q.quality_score,
         CASE WHEN row_number() OVER (PARTITION BY md5({_NORM})
                                      ORDER BY d.doc_id) > 1
              THEN 1 ELSE 0 END AS is_dup,
         ntile(10) OVER (ORDER BY q.quality_score ASC NULLS LAST, d.doc_id ASC)
           AS decile
  FROM documents d JOIN q ON d.doc_id = q.doc_id
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
       CAST(floor(SUM(is_dup) * 1000000 / COUNT(*)) AS BIGINT) AS dup_ppm
FROM base GROUP BY decile ORDER BY decile
"""


VOCAB_DIV_TOPK = 50  # per-source top-term list size
VOCAB_DIV_PAIRS = 20  # most-similar pairs reported


def source_vocab_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus comparison: pairwise Jaccard similarity of per-source
    top-50 term sets — the redundancy scan run before mixing sources
    into a training blend (two sources sharing most of their
    characteristic vocabulary add diversity in name only). Exact
    integer Jaccard in ppm; ties in the top-term cut break by term so
    the sets are deterministic in both engines.

    Plan: one token explode + (source, term) count, a per-source
    top-k window (sources-sized keys), then the pair join runs on the
    TERM inverted index of the top lists — K·sources rows, never a
    source×source×vocab blowup.
    """
    d = load_table(spark, sf, "documents")
    counts = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("t").asc()
    )
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= VOCAB_DIV_TOPK)
        .select("source", "t")
    )
    sizes = top.groupBy("source").agg(F.count("*").alias("sz"))
    a = top.select(F.col("source").alias("s1"), "t")
    b = top.select(F.col("source").alias("s2"), "t")
    shared = (
        a.join(b, "t")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    za = sizes.select(F.col("source").alias("s1"), F.col("sz").alias("sz1"))
    zb = sizes.select(F.col("source").alias("s2"), F.col("sz").alias("sz2"))
    return (
        shared.join(F.broadcast(za), "s1")
        .join(F.broadcast(zb), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.floor(
                F.col("n_shared")
                * F.lit(1_000_000)
                / (F.col("sz1") + F.col("sz2") - F.col("n_shared"))
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), F.col("s1"), F.col("s2"))
        .limit(VOCAB_DIV_PAIRS)
    )


QUERIES["source_vocab_divergence"] = source_vocab_divergence
ORACLES["source_vocab_divergence"] = f"""
WITH counts AS (
  SELECT source, w AS t, COUNT(*) AS n FROM (
    SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w FROM documents
  ) GROUP BY 1, 2
),
top AS (
  SELECT source, t FROM (
    SELECT source, t,
           row_number() OVER (PARTITION BY source
                              ORDER BY n DESC, t ASC) AS rk
    FROM counts
  ) WHERE rk <= {VOCAB_DIV_TOPK}
),
sizes AS (SELECT source, COUNT(*) AS sz FROM top GROUP BY source),
shared AS (
  SELECT a.source AS s1, b.source AS s2,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM top a JOIN top b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.s1, s.s2, s.n_shared,
       CAST(floor(s.n_shared * 1000000
                  / (za.sz + zb.sz - s.n_shared)) AS BIGINT) AS jaccard_ppm
FROM shared s JOIN sizes za ON s.s1 = za.source
              JOIN sizes zb ON s.s2 = zb.source
ORDER BY jaccard_ppm DESC, s.s1, s.s2
LIMIT {VOCAB_DIV_PAIRS}
"""


N_SHARDS = 8


def curation_shard_write(spark: SparkSession, sf: str) -> DataFrame:
    """The pipeline's LAST mile: write the corpus into N deterministic
    shards (md5-hash assignment — rerun-stable, engine-stable) and
    read the manifest back from the written files, proving the write
    path preserves every row: per-shard doc counts, char totals, and
    an exact doc-id sum the oracle recomputes straight from the source
    table. This is the emit-training-shards step every corpus build
    ends with; at 100 TB the same partitionBy scales to thousands of
    shards with one shuffle.
    """
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % N_SHARDS
        ).alias("shard"),
    )
    out = tmpdir_reclaimed_at_exit("corpus_shards_")
    d.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
        .orderBy("shard")
    )


QUERIES["curation_shard_write"] = curation_shard_write
ORACLES["curation_shard_write"] = f"""
SELECT CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) % {N_SHARDS} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
FROM documents GROUP BY 1 ORDER BY 1
"""


GLOBAL_SHUFFLE_SALT = "epoch0"  # seed: change per epoch for a new order
GLOBAL_SHUFFLE_SHARD = 256  # docs per training shard


@memoized("derived")
def curation_global_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded global shuffle + shard assignment — the reproducible
    pseudorandom permutation a training run needs before packing
    examples into shards (same salt → same order on any cluster
    layout; new salt per epoch → fresh order, no reshuffle job state).

    The permutation key is md5(salt ‖ doc_id); the shuffle POSITION is
    an exact global rank over that key — computed with the distributed
    prefix-sum (``distributed.ranked_total``: range partition →
    per-partition rank → broadcast offsets), NEVER a global row_number
    window, so no task ever holds the whole corpus. Shard id and
    offset-in-shard derive arithmetically from the position.
    """
    from .distributed import ranked_total

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(GLOBAL_SHUFFLE_SALT), F.col("doc_id").cast("string")
            )
        ).alias("k"),
    )
    ranked, _ = ranked_total(
        d, [F.col("k").asc(), F.col("doc_id").asc()], "shuffle_pos"
    )
    return ranked.select(
        "doc_id",
        "shuffle_pos",
        F.floor((F.col("shuffle_pos") - 1) / GLOBAL_SHUFFLE_SHARD)
        .cast("long")
        .alias("shard_id"),
        ((F.col("shuffle_pos") - 1) % GLOBAL_SHUFFLE_SHARD)
        .cast("long")
        .alias("pos_in_shard"),
    )


QUERIES["curation_global_shuffle"] = curation_global_shuffle
ORACLES["curation_global_shuffle"] = f"""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('{GLOBAL_SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)),
                    doc_id) AS shuffle_pos
  FROM documents
)
SELECT doc_id, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
       CAST(floor((shuffle_pos - 1) / {GLOBAL_SHUFFLE_SHARD}) AS BIGINT)
         AS shard_id,
       CAST((shuffle_pos - 1) % {GLOBAL_SHUFFLE_SHARD} AS BIGINT)
         AS pos_in_shard
FROM ranked
"""


def contamination_hits(train_docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """``(d_tr, source, hit)`` per doc of ``train_docs``: ``hit`` is 1
    when a ``minhash_probe`` pair joins it to an eval doc —
    ``stream_decontaminate_gate``'s per-batch body, and
    ``decontaminate_fuzzy_minhash`` applied to the whole training set."""
    hits = (
        pairs.select(F.col("probe").alias("d_tr"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # no broadcast hint on the hit set: it is contamination-sized,
    # usually tiny but in principle unbounded (a poisoned corpus), so
    # AQE picks broadcast vs shuffle from the measured size at runtime
    return (
        train_docs.select(F.col("doc_id").alias("d_tr"), "source")
        .join(hits, "d_tr", "left")
        .select("d_tr", "source", F.coalesce("hit", F.lit(0)).alias("hit"))
    )


def contamination_rollup(hits: DataFrame) -> DataFrame:
    """Per-source train / flagged counts of ``contamination_hits`` rows."""
    return (
        hits.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum("hit").cast("long").alias("n_fuzzy_contaminated"),
            F.sum(F.when(F.col("hit") == 1, F.col("d_tr")))
            .cast("long")
            .alias("contaminated_id_sum"),
        )
        .orderBy("source")
    )


def decontaminate_fuzzy_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy benchmark decontamination — the MinHash third pass after
    ``decontaminate_exact`` (hash collision) and
    ``contamination_ngram_overlap`` (shingle overlap count): flag
    training docs whose Jaccard similarity to ANY held-out eval doc
    reaches the near-dup threshold, catching lightly-edited benchmark
    copies that survive both cheaper passes (the Dolma/LLM-pipeline
    standard treatment).

    Plan shape mirrors ``dedup_incremental_minhash``: one cached
    shingle table and one band table, split BEFORE the join into the
    eval (build) and train (probe) sides of ``minhash_probe`` — never
    train×train work, and the eval side is corpus-independent-small.
    """
    d = load_table(spark, sf, "documents")
    sh = cached(shingle_set(d))
    bands = minhash_bands(sh)
    is_eval = (F.col("doc_id") % DECON_MOD) == 0
    pairs = minhash_probe(sh, bands.filter(is_eval), bands.filter(~is_eval))
    return contamination_rollup(contamination_hits(d.filter(~is_eval), pairs))


QUERIES["decontaminate_fuzzy_minhash"] = decontaminate_fuzzy_minhash


ORACLES["decontaminate_fuzzy_minhash"] = f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDS_CTE},
cand AS (
  SELECT a.doc_id AS d_ev, b.doc_id AS d_tr
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  WHERE a.doc_id % {DECON_MOD} = 0 AND b.doc_id % {DECON_MOD} != 0
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d_ev, c.d_tr, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d_ev
  JOIN sh s2 ON s2.doc_id = c.d_tr AND s2.shingle = s1.shingle
  GROUP BY 1, 2
),
hits AS (
  SELECT DISTINCT d_tr FROM inter
  JOIN sizes n1 ON n1.doc_id = d_ev
  JOIN sizes n2 ON n2.doc_id = d_tr
  WHERE round(CAST(i AS DOUBLE)/CAST(n1.n + n2.n - i AS DOUBLE), 6)
          >= {JACCARD_THRESHOLD}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN h.d_tr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fuzzy_contaminated,
       CAST(SUM(CASE WHEN h.d_tr IS NOT NULL THEN doc_id END) AS BIGINT)
         AS contaminated_id_sum
FROM documents d LEFT JOIN hits h ON h.d_tr = d.doc_id
WHERE doc_id % {DECON_MOD} != 0
GROUP BY source ORDER BY source
"""


EPOCH_REPEAT_CAP_MILLI = 4000  # max 4 epochs per source (data-constrained cap)


def curation_epoch_repeat_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Data-constrained mixture planning: per source, the repeat
    factor (in milli-epochs) that brings every source up to the
    LARGEST source's token count, capped at 4 epochs — the
    "how many times may we repeat the small domains" step a
    token-budgeted pretraining mix computes before shard writing
    (repeating beyond ~4 epochs yields rapidly diminishing returns,
    hence the cap).

    Integer-exact: repeat_milli = min(cap, target·1000 intdiv n),
    planned = n·repeat_milli intdiv 1000 — true integer division
    (Spark ``div`` == DuckDB ``//`` on non-negative operands), with
    magnitudes ≤ tokens·4000, inside int64 to exabyte corpora. One
    map-side-combined groupBy over sources + a broadcast 1-row max.
    """
    d = load_table(spark, sf, "documents")
    per_src = (
        d.select("source", F.size(tokens(F.col("text"))).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    target = per_src.agg(F.max("n_tokens").alias("target_tokens"))
    repeat = F.least(
        F.lit(EPOCH_REPEAT_CAP_MILLI).cast("long"),
        F.expr("target_tokens * 1000L div n_tokens").cast("long"),
    )
    return (
        per_src.join(F.broadcast(target))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            repeat.alias("repeat_milli"),
        )
        .withColumn(
            "planned_tokens",
            F.expr("n_tokens * repeat_milli div 1000").cast("long"),
        )
        .orderBy("source")
    )


QUERIES["curation_epoch_repeat_plan"] = curation_epoch_repeat_plan
ORACLES["curation_epoch_repeat_plan"] = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tgt AS (SELECT MAX(n_tokens) AS target_tokens FROM per_src),
planned AS (
  SELECT source, n_docs, n_tokens,
         least({EPOCH_REPEAT_CAP_MILLI},
               CAST(t.target_tokens * 1000 // n_tokens AS BIGINT))
           AS repeat_milli
  FROM per_src, tgt t
)
SELECT source, n_docs, n_tokens, CAST(repeat_milli AS BIGINT) AS repeat_milli,
       CAST(n_tokens * repeat_milli // 1000 AS BIGINT)
         AS planned_tokens
FROM planned ORDER BY source
"""


PACK_SEQ_LENS = (128, 512, 2048)  # audit grid of context lengths


def curation_packing_efficiency_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-efficiency audit across candidate context lengths: for
    each seq_len, the tokens kept / truncated / padded and the
    utilization (ppm) under one-document-per-sequence packing — the
    measurement that decides whether a corpus needs contiguous packing
    (``sequence_pack_contiguous``) or document packing suffices at a
    given context size.

    Narrow fan-out: each doc row explodes to the 3 grid lengths
    (constant factor), then one map-side-combined groupBy over 3 keys.
    Integer-exact throughout — utilization uses true integer division
    (Spark ``div`` == DuckDB ``//`` on non-negative operands), never a
    2⁵³-bounded double divide.
    """
    d = load_table(spark, sf, "documents")
    sized = d.select(F.size(tokens(F.col("text"))).cast("long").alias("n"))
    grid = sized.select(
        "n",
        F.explode(
            F.array(*[F.lit(line).cast("long") for line in PACK_SEQ_LENS])
        ).alias("seq_len"),
    )
    kept = F.least(F.col("n"), F.col("seq_len"))
    return (
        grid.select(
            "seq_len",
            "n",
            kept.alias("kept"),
            (F.col("n") - kept).alias("truncated"),
            (F.col("seq_len") - kept).alias("padding"),
        )
        .groupBy("seq_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("tokens_total"),
            F.sum("kept").cast("long").alias("tokens_kept"),
            F.sum("truncated").cast("long").alias("tokens_truncated"),
            F.sum("padding").cast("long").alias("pad_tokens"),
        )
        .withColumn(
            "utilization_ppm",
            F.expr("tokens_kept * 1000000L div (n_docs * seq_len)").cast(
                "long"
            ),
        )
        .orderBy("seq_len")
    )


QUERIES["curation_packing_efficiency_audit"] = curation_packing_efficiency_audit
ORACLES["curation_packing_efficiency_audit"] = f"""
WITH sized AS (
  SELECT len(list_filter(string_split(text, ' '), x -> x != '')) AS n FROM documents
),
grid AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(seq_len AS BIGINT) AS seq_len
  FROM sized CROSS JOIN
       (SELECT unnest([{", ".join(str(line) for line in PACK_SEQ_LENS)}])
          AS seq_len)
),
terms AS (
  SELECT seq_len, n, least(n, seq_len) AS kept,
         n - least(n, seq_len) AS truncated,
         seq_len - least(n, seq_len) AS padding
  FROM grid
)
SELECT seq_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS tokens_total,
       CAST(SUM(kept) AS BIGINT) AS tokens_kept,
       CAST(SUM(truncated) AS BIGINT) AS tokens_truncated,
       CAST(SUM(padding) AS BIGINT) AS pad_tokens,
       CAST(SUM(kept) * 1000000 // (COUNT(*) * any_value(seq_len))
         AS BIGINT) AS utilization_ppm
FROM terms GROUP BY seq_len ORDER BY seq_len
"""


# ---------------------------------------------------------------------------
# allocation planners: largest-remainder eval split, token waterfill
# ---------------------------------------------------------------------------

EVAL_SHARE_DEN = 5  # eval budget = corpus_docs // 5 (20%)


def split_largest_remainder(spark: SparkSession, sf: str) -> DataFrame:
    """Exact proportional eval-set allocation across sources by the
    largest-remainder (Hamilton) method: every source gets
    floor(B·n_s/N) eval documents, and the B − Σfloor leftover seats go
    to the largest fractional remainders (ties broken by source name) —
    the allocation step an eval-split builder runs so the eval mixture
    matches the corpus mixture EXACTLY on a fixed budget (plain
    per-source rounding drifts by up to one doc per source, which at a
    10k-source corpus is thousands of eval slots).

    Integer-exact throughout: base quota and remainder are integer
    div/mod (no float shares), so allocation is reproducible on any
    engine. The remainder ranking is NOT a global window — sources are
    ranked with the distributed prefix-sum rank (``distributed.
    ranked_total``), so the plan holds when "source" is a 10M-key web
    domain column, and the corpus totals arrive via a broadcast 1-row
    aggregate.
    """
    from .distributed import ranked_total

    d = load_table(spark, sf, "documents")
    per_src = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    tot = per_src.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
    ).select("n_total", (F.col("n_total") / EVAL_SHARE_DEN).cast("long").alias("budget"))
    base = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("base_quota", (F.col("budget") * F.col("n_docs") / F.col("n_total")).cast("long"))
        .withColumn("remainder", (F.col("budget") * F.col("n_docs")) % F.col("n_total"))
    )
    floors = base.agg(F.sum("base_quota").cast("long").alias("sum_base"))
    ranked, _ = ranked_total(
        base.crossJoin(F.broadcast(floors)),
        [F.col("remainder").desc(), F.col("source").asc()],
        "_rem_rank",
    )
    return (
        ranked.withColumn(
            "extra",
            (F.col("_rem_rank") <= F.col("budget") - F.col("sum_base")).cast("long"),
        )
        .select(
            "source",
            "n_docs",
            "base_quota",
            "extra",
            (F.col("base_quota") + F.col("extra")).cast("long").alias("quota"),
        )
        .orderBy("source")
    )


QUERIES["split_largest_remainder"] = split_largest_remainder
ORACLES["split_largest_remainder"] = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_docs) AS n_total, SUM(n_docs) // {EVAL_SHARE_DEN} AS budget FROM per_src
),
base AS (
  SELECT source, n_docs,
         (budget * n_docs) // n_total AS base_quota,
         (budget * n_docs) % n_total AS remainder,
         budget
  FROM per_src CROSS JOIN tot
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY remainder DESC, source ASC) AS rk,
         SUM(base_quota) OVER () AS sum_base
  FROM base
)
SELECT source, n_docs, CAST(base_quota AS BIGINT) AS base_quota,
       CAST(CASE WHEN rk <= budget - sum_base THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN rk <= budget - sum_base THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM ranked ORDER BY source
"""


WATERFILL_NUM, WATERFILL_DEN = 3, 5  # token budget = 60% of corpus tokens


def mixture_token_waterfill(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget waterfilling across sources: given a global token
    budget B (60% of the corpus here), find the unique integer cap C
    such that Σ min(tokens_s, C) is maximal without exceeding B, and
    emit each source's capped allocation — the classic mixture planner
    that downsamples only the over-represented sources (every source
    below the waterline keeps all its tokens; the head sources are cut
    to the same level, which maximizes mixture entropy under the
    budget).

    Solved exactly in one pass over SOURCE-cardinality data: sources
    sorted by token count ascending get a distributed prefix-sum rank
    k and inclusive prefix P_k (``ranked_total`` +
    ``running_sum_total`` — no single-partition window even at 10M
    sources); on the interval t_k ≤ C < t_{k+1} the spend is
    P_k + (n−k)·C, so the candidate cap is ⌊(B−P_k)/(n−k)⌋ and exactly
    one interval admits its candidate. A virtual rank-0 row covers the
    C < t_1 interval.
    """
    from .distributed import ranked_total, running_sum_total

    d = load_table(spark, sf, "documents")
    per_src = d.select("source", tokens(F.col("text")).alias("toks")).select(
        "source", F.size("toks").cast("long").alias("n_tokens")
    ).groupBy("source").agg(F.sum("n_tokens").cast("long").alias("t"))

    ranked, n_src = ranked_total(
        per_src, [F.col("t").asc(), F.col("source").asc()], "k"
    )
    summed, t_total = running_sum_total(
        ranked, [F.col("t").asc(), F.col("source").asc()], "t", "p_k"
    )
    budget = t_total * WATERFILL_NUM // WATERFILL_DEN
    # interval rows: rank k carries [t_k, t_{k+1}); the virtual k=0 row
    # carries [0, t_1). t_{k+1} comes from the rank-(k+1) row, +inf for
    # the last rank (never valid when budget < total, asserted by the
    # budget choice).
    spark_sess = summed.sparkSession
    virtual = spark_sess.createDataFrame(
        [(0, 0, 0)], "k long, t long, p_k long"
    )
    iv = summed.select("k", "t", "p_k").unionByName(virtual)
    nxt = summed.select(
        (F.col("k") - 1).alias("k"), F.col("t").alias("t_next")
    )
    cand = (
        iv.join(nxt, "k", "inner")  # drops the last rank: cap < t_max guaranteed
        .withColumn("n_capped", F.lit(int(n_src)) - F.col("k"))
        # try_divide: Catalyst may push this projection below the join
        # that drops the k = n_src row, where the divisor is 0; that
        # row's NULL cap is discarded by the join either way
        .withColumn(
            "cap",
            F.floor(
                F.try_divide(F.lit(int(budget)) - F.col("p_k"), F.col("n_capped"))
            ).cast("long"),
        )
        .where((F.col("cap") >= F.col("t")) & (F.col("cap") < F.col("t_next")))
        .select("cap")
    )
    return (
        per_src.crossJoin(F.broadcast(cand))
        .select(
            "source",
            F.col("t").alias("n_tokens"),
            F.least(F.col("t"), F.col("cap")).cast("long").alias("alloc_tokens"),
            (F.col("t") > F.col("cap")).cast("long").alias("capped"),
            F.col("cap").cast("long").alias("water_level"),
        )
        .orderBy("source")
    )


QUERIES["mixture_token_waterfill"] = mixture_token_waterfill
ORACLES["mixture_token_waterfill"] = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != '')))
              AS BIGINT) AS t
  FROM documents GROUP BY source
),
ranked AS (
  SELECT source, t,
         row_number() OVER (ORDER BY t ASC, source ASC) AS k,
         SUM(t) OVER (ORDER BY t ASC, source ASC
                      ROWS UNBOUNDED PRECEDING) AS p_k,
         COUNT(*) OVER () AS n_src,
         SUM(t) OVER () * {WATERFILL_NUM} // {WATERFILL_DEN} AS budget
  FROM per_src
),
iv AS (
  SELECT k, t, p_k, n_src, budget FROM ranked
  UNION ALL
  SELECT 0, 0, 0, any_value(n_src), any_value(budget) FROM ranked
),
cand AS (
  SELECT iv.k, (iv.budget - iv.p_k) // (iv.n_src - iv.k) AS cap, nxt.t AS t_next,
         iv.t
  FROM iv JOIN ranked nxt ON nxt.k = iv.k + 1
),
cap AS (
  SELECT cap FROM cand WHERE cap >= t AND cap < t_next
)
SELECT source, t AS n_tokens,
       CAST(least(t, cap) AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN t > cap THEN 1 ELSE 0 END AS BIGINT) AS capped,
       CAST(cap AS BIGINT) AS water_level
FROM per_src CROSS JOIN cap ORDER BY source
"""


COVERAGE_KS = (10, 100, 1000)


def vocab_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Head-heaviness curve: what fraction of all token occurrences do
    the top-10 / top-100 / top-1000 terms cover — the number that
    decides tokenizer vocab size and stopword policy (a corpus where
    10 terms cover half the mass tokenizes very differently from a
    flat one). Exact integer ppm against the total token count.

    Plan: ONE term-count aggregate (map-side combined) reused by every
    curve point; each k is a TakeOrderedAndProject over the term table
    plus a 1-row sum — no global rank window, no vocab-sized sort, and
    k is a constant so every downstream frame is constant-bounded.
    """
    d = load_table(spark, sf, "documents").select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = d.groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    # memoized: the returned plan references this vocabulary-sized
    # checkpoint (one TakeOrdered per curve point reads it), so it
    # can't be released here — the memo bounds the session to ONE
    # resident copy instead of one per call (see checkpoints.py)
    counts = memo_local_checkpoint(counts, eager=False)
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    out = None
    for k in COVERAGE_KS:
        top = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(k)
        part = (
            top.agg(F.sum("cnt").cast("long").alias("covered_tokens"))
            .crossJoin(F.broadcast(totals))
            .select(
                F.lit(k).cast("long").alias("top_k"),
                "vocab_size",
                "covered_tokens",
                (F.col("covered_tokens") * 1_000_000 / F.col("total_tokens"))
                .cast("long")
                .alias("coverage_ppm"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("top_k")


QUERIES["vocab_coverage_curve"] = vocab_coverage_curve
ORACLES["vocab_coverage_curve"] = f"""
WITH counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term FROM documents)
  GROUP BY term
),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
  FROM counts
),
tot AS (
  SELECT SUM(cnt) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM counts
)
{" UNION ALL ".join(
    f'''SELECT CAST({k} AS BIGINT) AS top_k, tot.vocab_size,
           CAST(SUM(r.cnt) AS BIGINT) AS covered_tokens,
           CAST(SUM(r.cnt) * 1000000 // any_value(tot.total_tokens) AS BIGINT)
             AS coverage_ppm
    FROM ranked r CROSS JOIN tot
    WHERE r.rk <= {k} GROUP BY tot.vocab_size'''
    for k in COVERAGE_KS)}
ORDER BY top_k
"""


# -- temperature-scaled mixture weights ------------------------------
# T = 0.5: sampling weight ∝ p^(1/T) = p² — the standard multilingual
# upweighting transform (mT5/XLM-R style) at the one temperature where
# the math stays in exact integer arithmetic (squares), so both
# engines agree bit-for-bit at any corpus size.


def mixture_temperature_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source sampling weights: natural weight
    (token share) vs T=0.5 temperature weight (share of squared token
    counts) in exact ppm, plus the boost direction — the mixture
    planner that decides how much to upweight head sources (T<1
    sharpens toward big sources; the common T>1 flattening is the same
    formula with the exponent inverted, checked here at the integer
    point).

    Scale: one map-side-combined groupBy(source) → sources-sized
    frame; totals broadcast back via a 1-row cross join. Squares and
    their sums run in DECIMAL(38,0) (int64 would wrap at ~3e9 tokens
    per source); the ppm floor-division is computed as
    (num − num % tot) / tot so no engine rounding enters.
    """
    d = load_table(spark, sf, "documents")
    per_src = (
        d.select("source", F.size(tokens(F.col("text"))).cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("toks"))
    )
    per_src = per_src.select(
        "source",
        "toks",
        (F.col("toks").cast("decimal(38,0)") * F.col("toks")).alias("toks_sq"),
    )
    tot = per_src.agg(
        F.sum("toks").cast("decimal(38,0)").alias("t1"),
        F.sum("toks_sq").cast("decimal(38,0)").alias("t2"),
    )

    def _ppm(num, den):
        scaled = num * F.lit(1_000_000)
        return ((scaled - scaled % den) / den).cast("long")

    out = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        _ppm(F.col("toks").cast("decimal(38,0)"), F.col("t1")).alias(
            "w_natural_ppm"
        ),
        _ppm(F.col("toks_sq"), F.col("t2")).alias("w_t05_ppm"),
    )
    return out.select(
        "source",
        "toks",
        "w_natural_ppm",
        "w_t05_ppm",
        (F.col("w_t05_ppm") - F.col("w_natural_ppm")).alias("boost_ppm"),
    ).orderBy("source")


QUERIES["mixture_temperature_weights"] = mixture_temperature_weights
ORACLES["mixture_temperature_weights"] = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != '')))
              AS BIGINT) AS toks
  FROM documents GROUP BY source
),
sq AS (
  SELECT source, toks, CAST(toks AS HUGEINT) * toks AS toks_sq FROM per_src
),
tot AS (
  SELECT CAST(SUM(toks) AS HUGEINT) AS t1, SUM(toks_sq) AS t2 FROM sq
)
SELECT s.source, s.toks,
       CAST(CAST(s.toks AS HUGEINT) * 1000000 // t.t1 AS BIGINT)
         AS w_natural_ppm,
       CAST(s.toks_sq * 1000000 // t.t2 AS BIGINT) AS w_t05_ppm,
       CAST(s.toks_sq * 1000000 // t.t2
            - CAST(s.toks AS HUGEINT) * 1000000 // t.t1 AS BIGINT)
         AS boost_ppm
FROM sq s CROSS JOIN tot t
ORDER BY s.source
"""


# -- systematic PPS sampling ------------------------------------------

PPS_SAMPLE_K = 200  # target sample size


def sample_systematic_pps(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: documents
    are laid out on a line by cumulative weight (n_chars — the token-
    mass proxy) and every ⌈W/K⌉-th position is selected, so a doc's
    selection probability is proportional to its length and long docs
    can be picked at most once per stride. This is the deterministic
    PPS design survey statistics uses (Madow systematic sampling) —
    the right shape for "sample K docs weighted by token count" over a
    training corpus, and unlike A-ES reservoir keys it needs no
    transcendental functions, so selection is integer-exact in any
    engine.

    Plan at 100 TB: the cumulative weight is the distributed
    range-partitioned prefix sum (``distributed.running_sum_total`` —
    one bounded O(partitions) collect, never a single-partition
    window); selection is then a scan-local integer predicate
    (⌊cum/stride⌋ > ⌊(cum−w)/stride⌋). Deterministic given the
    (doc_id) order — reshuffle the line by a seeded hash first if the
    storage order itself is biased.
    """
    from .distributed import running_sum_total

    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    cum, total = running_sum_total(d, [F.col("doc_id")], "w", "cum")
    stride = max(total // PPS_SAMPLE_K, 1)
    # `div`, not floor(/): `/` on BIGINTs is IEEE double division, whose
    # 53-bit mantissa silently mis-buckets once cumulative weight passes
    # 2^53 — a real regime at 100 TB. True integral division keeps the
    # "integer-exact" selection contract (oracle side uses `//`; all
    # operands non-negative, so truncation == floor).
    return (
        cum.where(
            F.expr(f"cum div {stride}") > F.expr(f"(cum - w) div {stride}")
        )
        .select("doc_id", "source", "w", "cum")
        .orderBy("doc_id")
    )


QUERIES["sample_systematic_pps"] = sample_systematic_pps


def _pps_oracle() -> str:
    # the stride depends on the corpus total, so the oracle computes it
    # the same way: one scalar subquery, integer division
    return f"""
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents
),
s AS (SELECT greatest(CAST(SUM(w) AS BIGINT) // {PPS_SAMPLE_K}, 1)
        AS stride FROM d)
SELECT doc_id, source, w, cum
FROM d CROSS JOIN s
WHERE cum // stride > (cum - w) // stride
ORDER BY doc_id
"""


ORACLES["sample_systematic_pps"] = _pps_oracle()
