"""Text-analysis operators (SURVEY §2.9 X3) over the documents fixture.

Training-data-pipeline primitives: token counting, quality scoring,
language ID (stopword heuristic), document fingerprinting. All pure
built-in expressions — at 100 TB these run scan-local with zero
shuffle (narrow transformations), so they scale linearly with
executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plan_cache import cached, memoized
from ..schema import load_table

# minimal English function-word list for the stopword heuristics
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal (robust to
    repeated separators)."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def stopword_count(toks: Column) -> Column:
    return F.size(F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS)))


def normalized(text: Column) -> Column:
    """Casefold + whitespace collapse — the canonical form used for
    fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def text_token_count(spark: SparkSession, sf: str) -> DataFrame:
    # tokenize ONCE in its own projection — lambda/expr reuse would
    # re-run split+filter per reference (see dedup.shingle_set note)
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.length("text").cast("bigint").alias("len_chars"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "len_chars",
        (
            (F.col("len_chars") - F.col("n_tokens") + 1).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("avg_token_len"),
    )


def text_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality features: length, token stats, stopword ratio,
    and a composite score — the usual pre-training filter inputs."""
    base = load_table(spark, sf, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks"),
        (F.length("text") >= 100).cast("int").alias("length_ok"),
    )
    toks = F.col("toks")
    counted = base.select(
        "doc_id",
        "length_ok",
        F.size(toks).cast("double").alias("n_tok"),
        stopword_count(toks).cast("double").alias("n_stop"),
        F.size(F.array_distinct(toks)).cast("double").alias("n_uniq"),
    )
    stop_ratio = F.col("n_stop") / F.col("n_tok")
    uniq_ratio = F.col("n_uniq") / F.col("n_tok")
    ok_d = F.col("length_ok").cast("double")
    return counted.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_ratio"),
        "length_ok",
        F.round(
            (uniq_ratio * 0.5 + stop_ratio * 0.3) * ok_d + F.lit(0.2) * ok_d, 6
        ).alias("quality_score"),
    )


def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram/function-word language heuristic: English function-word
    density → en/other decision plus the raw evidence columns."""
    base = load_table(spark, sf, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    counted = base.select(
        "doc_id",
        "lang",
        (
            stopword_count(F.col("toks")).cast("double")
            / F.size("toks").cast("double")
        ).alias("en_stopword_ratio"),
    )
    return counted.select(
        "doc_id",
        "lang",
        "en_stopword_ratio",
        F.when(F.col("en_stopword_ratio") >= 0.05, "en")
        .otherwise("other")
        .alias("lang_pred"),
    )


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic document fingerprints: md5 over the normalized
    text plus a coarse 16-hex-char prefix bucket (the shard key a
    100 TB dedup would partition on)."""
    d = load_table(spark, sf, "documents")
    norm = normalized(F.col("text"))
    fp = F.md5(norm)
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_bucket"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


def doc_stats_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus rollup per source×lang (coverage/monitoring query)."""
    d = load_table(spark, sf, "documents")
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (
                F.sum("n_chars").cast("double") / F.count("*").cast("double")
            ).alias("avg_chars"),
        )
    )


def text_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish tokenization: letter runs, digit runs, and single
    punctuation marks each count as one token (the pre-tokenizer split
    every byte-pair encoder applies before merges). Narrow regexp work
    — scan-local at any scale; contrast with the whitespace count in
    ``text_token_count``."""
    d = load_table(spark, sf, "documents")
    pieces = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    toks = d.select("doc_id", pieces.alias("pieces"))
    return toks.select(
        "doc_id",
        F.size("pieces").alias("n_bpe_tokens"),
        F.size(F.expr("filter(pieces, p -> p rlike '^[a-z]+$')")).alias("n_word_runs"),
        F.size(F.expr("filter(pieces, p -> p rlike '^[0-9]+$')")).alias("n_digit_runs"),
    )


def text_repetition_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/C4 family of rules):
    per-document distinct-token ratio and most-frequent-token share,
    plus the resulting keep/drop flag.

    Two-level aggregation — (doc, token) counts, then per-doc moments —
    so both shuffles are map-side combinable and the plan carries one
    row per distinct token, never the raw token stream, to the second
    stage. Ratios are emitted as RAW double divisions (no rounding):
    the quotient is one IEEE op, bit-identical across engines, whereas
    round() half-mode differs between engines at exact .5 ulps.
    """
    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    per_tok = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
    )
    dr = F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    tf = F.col("top_count").cast("double") / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        dr.alias("distinct_ratio"),
        tf.alias("top_token_frac"),
        ((tf > 0.2) | (dr < 0.3)).alias("is_repetitive"),
    )


# deterministic synthetic PII: the fixture corpus is clean word-soup,
# so emails/phones are injected keyed off doc_id — the scrub operator
# (regex find/replace/count) is the real thing, the data is the fake
PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
PII_PHONE_RE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"


def _with_synthetic_pii(d: DataFrame) -> Column:
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(F.lit(" user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" +10-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone)


def pii_scrub_stats(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction pass: count and scrub email/phone patterns,
    reporting per-doc match counts and the scrubbed length — the
    audit output a compliance-gated training pipeline must produce.
    Pure regexp_count/regexp_replace column expressions (scan-local,
    zero shuffle at any scale); patterns stay in the POSIX subset that
    Java regex and RE2-style engines read identically.
    """
    d = load_table(spark, sf, "documents")
    with_pii = d.select("doc_id", _with_synthetic_pii(d).alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<email>"),
        PII_PHONE_RE,
        "<phone>",
    )
    return with_pii.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE)).cast("long").alias(
            "n_phones"
        ),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def text_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID evaluation: confusion counts of the stopword
    heuristic's prediction against the fixture's labeled ``lang`` —
    the quality report a pipeline produces before trusting a
    classifier as a corpus filter. One types-sized aggregation over
    the existing predictor."""
    pred = text_lang_id(spark, sf)
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


def text_char_entropy_proxy(spark: SparkSession, sf: str) -> DataFrame:
    """Character-distribution quality signal: an integer-exact entropy
    proxy, H ≈ bitlen(n) − (Σ c·⌊log2 c⌋)/n over per-document character
    counts. True Shannon entropy needs float log2 whose last-ulp
    differs across libm implementations (breaking exact parity at
    quantization boundaries); ⌊log2⌋ via integer bit-length
    (length(bin(x))−1) keeps every accumulation integer, leaving a
    single identical IEEE division. Low proxy ⇒ few dominant
    characters (binary junk, repeated padding); two map-side-combined
    aggregations, same shape as ``text_repetition_filter``."""
    d = load_table(spark, sf, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per_ch = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per_doc = per_ch.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars_counted"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.sum(F.col("c") * (F.length(F.expr("bin(c)")) - 1))
        .cast("long")
        .alias("s_bits"),
    )
    return per_doc.select(
        "doc_id",
        "n_chars_counted",
        "distinct_chars",
        (
            (F.length(F.expr("bin(n_chars_counted)")) - 1).cast("double")
            - F.col("s_bits").cast("double")
            / F.col("n_chars_counted").cast("double")
        ).alias("entropy_bits_proxy"),
    )


def text_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model fluency proxy (the CCNet-style LM filter
    shape): per-doc average log-probability of its tokens under the
    corpus unigram distribution — low scores flag gibberish / rare-token
    soup for the quality funnel.

    Exact-parity form: avg log2 P(w) = (Σ ⌊log2 c_w⌋)/n − ⌊log2 total⌋
    with ⌊log2⌋ as integer bit-length (same libm-free trick as
    ``text_char_entropy_proxy``) — every accumulation is int64, then
    one division and one subtraction written identically in the
    oracle. Two-pass dataflow: corpus unigram counts (vocabulary-sized
    shuffle, map-side combined), then a token→count join and per-doc
    rollup. At 100 TB the count table is vocab-sized (≪ corpus) and
    everything else is the one explode shuffle.
    """
    d = load_table(spark, sf, "documents")
    words = cached(  # 2 consumers: the count table + the scoring join
        d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w"))
    )
    freqs = words.groupBy("w").agg(F.count("*").alias("c"))
    total = freqs.agg(F.sum("c").cast("long").alias("tot"))
    per_doc = (
        words.join(freqs, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.length(F.expr("bin(c)")) - 1).cast("long").alias("s_logc"),
        )
    )
    return per_doc.join(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        (
            F.col("s_logc").cast("double") / F.col("n_tokens").cast("double")
            - (F.length(F.expr("bin(tot)")) - 1).cast("double")
        ).alias("logprob_bits_proxy"),
    )


def text_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence segmentation stats: count, mean/max sentence length —
    the readability-profile features (very long run-on "sentences"
    flag boilerplate and code dumps). Terminator-regex segmentation
    (not locale BreakIterator — Java-only, not SQL-replayable);
    char-length sums are integers, the mean is one IEEE division.
    Pure narrow projection: zero shuffle at any scale."""
    d = load_table(spark, sf, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    with_s = d.select("doc_id", sents.alias("sents")).filter(
        F.size("sents") > 0
    )
    lens = F.transform(F.col("sents"), F.length)
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x)
    return with_s.select(
        "doc_id",
        F.size("sents").cast("long").alias("n_sentences"),
        (total.cast("double") / F.size("sents").cast("double")).alias(
            "mean_sentence_chars"
        ),
        F.array_max(lens).cast("long").alias("max_sentence_chars"),
    )


def text_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram conditional-LM fluency proxy — the stronger CCNet-style
    score: avg over a doc's bigrams of log2 P(w2|w1) ≈ (⌊log2 c(w1w2)⌋
    − ⌊log2 c(w1)⌋), corpus-estimated. Unusual word ORDER now lowers
    the score (the unigram proxy can't see order). Same libm-free
    integer bit-length log2 as ``text_unigram_logprob``; the only
    float ops are one division and they are written identically in
    the oracle.

    Dataflow: bigram shingles reuse ``dedup.shingle_set``'s narrow
    construction; the bigram and unigram count tables are
    vocabulary-sized; scoring is two joins keyed by the gram.
    """
    d = load_table(spark, sf, "documents")
    with_toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    toks = F.col("toks")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bigrams = cached(  # 3 consumers: counts ×2 + scoring
        with_toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.concat_ws(
                            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                        ).alias("bg"),
                    ),
                )
            ).alias("g"),
        ).select("doc_id", "g.w1", "g.bg")
    )
    bg_counts = bigrams.groupBy("bg").agg(F.count("*").alias("cb"))
    w1_counts = bigrams.groupBy("w1").agg(F.count("*").alias("cw"))
    scored = (
        bigrams.join(bg_counts, "bg")
        .join(w1_counts, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(
                (F.length(F.expr("bin(cb)")) - 1)
                - (F.length(F.expr("bin(cw)")) - 1)
            )
            .cast("long")
            .alias("s_log"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (
            F.col("s_log").cast("double") / F.col("n_bigrams").cast("double")
        ).alias("bigram_logprob_bits"),
    )


KEYWORDS_PER_DOC = 3


def text_keyword_extraction(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF-style keyword extraction with an EXACT integer ordering:
    per document, the top-3 terms ranked by (document frequency ASC,
    term frequency DESC, term ASC) — rarest-then-most-repeated, the
    discriminative-term rule behind TF-IDF without its float weights
    (log-idf × tf ties back to the same order on the fixture's scale,
    but floats would cost exactness; the integer rank is the contract).

    Dataflow: (doc, term) counts → vocabulary-sized df table joined
    back (map-side combinable both times) → per-doc top-k window.
    """
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    tf = cached(  # 2 consumers: the df table + the scoring join
        tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as W

    win = W.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tf").desc(), F.col("w").asc()
    )
    return (
        tf.join(dfreq, "w")
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= KEYWORDS_PER_DOC)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            F.col("w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
        )
    )


BM25_QUERY_TERMS = ("spark", "join", "query")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10
BM25_SCALE = 100_000  # fixed-point per-term contribution scale


def text_bm25_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """BM25-style sparse retrieval over the corpus for a fixed term
    set — the classic lexical-recall stage of a RAG / dedup-recall
    pipeline, expressed as pure relational algebra.

    Per (doc, term): tf-saturation f·(k1+1)/(f + k1·(1−b + b·dl·N/T))
    (with avgdl expanded to T/N so every input is an integer and the
    float expression tree is literally identical in both engines),
    times a rational IDF (N − df + ½)/(df + ½) — the log of classic
    BM25 replaced by its rational argument so the per-term
    contribution can be FLOORED to fixed-point and the per-doc sum
    stays integer-exact (ranking-equivalent for single-term queries;
    a documented deviation for multi-term).

    Plan: one explode→(doc, term) count over ONLY the query terms
    (the isin filter prunes before the shuffle), df and the corpus
    totals (N, T) are term-count/1-row aggregates broadcast back, and
    the final top-k is a TakeOrdered. Nothing input-sized shuffles
    twice; at 100 TB the explode is scan-local and the aggregate is
    map-side combined.
    """
    return (
        _bm25_scores(spark, sf)
        .orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP)
    )


def _bm25_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Full (unranked) BM25 score list — shared by the top-k query and
    the hybrid RRF fusion (similarity.hybrid_rrf_retrieval)."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    d = d.select("doc_id", "toks", F.size("toks").alias("dl"))
    totals = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    hits = (
        d.select(
            "doc_id", "dl", F.explode("toks").alias("w")
        )
        .where(F.col("w").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    dfreq = (
        hits.groupBy("w")
        .agg(F.count_distinct("doc_id").cast("long").alias("df"))
    )
    tfc = (
        F.col("f") * F.lit(BM25_K1 + 1.0)
        / (
            F.col("f")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B)
                * F.col("dl")
                * F.col("n_docs")
                / F.col("total_tokens")
            )
        )
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    contrib = F.floor(F.lit(BM25_SCALE) * idf * tfc).cast("long")
    return (
        hits.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(totals))  # 1-row corpus stats
        .select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").cast("long").alias("score_fp"),
            F.count("*").cast("long").alias("n_terms_matched"),
        )
    )


BPE_MERGES = 3


def bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    return _bpe_loop(spark, sf)[0]


def _bpe_loop(spark: SparkSession, sf: str):
    """BPE-style merge TRAINING over the corpus (word-pair variant):
    3 iterations of count-adjacent-pairs → pick the most frequent
    (ties broken lexicographically) → merge every non-overlapping
    occurrence left-to-right → recount. The tokenizer-training loop
    every LLM data pipeline runs, expressed as pure relational
    algebra — no UDFs, no driver-side token lists.

    Merge semantics are the standard greedy scan: when the winning
    pair is self-adjacent (w1 = w2 repeated, "a a a"), occurrences at
    odd offsets within a run are consumed by their left neighbor —
    implemented engine-portably as islands of consecutive candidate
    positions keeping every other one.

    Plan per iteration: one doc-keyed window (adjacent pairs via
    lead), one map-side-combined pair count, a 1-row TakeOrdered for
    the winner broadcast back, and a doc-keyed rebuild — the doc_id
    partitioning is reused across all three iterations, so at 100 TB
    each round is one partition-local pass plus a tiny global top-1.
    The oracle unrolls the identical three rounds in SQL
    (embedding_kmeans_lloyd precedent).
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    toks = d.select("doc_id", F.posexplode("toks").alias("pos", "t"))
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    out = None
    for r in range(1, BPE_MERGES + 1):
        p = toks.select(
            "doc_id", "pos", "t", F.lead("t").over(wdoc).alias("tn")
        )
        pairs = p.where(F.col("tn").isNotNull())
        top = (
            pairs.groupBy("t", "tn")
            .agg(F.count("*").cast("long").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(), F.col("t").asc(), F.col("tn").asc()
            )
            .limit(1)
            .select(
                F.col("t").alias("w1"), F.col("tn").alias("w2"), "pair_count"
            )
        )
        row = top.select(
            F.lit(r).cast("int").alias("merge_rank"), "w1", "w2", "pair_count"
        )
        out = row if out is None else out.unionAll(row)

        cand = pairs.join(
            F.broadcast(top.select("w1", "w2")),
            (F.col("t") == F.col("w1")) & (F.col("tn") == F.col("w2")),
        ).select("doc_id", "pos")
        grp = (F.col("pos") - F.row_number().over(wdoc)).alias("grp")
        keep = (
            cand.select("doc_id", "pos", grp)
            .withColumn(
                "irn",
                F.row_number().over(
                    W.partitionBy("doc_id", "grp").orderBy("pos")
                ),
            )
            .where(F.col("irn") % 2 == 1)
            .select("doc_id", "pos")
        )
        # rename the keep-frame keys: k1/k2 share lineage with p (all
        # derive from the same pair frame), so joins must reference
        # globally-unique column names to avoid self-join ambiguity
        k1 = keep.select(
            F.col("doc_id").alias("m_doc"), F.col("pos").alias("m_pos")
        )
        k2 = keep.select(
            F.col("doc_id").alias("c_doc"), (F.col("pos") + 1).alias("c_pos")
        )
        rebuilt = (
            p.join(
                k1,
                (F.col("doc_id") == F.col("m_doc"))
                & (F.col("pos") == F.col("m_pos")),
                "left",
            )
            .join(
                k2,
                (F.col("doc_id") == F.col("c_doc"))
                & (F.col("pos") == F.col("c_pos")),
                "left",
            )
            .where(F.col("c_pos").isNull())
            .select(
                "doc_id",
                "pos",
                F.when(
                    F.col("m_pos").isNotNull(),
                    F.concat(F.col("t"), F.lit("_"), F.col("tn")),
                )
                .otherwise(F.col("t"))
                .alias("t"),
            )
        )
        toks = rebuilt.select(
            "doc_id",
            (F.row_number().over(wdoc) - 1).alias("pos"),
            "t",
        )
    return out.orderBy("merge_rank"), toks


def _bpe_final_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus tokenization AFTER the trained merges — running the
    identical loop but returning the final token frame instead of the
    merge table (one shared implementation; the loop is cheap enough
    to re-derive and the plan is identical)."""
    return _bpe_loop(spark, sf)[1]




def bpe_encode_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the TRAINED merges back to the corpus and measure the
    compression they buy — the encoding half of the tokenizer loop
    (train picks merges; encode re-tokenizes everything with them).
    Output per source: tokens before/after the 3 merges and the
    exact saving in ppm — the sequence-length budget number a
    pretraining team tracks per data source.

    Plan: the shared _bpe_loop (same doc-keyed passes as training)
    yields the final token frame; the audit is a per-doc count joined
    back to sources — one extra map-side-combined shuffle.
    """
    after = (
        _bpe_final_tokens(spark, sf)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_after"))
    )
    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_before")
    )
    per_doc = d.join(after, "doc_id", "left").select(
        "source",
        "n_before",
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_before").cast("long").alias("tokens_before"),
            F.sum("n_after").cast("long").alias("tokens_after"),
        )
        .select(
            "source",
            "tokens_before",
            "tokens_after",
            F.floor(
                (F.col("tokens_before") - F.col("tokens_after"))
                * F.lit(1_000_000)
                / F.col("tokens_before")
            )
            .cast("long")
            .alias("compression_ppm"),
        )
        .orderBy("source")
    )


QUERIES = {
    "text_token_count": text_token_count,
    "text_bm25_retrieval": text_bm25_retrieval,
    "bpe_train_merges": bpe_train_merges,
    "bpe_encode_corpus": bpe_encode_corpus,
    "text_bpe_token_count": text_bpe_token_count,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "doc_stats_by_source": doc_stats_by_source,
    "text_repetition_filter": text_repetition_filter,
    "pii_scrub_stats": pii_scrub_stats,
    "text_langid_confusion": text_langid_confusion,
    "text_char_entropy_proxy": text_char_entropy_proxy,
    "text_unigram_logprob": text_unigram_logprob,
    "text_sentence_stats": text_sentence_stats,
    "text_bigram_logprob": text_bigram_logprob,
    "text_keyword_extraction": text_keyword_extraction,
}

_TOKS = "list_filter(string_split(text, ' '), x -> x != '')"
_NSTOP = (
    "len(list_filter(" + _TOKS + ", w -> list_contains("
    "['the','a','an','and','of','to','in','is','it','for'], lower(w))))"
)

# BM25 score CTE chain ending in `bmscores(doc_id, score_fp,
# n_terms_matched)` — shared by the top-k oracle here and the hybrid
# RRF oracle in operators/similarity.py
BM25_SCORES_SQL = f"""
        tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        d AS (SELECT doc_id, len(toks) AS dl, toks FROM tok),
        totals AS (
          SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM d
        ),
        hits AS (
          SELECT doc_id, dl, w, COUNT(*) AS f
          FROM (SELECT doc_id, dl, unnest(toks) AS w FROM d)
          WHERE w IN {BM25_QUERY_TERMS!r}
          GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY w),
        bmscores AS (
          SELECT h.doc_id,
                 CAST(SUM(CAST(floor(
                   {BM25_SCALE}
                   * ((t.n_docs - q.df + 0.5) / (q.df + 0.5))
                   * (h.f * {BM25_K1 + 1.0!r}
                      / (h.f + {BM25_K1!r}
                         * ({1.0 - BM25_B!r}
                            + {BM25_B!r} * h.dl * t.n_docs / t.total_tokens)))
                 ) AS BIGINT)) AS BIGINT) AS score_fp,
                 CAST(COUNT(*) AS BIGINT) AS n_terms_matched
          FROM hits h JOIN dfreq q ON h.w = q.w, totals t
          GROUP BY h.doc_id
        )"""

def _bpe_iteration_sql(r: int) -> str:
    """One unrolled BPE round (pairs → top-1 → island-respecting merge
    → renumber), mirroring ``bpe_train_merges`` exactly."""
    return f"""
        p{r} AS (
          SELECT a.doc_id, a.pos, a.t, b.t AS tn
          FROM t{r - 1} a JOIN t{r - 1} b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        top{r} AS (
          SELECT t AS w1, tn AS w2, CAST(COUNT(*) AS BIGINT) AS pair_count
          FROM p{r} GROUP BY t, tn
          ORDER BY pair_count DESC, w1 ASC, w2 ASC LIMIT 1
        ),
        cand{r} AS (
          SELECT p.doc_id, p.pos,
                 row_number() OVER (PARTITION BY p.doc_id
                                    ORDER BY p.pos) AS rn
          FROM p{r} p, top{r} q WHERE p.t = q.w1 AND p.tn = q.w2
        ),
        keep{r} AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY doc_id, pos - rn
                                      ORDER BY pos) AS irn
            FROM cand{r}
          ) WHERE irn % 2 = 1
        ),
        n{r} AS (
          SELECT p.doc_id, p.pos,
                 CASE WHEN k1.pos IS NOT NULL
                      THEN p.t || '_' || p.tn ELSE p.t END AS t
          FROM (SELECT a.doc_id, a.pos, a.t,
                       b.t AS tn
                FROM t{r - 1} a LEFT JOIN t{r - 1} b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1) p
          LEFT JOIN keep{r} k1
            ON p.doc_id = k1.doc_id AND p.pos = k1.pos
          LEFT JOIN keep{r} k2
            ON p.doc_id = k2.doc_id AND p.pos = k2.pos + 1
          WHERE k2.pos IS NULL
        ),
        t{r} AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                   AS pos,
                 t
          FROM n{r}
        )"""


_BPE_ORACLE = (
    f"""
        WITH b AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        idx AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS i
          FROM b
        ),
        t0 AS (SELECT doc_id, i - 1 AS pos, toks[i] AS t FROM idx),
        """
    + ",\n".join(_bpe_iteration_sql(r) for r in range(1, BPE_MERGES + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, w1, w2, pair_count "
        f"FROM top{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    + "\nORDER BY merge_rank"
)

_BPE_ENCODE_ORACLE = (
    f"""
        WITH b AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        idx AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS i
          FROM b
        ),
        t0 AS (SELECT doc_id, i - 1 AS pos, toks[i] AS t FROM idx),
        """
    + ",\n".join(_bpe_iteration_sql(r) for r in range(1, BPE_MERGES + 1))
    + f"""
        , after AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after
          FROM t{BPE_MERGES} GROUP BY doc_id
        ),
        per_doc AS (
          SELECT d.source, len({_TOKS}) AS n_before,
                 COALESCE(a.n_after, 0) AS n_after
          FROM documents d LEFT JOIN after a ON d.doc_id = a.doc_id
        )
        SELECT source,
               CAST(SUM(n_before) AS BIGINT) AS tokens_before,
               CAST(SUM(n_after) AS BIGINT) AS tokens_after,
               CAST(floor((SUM(n_before) - SUM(n_after)) * 1000000
                          / SUM(n_before)) AS BIGINT) AS compression_ppm
        FROM per_doc GROUP BY source ORDER BY source
    """
)

ORACLES = {
    "bpe_train_merges": _BPE_ORACLE,
    "bpe_encode_corpus": _BPE_ENCODE_ORACLE,
    "text_bm25_retrieval": f"""
        WITH {BM25_SCORES_SQL}
        SELECT doc_id, score_fp, n_terms_matched FROM bmscores
        ORDER BY score_fp DESC, doc_id ASC
        LIMIT {BM25_TOP}
    """,
    "text_bpe_token_count": r"""
        WITH p AS (
          SELECT doc_id,
                 regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')
                   AS pieces
          FROM documents
        )
        SELECT doc_id,
               len(pieces) AS n_bpe_tokens,
               len(list_filter(pieces, x -> regexp_matches(x, '^[a-z]+$')))
                 AS n_word_runs,
               len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$')))
                 AS n_digit_runs
        FROM p
    """,
    "text_token_count": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST(length(text) AS BIGINT) AS len_chars,
               CAST(length(text) - len({_TOKS}) + 1 AS DOUBLE)
                 / CAST(len({_TOKS}) AS DOUBLE) AS avg_token_len
        FROM documents
    """,
    "text_quality_score": f"""
        WITH t AS (
          SELECT doc_id, text,
                 CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
                 CAST({_NSTOP} AS DOUBLE) AS n_stop,
                 CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_uniq,
                 CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS length_ok
          FROM documents)
        SELECT doc_id,
               CAST(n_tok AS BIGINT) AS n_tokens,
               n_stop / n_tok AS stopword_ratio,
               n_uniq / n_tok AS unique_ratio,
               CAST(length_ok AS INTEGER) AS length_ok,
               round((n_uniq / n_tok * 0.5 + n_stop / n_tok * 0.3)
                     * CAST(length_ok AS DOUBLE)
                     + 0.2 * CAST(length_ok AS DOUBLE), 6) AS quality_score
        FROM t
    """,
    "text_lang_id": f"""
        SELECT doc_id, lang,
               CAST({_NSTOP} AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE)
                 AS en_stopword_ratio,
               CASE WHEN CAST({_NSTOP} AS DOUBLE) / CAST(len({_TOKS}) AS DOUBLE) >= 0.05
                    THEN 'en' ELSE 'other' END AS lang_pred
        FROM documents
    """,
    "text_fingerprint": """
        WITH n AS (SELECT doc_id,
                          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                   FROM documents)
        SELECT doc_id, md5(norm) AS fingerprint,
               substring(md5(norm), 1, 4) AS shard_bucket,
               CAST(length(norm) AS BIGINT) AS norm_len
        FROM n
    """,
    "doc_stats_by_source": """
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
        FROM documents GROUP BY source, lang
    """,
    "text_repetition_filter": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
        cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
        agg AS (SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_tokens,
                       CAST(COUNT(*) AS BIGINT) AS n_distinct,
                       CAST(MAX(c) AS BIGINT) AS top_count
                FROM cnt GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS distinct_ratio,
               CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS top_token_frac,
               (CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.2
                OR CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.3)
                 AS is_repetitive
        FROM agg
    """,
    "text_langid_confusion": f"""
        WITH p AS (
          SELECT lang,
                 CASE WHEN CAST({_NSTOP} AS DOUBLE)
                           / CAST(len({_TOKS}) AS DOUBLE) >= 0.05
                      THEN 'en' ELSE 'other' END AS lang_pred
          FROM documents
        )
        SELECT lang, lang_pred, COUNT(*) AS n
        FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
    "text_keyword_extraction": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x != '')) AS w
          FROM documents
        ),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
        SELECT doc_id, CAST(rk AS INTEGER) AS rk, w AS term, tf, df
        FROM (
          SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY dfreq.df ASC, tf.tf DESC, tf.w ASC) AS rk
          FROM tf JOIN dfreq USING (w)
        ) WHERE rk <= 3
    """,
    "text_bigram_logprob": """
        WITH docs AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x != '')
                   AS toks
          FROM documents
        ),
        bigrams AS (
          SELECT doc_id,
                 toks[i] AS w1,
                 toks[i] || ' ' || toks[i + 1] AS bg
          FROM docs, LATERAL (
            SELECT unnest(generate_series(1, len(toks) - 1)) AS i
          ) s
          WHERE len(toks) >= 2
        ),
        bgc AS (SELECT bg, COUNT(*) AS cb FROM bigrams GROUP BY bg),
        w1c AS (SELECT w1, COUNT(*) AS cw FROM bigrams GROUP BY w1),
        scored AS (
          SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(SUM((length(bin(bgc.cb)) - 1)
                          - (length(bin(w1c.cw)) - 1)) AS BIGINT) AS s_log
          FROM bigrams b JOIN bgc USING (bg) JOIN w1c USING (w1)
          GROUP BY b.doc_id
        )
        SELECT doc_id, n_bigrams,
               CAST(s_log AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                 AS bigram_logprob_bits
        FROM scored
    """,
    "text_sentence_stats": """
        WITH segs AS (
          SELECT doc_id,
                 list_filter(list_transform(
                     regexp_split_to_array(text, '[.!?]+'), s -> trim(s)),
                   s -> s != '') AS sents
          FROM documents
        )
        SELECT doc_id,
               CAST(len(sents) AS BIGINT) AS n_sentences,
               CAST(list_sum(list_transform(sents, s -> length(s)))
                    AS DOUBLE) / CAST(len(sents) AS DOUBLE)
                 AS mean_sentence_chars,
               CAST(list_max(list_transform(sents, s -> length(s)))
                    AS BIGINT) AS max_sentence_chars
        FROM segs WHERE len(sents) > 0
    """,
    "text_unigram_logprob": """
        WITH words AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x != '')) AS w
          FROM documents
        ),
        freqs AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM freqs),
        per_doc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(length(bin(c)) - 1) AS BIGINT) AS s_logc
          FROM words JOIN freqs USING (w) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               CAST(s_logc AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 - CAST(length(bin(tot)) - 1 AS DOUBLE) AS logprob_bits_proxy
        FROM per_doc, tot
    """,
    "text_char_entropy_proxy": """
        WITH ch AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ''), x -> x != ''))
                   AS ch
          FROM documents
        ),
        cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        agg AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS d,
                 CAST(SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS s
          FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, n AS n_chars_counted, d AS distinct_chars,
               CAST(length(bin(n)) - 1 AS DOUBLE)
                 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 AS entropy_bits_proxy
        FROM agg
    """,
    "pii_scrub_stats": """
        WITH p AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 7 = 0
                         THEN ' user' || CAST(doc_id AS VARCHAR)
                              || '@example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' +10-' || lpad(CAST(doc_id % 1000 AS VARCHAR),
                                              3, '0')
                              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                             4, '0')
                         ELSE '' END AS t
          FROM documents),
        s AS (
          SELECT doc_id, t,
                 regexp_replace(
                   regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+',
                                  '<email>', 'g'),
                   '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}', '<phone>', 'g') AS clean
          FROM p)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t,
                 '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t,
                 '\\+[0-9]{2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
               CAST(length(clean) AS BIGINT) AS scrubbed_len,
               md5(clean) AS scrubbed_md5
        FROM s
    """,
}


def text_readability_score(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-Kincaid-style readability grade per document — the
    classic curation feature separating fluent prose from keyword
    soup / code dumps (complements ``text_quality_score``'s
    surface-stat blend with a sentence/syllable-structure signal).

    Syllables are the standard vowel-group proxy (regexp_count of
    [aeiou]+ runs — no dictionary, SQL-replayable in both engines);
    sentence count reuses ``text_sentence_stats``'s terminator-regex
    segmentation, clamped to ≥1 so terminator-free docs score as one
    run-on sentence. The grade is computed with the IDENTICAL
    expression tree in both engines — two IEEE divisions + one
    left-to-right sum — then floored to milli-grades, so the output
    is bit-stable. Pure narrow projection: zero shuffle at any scale.
    """
    d = load_table(spark, sf, "documents")
    toks = tokens(F.col("text"))
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(F.size(sents).cast("long"), F.lit(1).cast("long")).alias(
            "n_sentences"
        ),
        F.expr("regexp_count(text, '[aeiouAEIOU]+')")
        .cast("long")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    grade_milli = F.floor(
        F.lit(390) * F.col("n_words") / F.col("n_sentences")
        + F.lit(11800) * F.col("n_syllables") / F.col("n_words")
        - F.lit(15590)
    ).cast("long")
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        grade_milli.alias("fk_grade_milli"),
    )


QUERIES["text_readability_score"] = text_readability_score
ORACLES["text_readability_score"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_words,
         CAST(greatest(len(list_filter(
                list_transform(string_split_regex(text, '[.!?]+'),
                               s -> trim(s)),
                s -> s != '')), 1) AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(floor(390 * n_words / n_sentences
                  + 11800 * n_syllables / n_words
                  - 15590) AS BIGINT) AS fk_grade_milli
FROM base WHERE n_words > 0
"""


def vocab_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-proxy tokens per 1000
    characters, by language tag — the tokenizer-equity audit run
    before fixing a vocabulary (a language with outsized fertility
    pays more compute per character of content and quietly shrinks
    its effective share of a token budget).

    Fertility is an exact integer cross-ratio (tokens·1000 intdiv
    chars — true integer division, Spark ``div`` == DuckDB ``//``);
    the token rule reuses the BPE-ish proxy of ``text_bpe_token_count``
    so the audit measures the same tokenizer the budget ops use. One
    map-side-combined groupBy over languages; zero shuffles before it.
    """
    d = load_table(spark, sf, "documents")
    pieces = F.expr(
        r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"
    )
    counted = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(pieces).cast("long").alias("n_tokens"),
    )
    return (
        counted.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "fertility_per_kchar",
            F.expr("total_tokens * 1000L div total_chars").cast("long"),
        )
        .orderBy("lang")
    )


QUERIES["vocab_fertility_by_lang"] = vocab_fertility_by_lang
ORACLES["vocab_fertility_by_lang"] = r"""
WITH counted AS (
  SELECT lang, n_chars,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
           AS n_tokens
  FROM documents
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM counted GROUP BY lang
)
SELECT lang, n_docs, total_chars, total_tokens,
       CAST(total_tokens * 1000 // total_chars AS BIGINT)
         AS fertility_per_kchar
FROM agg ORDER BY lang
"""


# ---------------------------------------------------------------------------
# boilerplate n-gram coverage
# ---------------------------------------------------------------------------

BOILER_N = 3  # n-gram width of the boilerplate unit
BOILER_MIN_DF = 5  # grams in >= this many docs are boilerplate

# The per-doc gram frame is corpus-sized, so ownership is explicit:
# plan_cache.memoized holds ONE prepared plan per (session, sf,
# constants), and its entry owns the cached() gram frame until the
# next reset releases both — see the docstring's "Plan at 100 TB"
# paragraph for the full policy.
@memoized("derived")
def text_boilerplate_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Boilerplate-coverage audit: trigrams appearing in >=
    BOILER_MIN_DF distinct documents are "boilerplate" (the
    repeated-template phrases CCNet-style pipelines strip before
    training), and each source reports how much of its token mass
    those grams COVER — covered = a token position overlapped by at
    least one boilerplate gram occurrence, so overlapping grams never
    double-count (exact span union via distinct positions, not a naive
    per-hit x N).

    Plan at 100 TB: tokenize runs ONCE — a compact one-row-per-doc
    frame (doc_id, source, dl, grams-with-positions array) is
    cached (memory-and-disk, spill-safe) inside the prepared plan, so
    repeat invocations share ONE entry until the next reset by
    construction — an intentional, bounded cache with explicit
    ownership, not a per-call leak (the r9-verdict follow-up; pinned by
    tests/test_plans.py::test_boilerplate_docs_single_cache_entry).
    Document frequency explodes the PER-DOC-DISTINCT grams, so the shuffle is a
    plain map-side-combined count keyed by gram — no (gram, doc_id)
    distinct pass. The boilerplate set joins back as a gram-keyed
    equi-join (never broadcast-forced — the high-df vocabulary can be
    large; AQE sizes the post-aggregate side and converts to broadcast
    when it is small). The span union is computed doc-locally: hit
    START positions collect_set per doc (1 shuffled row per hit, not
    BOILER_N), and the exact covered-position union is an array
    expression over that bounded-by-dl set.
    """
    # spread the single-split scan before the tokenize+gram expansion
    # (the dedup._spread_for_compute gate, false at scale): the cached
    # grams frame otherwise materialized as ONE 440 ms task that all
    # three consumer stages lock-waited on (r18 profile)
    from .dedup import _spread_for_compute

    d = _spread_for_compute(load_table(spark, sf, "documents")).select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )
    d = d.select("doc_id", "source", "toks", F.size("toks").alias("dl"))
    docs = cached(
        d.select(
            "doc_id",
            "source",
            "dl",
            F.when(
                F.col("dl") >= BOILER_N,
                F.expr(
                    f"transform(sequence(0, dl - {BOILER_N}), i -> "
                    "struct(i AS pos, concat_ws(' ', toks[i], toks[i+1], "
                    "toks[i+2]) AS gram))"
                ),
            )
            .otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
            .alias("grams"),
        )
    )
    boiler = (
        docs.select(
            F.explode(
                F.array_distinct(F.expr("transform(grams, g -> g.gram)"))
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= BOILER_MIN_DF)
        .select("gram")
    )
    hits = docs.select(
        "doc_id", F.explode("grams").alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    covered = (
        hits.join(boiler, "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
        .select(
            "doc_id",
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.expr(
                            f"transform(starts, p -> sequence(p, p + {BOILER_N - 1}))"
                        )
                    )
                )
            )
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    return (
        docs.join(covered, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.col("covered_tokens")).cast("long").alias("n_docs_affected"),
            F.sum("dl").cast("long").alias("total_tokens"),
            F.sum(F.coalesce(F.col("covered_tokens"), F.lit(0)))
            .cast("long")
            .alias("boiler_tokens"),
            (
                F.sum(F.coalesce(F.col("covered_tokens"), F.lit(0)))
                * F.lit(1_000_000)
                / F.sum("dl")
            )
            .cast("long")
            .alias("boiler_ppm"),
        )
        .orderBy("source")
    )


QUERIES["text_boilerplate_coverage"] = text_boilerplate_coverage
ORACLES["text_boilerplate_coverage"] = f"""
WITH d AS (
  SELECT doc_id, source, {_TOKS} AS toks, len({_TOKS}) AS dl FROM documents
),
grams AS (
  SELECT doc_id, source, i - 1 AS pos,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM (SELECT doc_id, source, toks,
               unnest(generate_series(1, dl - {BOILER_N - 1})) AS i
        FROM d WHERE dl >= {BOILER_N})
),
boiler AS (
  SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS df
                    FROM grams GROUP BY gram)
  WHERE df >= {BOILER_MIN_DF}
),
covered AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_tokens
  FROM (SELECT DISTINCT g.doc_id, p.tok_pos
        FROM grams g JOIN boiler b USING (gram)
        CROSS JOIN LATERAL (SELECT unnest(generate_series(g.pos,
                              g.pos + {BOILER_N - 1})) AS tok_pos) p)
  GROUP BY doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(c.covered_tokens) AS BIGINT) AS n_docs_affected,
       CAST(SUM(d.dl) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(c.covered_tokens, 0)) AS BIGINT) AS boiler_tokens,
       CAST(SUM(COALESCE(c.covered_tokens, 0)) * 1000000 // SUM(d.dl)
            AS BIGINT) AS boiler_ppm
FROM d LEFT JOIN covered c USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


# -- Gopher-style rule battery ---------------------------------------
# Bounds follow the published Gopher/MassiveText filter set (Rae et
# al. 2021 §A1.1), scaled to the fixture's short synthetic docs. Mean
# word length is compared by integer cross-multiplication (sum_chars
# vs bound*n_tokens) so no division enters the rule — bit-exact in
# both engines and at any corpus size.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MEANLEN_MIN = 3  # mean word length lower bound (chars)
GOPHER_MEANLEN_MAX = 10  # upper bound
GOPHER_MIN_STOPWORDS = 2  # distinct function words required


def text_gopher_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText rule battery — the standard pre-training
    document filter expressed as pure Column arithmetic (no UDFs):
    word-count bounds, mean-word-length bounds, and the
    stopword-presence rule, with per-source failure tallies per rule
    plus the all-rules-pass count (rules overlap, so the per-rule
    columns intentionally do not sum to n_docs - n_pass).

    Scale: one scan-local projection computes every rule flag, then a
    single map-side-combinable groupBy(source) — no shuffle wider than
    sources, no window, 100 TB-safe by construction. Parity: all
    comparisons are integer (token counts, char sums, distinct
    stopword counts); mean-length bounds use cross-multiplication.
    """
    d = load_table(spark, sf, "documents").select(
        "source", tokens(F.col("text")).alias("toks")
    )
    d = d.select(
        "source",
        F.size("toks").alias("nt"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("chars"),
        F.size(
            F.array_distinct(
                F.filter("toks", lambda w: F.lower(w).isin(*STOPWORDS))
            )
        ).alias("n_stop"),
    )
    flags = d.select(
        "source",
        (
            (F.col("nt") < GOPHER_MIN_WORDS)
            | (F.col("nt") > GOPHER_MAX_WORDS)
        ).cast("long").alias("f_words"),
        (
            (F.col("chars") < F.lit(GOPHER_MEANLEN_MIN) * F.col("nt"))
            | (F.col("chars") > F.lit(GOPHER_MEANLEN_MAX) * F.col("nt"))
        ).cast("long").alias("f_meanlen"),
        (F.col("n_stop") < GOPHER_MIN_STOPWORDS).cast("long").alias("f_stop"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("f_words").cast("long").alias("fail_word_count"),
            F.sum("f_meanlen").cast("long").alias("fail_mean_len"),
            F.sum("f_stop").cast("long").alias("fail_stopwords"),
            F.sum(
                F.when(
                    (F.col("f_words") + F.col("f_meanlen") + F.col("f_stop"))
                    == 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


QUERIES["text_gopher_quality_rules"] = text_gopher_quality_rules
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
ORACLES["text_gopher_quality_rules"] = f"""
WITH d AS (
  SELECT source,
         len({_TOKS}) AS nt,
         list_sum(list_transform({_TOKS}, x -> len(x))) AS chars,
         len(list_distinct(list_filter({_TOKS},
             x -> list_contains([{_SW_SQL}], lower(x))))) AS n_stop
  FROM documents
),
flags AS (
  SELECT source,
         CASE WHEN nt < {GOPHER_MIN_WORDS} OR nt > {GOPHER_MAX_WORDS}
              THEN 1 ELSE 0 END AS f_words,
         CASE WHEN chars < {GOPHER_MEANLEN_MIN} * nt
                OR chars > {GOPHER_MEANLEN_MAX} * nt
              THEN 1 ELSE 0 END AS f_meanlen,
         CASE WHEN n_stop < {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS f_stop
  FROM d
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_words) AS BIGINT) AS fail_word_count,
       CAST(SUM(f_meanlen) AS BIGINT) AS fail_mean_len,
       CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(CASE WHEN f_words + f_meanlen + f_stop = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source ORDER BY source
"""


def text_ttr_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Type-token ratio (lexical diversity) per document, folded to a
    per-source profile: mean TTR in exact milli units plus the count
    of low-diversity docs (TTR < 0.5 — heavily repetitive text, the
    cheap screen that catches keyword-stuffed / generated spam before
    the costlier repetition filter runs).

    Scale: distinct-token counting is array_distinct inside the row
    (scan-local, no explode shuffle); the fold is one groupBy(source).
    All arithmetic integer: ttr_milli = 1000*distinct DIV total; the
    mean is SUM(ttr_milli) DIV n at milli resolution.
    """
    d = load_table(spark, sf, "documents").select(
        "source", tokens(F.col("text")).alias("toks")
    )
    per_doc = d.select(
        "source",
        F.floor(
            F.size(F.array_distinct("toks"))
            * F.lit(1000)
            / F.greatest(F.size("toks"), F.lit(1))
        )
        .cast("long")
        .alias("ttr_milli"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.floor(F.sum("ttr_milli") / F.count("*"))
            .cast("long")
            .alias("mean_ttr_milli"),
            F.min("ttr_milli").cast("long").alias("min_ttr_milli"),
            F.sum((F.col("ttr_milli") < 500).cast("long"))
            .cast("long")
            .alias("n_low_diversity"),
        )
        .orderBy("source")
    )


QUERIES["text_ttr_lexical_diversity"] = text_ttr_lexical_diversity
ORACLES["text_ttr_lexical_diversity"] = f"""
WITH per_doc AS (
  SELECT source,
         1000 * len(list_distinct({_TOKS}))
           // greatest(len({_TOKS}), 1) AS ttr_milli
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ttr_milli) // COUNT(*) AS BIGINT) AS mean_ttr_milli,
       CAST(MIN(ttr_milli) AS BIGINT) AS min_ttr_milli,
       CAST(SUM(CASE WHEN ttr_milli < 500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity
FROM per_doc GROUP BY source ORDER BY source
"""


# -- PMI collocations -------------------------------------------------

PMI_MIN_COUNT = 5  # bigram support floor: kills one-off noise pairs
PMI_TOP_K = 25


def text_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top adjacent-token collocations by pointwise mutual information
    — the classic phrase-mining signal (word2vec's phrase pass, NPMI
    boilerplate detection): PMI = log p(xy)/(p(x)p(y)). Ranking is
    monotone in the RATIO, so no logarithm ever enters the dataflow:
    score = (c_xy·N_uni²)/(N_bi·c_x·c_y) computed as one fixed
    left-associated double expression (products of exact integers,
    correctly-rounded IEEE ops — bit-identical in any engine writing
    the same expression; at web scale compute the ratio in log-space
    instead, the ranking is the same).

    Plan at 100 TB: one token explode feeding two map-side-combined
    aggregates (unigram + bigram counts, both vocabulary-sized
    shuffles); the support filter (c_xy ≥ PMI_MIN_COUNT) prunes the
    bigram table BEFORE the two vocab joins; the final top-k is
    TakeOrderedAndProject, never a global sort.
    """
    d = load_table(spark, sf, "documents").select(
        tokens(F.lower(F.col("text"))).alias("toks")
    )
    d = d.select("toks", F.size("toks").alias("n"))
    tot = d.agg(
        F.sum("n").cast("long").alias("n_uni"),
        F.sum(F.greatest(F.col("n") - 1, F.lit(0))).cast("long").alias("n_bi"),
    )
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bi = (
        d.where(F.col("n") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, n - 2), i -> "
                    "struct(toks[i] AS w1, toks[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    u1 = uni.alias("u1")
    u2 = uni.alias("u2")
    scored = (
        bi.join(u1, F.col("w1") == F.col("u1.w"))
        .join(u2, F.col("w2") == F.col("u2.w"))
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.col("u1.c").alias("c_x"),
            F.col("u2.c").alias("c_y"),
            (
                F.col("c_xy").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
                / (
                    F.col("n_bi").cast("double")
                    * F.col("u1.c").cast("double")
                    * F.col("u2.c").cast("double")
                )
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio").desc(), F.col("w1"), F.col("w2")
    ).limit(PMI_TOP_K)


_LTOKS = "list_filter(string_split(lower(text), ' '), x -> x != '')"

QUERIES["text_pmi_bigrams"] = text_pmi_bigrams
ORACLES["text_pmi_bigrams"] = f"""
WITH d AS (SELECT {_LTOKS} AS toks, len({_LTOKS}) AS n FROM documents),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_uni,
         CAST(SUM(greatest(n - 1, 0)) AS BIGINT) AS n_bi FROM d
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w
),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM (SELECT toks, unnest(generate_series(1, n - 1)) AS i
              FROM d WHERE n >= 2))
  GROUP BY w1, w2 HAVING COUNT(*) >= {PMI_MIN_COUNT}
)
SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
       CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)
         / (CAST(n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
         AS pmi_ratio
FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
CROSS JOIN tot
ORDER BY pmi_ratio DESC, w1, w2 LIMIT {PMI_TOP_K}
"""


# -- Zipf rank-frequency fit ------------------------------------------

ZIPF_TOP_R = 256  # head of the rank-frequency curve used for the fit


def text_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-health check: least-squares slope of the log-log
    rank-frequency curve over the top-R terms. Natural text tracks
    Zipf's law (slope ≈ −1); spam floods, template corpora, and broken
    tokenization bend it — a cheap distribution-level screen before
    training.

    Integer-exact throughout: x = ⌊log2 rank⌋ and y = ⌊log2 freq⌋ via
    bit length (the libm-free trick shared with
    ``text_char_entropy_proxy``), so Σx, Σy, Σxy, Σx² are exact int64
    and the slope is ONE floored division. The rank window runs on a
    constant-R frame (TakeOrderedAndProject collapses the vocabulary
    to ZIPF_TOP_R rows first — whitelisted bounded window), so no
    data-sized frame ever single-partitions.
    """
    from pyspark.sql import Window as _W

    top = (
        load_table(spark, sf, "documents")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term"))
        .limit(ZIPF_TOP_R)
    )
    ranked = top.select(
        F.row_number()
        .over(_W.orderBy(F.col("freq").desc(), F.col("term")))
        .cast("long")
        .alias("r"),
        "freq",
    ).select(
        (F.length(F.expr("bin(r)")) - 1).cast("long").alias("x"),
        (F.length(F.expr("bin(freq)")) - 1).cast("long").alias("y"),
    )
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return agg.select(
        "n_terms",
        "sx",
        "sy",
        F.floor(
            (
                (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * F.lit(1_000_000)
            ).cast("double")
            / (
                F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double")
        )
        .cast("long")
        .alias("slope_ppm"),
    )


QUERIES["text_zipf_slope"] = text_zipf_slope
ORACLES["text_zipf_slope"] = f"""
WITH top AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_LTOKS}) AS term FROM documents)
  GROUP BY term ORDER BY freq DESC, term LIMIT {ZIPF_TOP_R}
),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS BIGINT) AS r,
         freq
  FROM top
),
xy AS (
  SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x,
         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
  FROM ranked
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT n_terms, sx, sy,
       CAST(floor(CAST((n_terms * sxy - sx * sy) * 1000000 AS DOUBLE)
                  / CAST(n_terms * sxx - sx * sx AS DOUBLE)) AS BIGINT)
         AS slope_ppm
FROM agg
"""


# -- signed feature hashing -------------------------------------------

FH_DIMS = 32  # hashed feature-vector width (hashing trick)


def text_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Signed feature hashing (Weinberger et al. 2009 — the "hashing
    trick"): every token maps to dimension md5(w) mod FH_DIMS with a
    ±1 sign from the next hash nibble, so unbounded vocabularies
    project into a fixed-width vector with zero dictionary state —
    the way large-scale linear models and count-sketch features
    avoid a vocab build entirely. Reported as the per-source summed
    feature vector (signed_sum per dimension) — exact integers, so
    the collision-cancellation property is visible in the output.

    Plan at 100 TB: one explode → one (source, dim)-keyed map-side-
    combined aggregate; the output is sources × FH_DIMS rows. No
    vocab table, no join — this is the stateless alternative to
    ``vocab_top_terms``-style pipelines.
    """
    w = load_table(spark, sf, "documents").select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    h = F.md5(F.col("w"))
    feat = w.select(
        "source",
        F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(FH_DIMS))
        .cast("long")
        .alias("dim"),
        F.when(F.substring(h, 9, 1) <= "7", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("sign"),
    )
    return (
        feat.groupBy("source", "dim")
        .agg(
            F.sum("sign").cast("long").alias("signed_sum"),
            F.count("*").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "dim")
    )


QUERIES["text_feature_hashing"] = text_feature_hashing


# -- hashed linear quality classifier gate -----------------------------

QC_WEIGHT_MOD = 1001  # weight(dim) = (dim·2654435761) mod 1001 − 500


def quality_classifier_gate(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-shaped quality GATE: per document, a linear score over
    the signed hashed features (``text_feature_hashing``'s dims and
    signs), thresholded at 0 — the learned-classifier filtering stage
    production pipelines run after the heuristic rules
    (``text_quality_score``/``text_gopher_quality_rules`` are the rule
    tier; this is the model tier's execution shape).  Reported as the
    per-source gate audit: docs, pass count, score sum and extremes —
    the table a curation run reviews before committing a filter.

    The weight vector is a deterministic fixture — weight(d) =
    (d·2654435761) mod 1001 − 500, Knuth's multiplicative constant, so
    both engines derive identical int64 weights with no literal table.
    A real deployment broadcasts its trained vector (FH_DIMS·8 bytes);
    the plan is byte-for-byte the same shape.

    Plan at 100 TB: explode → per-(doc,dim) contribution → ONE
    doc-keyed map-side-combined aggregate (integer score, no floats);
    the per-source roll-up shuffles doc-count rows.  No vocab build,
    no join, no Python.
    """
    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    h = F.md5(F.col("w"))
    dim = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(FH_DIMS)
    ).cast("long")
    sign = (
        F.when(F.substring(h, 9, 1) <= "7", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    weight = F.pmod(dim * F.lit(2654435761), F.lit(QC_WEIGHT_MOD)) - F.lit(500)
    scored = (
        d.select("doc_id", "source", (sign * weight).alias("contrib"))
        .groupBy("doc_id", "source")
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.sum("score").cast("long").alias("score_sum"),
            F.min("score").cast("long").alias("score_min"),
            F.max("score").cast("long").alias("score_max"),
        )
        .orderBy("source")
    )


QUERIES["quality_classifier_gate"] = quality_classifier_gate
ORACLES["quality_classifier_gate"] = f"""
WITH w AS (SELECT doc_id, source, unnest({_LTOKS}) AS w FROM documents),
feat AS (
  SELECT doc_id, source,
         CAST(CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
              % {FH_DIMS} AS BIGINT) AS dim,
         CAST(CASE WHEN substring(md5(w), 9, 1) <= '7'
                   THEN 1 ELSE -1 END AS BIGINT) AS sign
  FROM w
),
scored AS (
  SELECT doc_id, source,
         CAST(SUM(sign * ((dim * 2654435761) % {QC_WEIGHT_MOD} - 500))
              AS BIGINT) AS score
  FROM feat GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(score) AS BIGINT) AS score_sum,
       CAST(MIN(score) AS BIGINT) AS score_min,
       CAST(MAX(score) AS BIGINT) AS score_max
FROM scored GROUP BY source ORDER BY source
"""
ORACLES["text_feature_hashing"] = f"""
WITH w AS (SELECT source, unnest({_LTOKS}) AS w FROM documents),
feat AS (
  SELECT source,
         CAST(CAST('0x' || substring(md5(w), 1, 8) AS BIGINT)
              % {FH_DIMS} AS BIGINT) AS dim,
         CAST(CASE WHEN substring(md5(w), 9, 1) <= '7'
                   THEN 1 ELSE -1 END AS BIGINT) AS sign
  FROM w
)
SELECT source, dim, CAST(SUM(sign) AS BIGINT) AS signed_sum,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM feat GROUP BY source, dim ORDER BY source, dim
"""


# -- collation-aware term grouping ------------------------------------

COLLATE_TOP_K = 30


def text_collated_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Case-insensitive term frequencies via Spark 4 COLLATION
    (UTF8_LCASE) instead of lower(): grouping keys compare under the
    collation while the stored strings keep their original casing —
    the engine-native way to fold case (and, with ICU collations,
    locale rules lower() can't express; on this ASCII fixture the two
    agree, which is what the lower()-based oracle checks). The
    representative term is MIN(original) — the collated group key
    itself keeps an arbitrary member's casing, so it never enters the
    output contract. Casefolded distinct-count and variant-count per
    group expose where collation actually merged keys.
    """
    terms = load_table(spark, sf, "documents").select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    return (
        terms.groupBy(
            F.collate(F.col("term"), "UTF8_LCASE").alias("ckey")
        )
        .agg(
            F.min("term").alias("canonical"),
            F.count("*").cast("long").alias("freq"),
            F.count_distinct("term").cast("long").alias("n_case_variants"),
        )
        .select("canonical", "freq", "n_case_variants")
        .orderBy(F.col("freq").desc(), F.col("canonical"))
        .limit(COLLATE_TOP_K)
    )


QUERIES["text_collated_terms"] = text_collated_terms
ORACLES["text_collated_terms"] = f"""
WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents)
SELECT MIN(term) AS canonical, CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(COUNT(DISTINCT term) AS BIGINT) AS n_case_variants
FROM t GROUP BY lower(term)
ORDER BY freq DESC, canonical LIMIT {COLLATE_TOP_K}
"""
