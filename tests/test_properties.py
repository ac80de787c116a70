"""Property-based tests (hypothesis) for the engine's pure kernels.

Each @given generates a BATCH of inputs and runs one Spark job over the
whole batch, so example count stays high while Spark job count stays
low.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_kafka_playgroud_spark.functions.scalar import (
    confluent_header,
    strip_confluent_header,
)
from iceberg_kafka_playgroud_spark.functions.schema_compat import backward_issues

_slow = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- Confluent wire framing ------------------------------------------------


@_slow
@given(
    st.lists(
        st.tuples(
            st.binary(min_size=0, max_size=200),
            st.integers(min_value=0, max_value=2**31 - 1),
        ),
        min_size=1,
        max_size=32,
    )
)
def test_confluent_frame_roundtrip(spark, batch):
    df = spark.createDataFrame(
        [(i, payload, sid) for i, (payload, sid) in enumerate(batch)],
        schema=T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("payload", T.BinaryType()),
                T.StructField("sid", T.IntegerType()),
            ]
        ),
    )
    framed = df.select(
        "i",
        "payload",
        "sid",
        F.concat(confluent_header(F.col("sid")), F.col("payload")).alias("framed"),
    )
    out = framed.select(
        "i",
        "payload",
        "sid",
        "framed",
        strip_confluent_header(F.col("framed")).alias("stripped"),
    ).collect()
    for row in out:
        want_header = b"\x00" + struct.pack(">i", row.sid)
        assert bytes(row.framed) == want_header + bytes(row.payload)
        assert bytes(row.stripped) == bytes(row.payload)


# --- BACKWARD schema compatibility (pure Python, fast path) ----------------


_field_names = st.sampled_from(["a", "b", "c", "d", "e", "f"])
_types = st.sampled_from(
    [T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()]
)


@st.composite
def _schemas(draw):
    names = draw(st.lists(_field_names, min_size=1, max_size=5, unique=True))
    return T.StructType(
        [
            T.StructField(n, draw(_types), nullable=draw(st.booleans()))
            for n in names
        ]
    )


@settings(max_examples=200, deadline=None)
@given(_schemas())
def test_backward_self_compatible(schema):
    assert backward_issues(schema, schema) == []


@settings(max_examples=200, deadline=None)
@given(_schemas(), _field_names, _types)
def test_backward_added_nullable_ok_required_not(schema, name, dtype):
    base = T.StructType([f for f in schema.fields if f.name != name])
    with_nullable = T.StructType(base.fields + [T.StructField(name, dtype, True)])
    with_required = T.StructType(base.fields + [T.StructField(name, dtype, False)])
    assert backward_issues(base, with_nullable) == []
    assert any(name in i for i in backward_issues(base, with_required))


@settings(max_examples=200, deadline=None)
@given(_schemas())
def test_backward_dropping_fields_ok(schema):
    # BACKWARD: new reader may ignore old columns entirely
    dropped = T.StructType(schema.fields[1:])
    assert backward_issues(schema, dropped) == []


@settings(max_examples=200, deadline=None)
@given(_schemas())
def test_backward_narrowing_flagged(schema):
    # string -> int is never a safe widening
    target = schema.fields[0]
    if not isinstance(target.dataType, T.StringType):
        return
    narrowed = T.StructType(
        [T.StructField(target.name, T.IntegerType(), target.nullable)]
        + schema.fields[1:]
    )
    assert any(target.name in i for i in backward_issues(schema, narrowed))


# --- shingle_set vs a pure-Python reference --------------------------------


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    } if len(toks) >= n else set()


@_slow
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from(list("abc xyz")),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=24,
    )
)
def test_shingle_set_matches_reference(spark, texts):
    from iceberg_kafka_playgroud_spark.operators.dedup import shingle_set

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )
    got: dict[int, set[str]] = {}
    for row in shingle_set(docs).collect():
        got.setdefault(row.doc_id, set()).add(row.shingle)
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_shingles(t), f"doc {i}: {t!r}"


def test_numpy_half_up_round_matches_duckdb():
    # _round_half_up backs every NumPy-verified sim; it must agree with
    # DuckDB's ROUND (half away from zero) on the values both engines
    # see — including negatives and exact .5 boundaries
    import duckdb
    import numpy as np

    from iceberg_kafka_playgroud_spark.operators.similarity import (
        _round_half_up,
    )

    rng = [x / 7.0 for x in range(-200, 200)]
    rng += [0.1234565, -0.1234565, 0.9999995, -0.9999995, 0.45, -0.45]
    con = duckdb.connect()
    duck = [
        con.execute("SELECT round(CAST(? AS DOUBLE), 6)", [v]).fetchone()[0]
        for v in rng
    ]
    ours = _round_half_up(np.array(rng))
    assert list(ours) == duck


def test_upsert_result_independent_of_batch_boundaries(spark, monkeypatch):
    # the MERGE-on-key sink must produce the same table whether the
    # backlog replays in 2 or 4 micro-batches — the associativity +
    # total-tie-break property that makes it exactly-once under replay
    import iceberg_kafka_playgroud_spark.streaming.ingest as ing

    sf = "/root/testdata/sf0.001"

    def run(n_files):
        monkeypatch.setattr(ing, "N_RATE_FILES", n_files)
        df = ing.stream_upsert_latest(spark, sf)
        return sorted(tuple(r) for r in df.collect())

    assert run(2) == run(4)


# --- round-5 operator invariants ------------------------------------------


def test_quantize_int8_error_bound(spark, sf_dir):
    """Symmetric rounding quantization guarantees |x - q·s| ≤ s/2 per
    element, so max_abs_err ≤ scale/2 for every vector; checksum stays
    inside d·127."""
    from iceberg_kafka_playgroud_spark.operators.similarity import (
        EMB_DIM,
        embedding_quantize_int8,
    )

    bad = (
        embedding_quantize_int8(spark, sf_dir)
        .filter(
            (F.col("max_abs_err") > F.col("scale") / 2 + 1e-12)
            | (F.abs(F.col("q_checksum")) > EMB_DIM * 127)
        )
        .count()
    )
    assert bad == 0


def test_oov_rate_bounds_and_consistency(spark, sf_dir):
    """OOV fraction lies in [0,1] per source; summed token counts
    equal the corpus-wide token count."""
    from iceberg_kafka_playgroud_spark.operators.curation import vocab_oov_rate
    from iceberg_kafka_playgroud_spark.operators.text import (
        text_token_count,
    )

    oov = vocab_oov_rate(spark, sf_dir)
    assert oov.filter(
        (F.col("oov_rate") < 0) | (F.col("oov_rate") > 1)
        | (F.col("n_oov") > F.col("n_tokens"))
    ).count() == 0
    total_by_oov = oov.agg(F.sum("n_tokens")).first()[0]
    total_by_docs = (
        text_token_count(spark, sf_dir).agg(F.sum("n_tokens")).first()[0]
    )
    assert total_by_oov == total_by_docs


def test_decontaminate_counts_consistent(spark, sf_dir):
    """Contaminated docs never exceed training docs; the per-source
    training counts partition the non-eval corpus exactly."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        DECON_MOD,
        decontaminate_exact,
    )
    from iceberg_kafka_playgroud_spark.schema import load_table

    res = decontaminate_exact(spark, sf_dir)
    assert res.filter(F.col("n_contaminated") > F.col("n_train")).count() == 0
    n_train_total = res.agg(F.sum("n_train")).first()[0]
    expected = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % DECON_MOD != 0)
        .count()
    )
    assert n_train_total == expected


def test_repetition_filter_ratio_bounds(spark, sf_dir):
    """distinct_ratio and top_token_frac are (0,1]-bounded and jointly
    consistent: top token count can't exceed tokens minus the other
    distinct tokens."""
    from iceberg_kafka_playgroud_spark.operators.text import (
        text_repetition_filter,
    )

    rep = text_repetition_filter(spark, sf_dir)
    assert rep.filter(
        (F.col("distinct_ratio") <= 0) | (F.col("distinct_ratio") > 1)
        | (F.col("top_token_frac") <= 0) | (F.col("top_token_frac") > 1)
    ).count() == 0


def test_payload_dedup_counts_real_duplicates(spark):
    """The fixture corpus has zero duplicate payloads, so oracle parity
    alone never exercises n_copies > 1 or the canonical pick — feed a
    frame that does."""
    from iceberg_kafka_playgroud_spark.operators.multimodal import (
        payload_dedup,
    )

    rows = [
        (10, bytearray(b"alpha")),
        (7, bytearray(b"alpha")),
        (3, bytearray(b"alpha")),
        (5, bytearray(b"beta")),
        (1, bytearray(b"gamma")),
        (2, bytearray(b"gamma")),
    ]
    src = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["canonical_doc_id"]: r["n_copies"]
        for r in payload_dedup(src).collect()
    }
    assert got == {3: 3, 5: 1, 1: 2}


def test_pagerank_mass_conserved_and_positive(spark, sf_dir):
    """Fixed-point PageRank: every rank is positive and total mass
    stays within integer-truncation loss of the scale (each of the
    3 rounds can only LOSE mass to the r DIV outdeg and //100
    truncations, never create it)."""
    from iceberg_kafka_playgroud_spark.operators.advanced import (
        PR_SCALE,
        graph_pagerank,
    )

    pr = graph_pagerank(spark, sf_dir)
    agg = pr.agg(
        F.sum("rank_fp").alias("mass"), F.min("rank_fp").alias("lo")
    ).collect()[0]
    assert agg["lo"] > 0
    assert agg["mass"] <= PR_SCALE
    # truncation loses < 1 unit per edge per round + base rounding;
    # anything below 90% would mean a real leak (e.g. dangling nodes)
    assert agg["mass"] > PR_SCALE * 0.9


def test_kmeans_inertia_not_worse_than_seed_assignment(spark, sf_dir):
    """Lloyd monotonicity: inertia under the trained (2-round) model
    falls below inertia under the seed centroids.  The patched call
    must train its own seed-only model without a reset — the model
    memo keys on KM_ITERS — so a stale hit would compare the trained
    model with itself."""
    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    trained = (
        sim.embedding_kmeans_lloyd(spark, sf_dir)
        .agg(F.sum("inertia"))
        .collect()[0][0]
    )
    # seed-assignment inertia: k-means with 0 update rounds
    import unittest.mock as mock

    with mock.patch.object(sim, "KM_ITERS", 0):
        seed = (
            sim.embedding_kmeans_lloyd(spark, sf_dir)
            .agg(F.sum("inertia"))
            .collect()[0][0]
        )
    assert trained < seed


def test_pq_model_memo_keys_on_training_constants(spark, sf_dir):
    """A patched PQ_ITERS trains its own (seed-only) codebooks without
    a reset, so the ADC top-10 changes; a model memo blind to the
    constant would serve the trained model under the new plan key."""
    import unittest.mock as mock

    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    def top():
        rows = sim.ann_pq_adc_topk(spark, sf_dir).collect()
        return [r["vec_id"] for r in rows]

    trained = top()
    with mock.patch.object(sim, "PQ_ITERS", 0):
        seed_only = top()
    assert seed_only != trained


def test_phash_near_dup_full_recall_vs_bruteforce(spark, sf_dir):
    """Pigeonhole: 4 bands of 16 bits catch EVERY payload pair at
    Hamming distance <= 2 on the 64-bit aHash."""
    from iceberg_kafka_playgroud_spark.operators import multimodal as mm
    from iceberg_kafka_playgroud_spark.schema import load_table

    sigs = {
        r["doc_id"]: int(r["phash"], 2)
        for r in mm.phash_signatures(
            mm.with_payload(load_table(spark, sf_dir, "documents"))
        ).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= 2
    }
    banded = {
        (r["d1"], r["d2"])
        for r in mm.multimodal_phash_near_dup(spark, sf_dir).collect()
        if r["hamming"] <= 2
    }
    assert banded == brute


def test_scd2_join_preserves_event_count(spark, sf_dir):
    """Every event with a customer match falls in EXACTLY one validity
    window, so the as-was rollup must sum to the enriched-event count."""
    from iceberg_kafka_playgroud_spark.operators.advanced import (
        scd2_dimension_join,
    )
    from iceberg_kafka_playgroud_spark.schema import load_table

    joined = (
        scd2_dimension_join(spark, sf_dir).agg(F.sum("n_events")).collect()[0][0]
    )
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    expected = e.join(c, e.user_id == c.c_custkey).count()
    assert joined == expected


def test_mixture_resample_is_balanced(spark, sf_dir):
    """Every source keeps exactly min-source-count docs."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        mixture_resample_balanced,
    )

    rows = mixture_resample_balanced(spark, sf_dir).collect()
    min_docs = min(r["n_docs"] for r in rows)
    assert all(r["n_kept"] == min_docs for r in rows)


def test_countmin_never_underestimates(spark, sf_dir):
    """The count-min guarantee: estimate >= true frequency, always."""
    from iceberg_kafka_playgroud_spark.operators.advanced import (
        sketch_countmin_terms,
    )

    bad = (
        sketch_countmin_terms(spark, sf_dir)
        .filter(F.col("cm_estimate") < F.col("true_freq"))
        .count()
    )
    assert bad == 0


def test_chunking_covers_every_token_with_fixed_overlap(spark, sf_dir):
    """Chunk invariants over the real corpus: per doc, chunk 0 starts
    at token 1; consecutive chunk starts differ by exactly the stride;
    total coverage = n_tokens (every token in >= 1 chunk); every chunk
    except possibly the last is full-size."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunking,
    )
    from iceberg_kafka_playgroud_spark.operators.text import tokens
    from iceberg_kafka_playgroud_spark.schema import load_table

    chunks = doc_chunking(spark, sf_dir)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.max("chunk_idx").alias("max_idx"),
        F.max("chunk_tokens").alias("max_ct"),
    )
    last_ct = (
        chunks.join(
            per_doc.select("doc_id", F.col("max_idx").alias("li")), "doc_id"
        )
        .filter(F.col("chunk_idx") == F.col("li"))
        .select("doc_id", F.col("chunk_tokens").alias("last_ct"))
    )
    j = per_doc.join(docs, "doc_id").join(last_ct, "doc_id")
    bad = j.filter(
        (F.col("n_chunks") != F.col("max_idx") + 1)
        | (F.col("max_ct") > CHUNK_TOKENS)
        # coverage: the LAST chunk starts at (n_chunks-1)*stride and
        # must reach the final token (max_ct would let full-size
        # earlier chunks mask a truncated final one)
        | (
            (F.col("n_chunks") - 1) * CHUNK_STRIDE + F.col("last_ct")
            < F.col("n_tokens")
        )
    ).count()
    assert bad == 0
    # all but (possibly) the last chunk are full-size
    not_full = (
        chunks.filter(F.col("chunk_tokens") < CHUNK_TOKENS)
        .join(per_doc, "doc_id")
        .filter(F.col("chunk_idx") != F.col("max_idx"))
        .count()
    )
    assert not_full == 0


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=64,
        unique=True,
    )
)
@_slow
def test_zorder_interleave_is_bijective_and_bounded(spark, pairs):
    """The %/CASE bit-interleave used by zorder_layout_audit is an
    exact Morton code on 8-bit inputs: distinct (a, b) map to distinct
    z, z stays within 16 bits, and de-interleaving recovers (a, b)."""
    from iceberg_kafka_playgroud_spark.operators.relational import (
        _Z_INTERLEAVE,
        ZORDER_BITS,
    )

    df = spark.createDataFrame(pairs, "a long, b long")
    z = df.select(
        "a", "b", F.expr(_Z_INTERLEAVE.format(a="a", b="b")).alias("z")
    ).collect()
    seen = set()
    for r in z:
        a, b, zv = r["a"], r["b"], r["z"]
        assert 0 <= zv < 1 << (2 * ZORDER_BITS)
        assert zv not in seen
        seen.add(zv)
        # de-interleave in Python
        da = sum(((zv >> (2 * i)) & 1) << i for i in range(ZORDER_BITS))
        db = sum(((zv >> (2 * i + 1)) & 1) << i for i in range(ZORDER_BITS))
        assert (da, db) == (a, b)


def test_bloom_has_zero_false_negatives(spark, sf_dir):
    """Bloom soundness: EVERY true member must pass the filter — the
    operator's n_true_members (members that passed) must equal the
    independent member count, and set-bit count is bounded by k·|S|."""
    from iceberg_kafka_playgroud_spark.operators import advanced
    from iceberg_kafka_playgroud_spark.schema import load_table

    row = advanced.bloom_filter_probe(spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    n_members = orders.join(build, "o_custkey", "semi").count()
    assert row["n_true_members"] == n_members, "false negative detected"
    assert row["n_passed_bloom"] >= row["n_true_members"]
    assert (
        row["n_bits_set"]
        <= advanced.BLOOM_HASHES * row["n_build_keys"]
    )
    assert row["n_bits_set"] <= advanced.BLOOM_BITS


def test_triangle_count_matches_naive(spark, sf_dir):
    """Degree-ordered compact-forward must count exactly the triangles
    the naive id-ordered enumeration finds."""
    from iceberg_kafka_playgroud_spark.operators import advanced

    row = advanced.graph_triangle_count(spark, sf_dir).collect()[0]
    e = advanced._copurchase_edges(spark, sf_dir).select("pa", "pb").cache()
    e1 = e.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = e.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = e.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    naive = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    e.unpersist()
    assert row["n_triangles"] == naive


def test_copurchase_pack_gate_reads_key_domain(spark, tmp_path):
    """The co-purchase pair packing (pa<<32 | pb) is safe only when
    every l_partkey lies in [0, 2^31): part keys above 2^31 with a
    2-row ``part`` table must take the two-long path and keep their
    values, not wrap through the packed key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_kafka_playgroud_spark.operators import advanced

    hi_a, hi_b = (1 << 31) + 5, (1 << 31) + 6
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 1, 2, 2], pa.int64()),
                "l_partkey": pa.array([hi_a, hi_b, hi_a, hi_b], pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table({"p_partkey": pa.array([hi_a, hi_b], pa.int64())}),
        tmp_path / "part.parquet",
    )
    edges = advanced._copurchase_edges(spark, str(tmp_path))
    assert [tuple(r) for r in edges.collect()] == [(hi_a, hi_b, 2)]


def test_kmv_estimate_within_theory_bound(spark, sf_dir):
    """KMV relative error concentrates around 1/sqrt(k-1); assert the
    fixture estimate is within 5 standard errors of exact — loose
    enough to never flake, tight enough to catch a broken estimator
    (k_used must equal K when the corpus has >= K distinct hashes)."""
    from iceberg_kafka_playgroud_spark.operators import advanced

    row = advanced.sketch_kmv_distinct(spark, sf_dir).collect()[0]
    if row["k_used"] < advanced.KMV_K:
        # sketch holds the whole hash set -> exact by construction
        assert row["est_distinct"] == row["exact_distinct"]
        assert row["err_ppm"] == 0
    else:
        rel_bound = 5.0 / (advanced.KMV_K - 1) ** 0.5
        assert row["err_ppm"] <= rel_bound * 1_000_000


# --- round-7 allocation planners ------------------------------------------


def test_waterfill_cap_is_maximal_feasible(spark, sf_dir):
    """The waterfill invariants, checked against the data (not the
    oracle): spend(cap) ≤ budget < spend(cap+1), every uncapped source
    keeps all its tokens, and capped sources all sit exactly at the
    water level."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        WATERFILL_DEN,
        WATERFILL_NUM,
        mixture_token_waterfill,
    )

    rows = mixture_token_waterfill(spark, sf_dir).collect()
    cap = rows[0]["water_level"]
    total = sum(r["n_tokens"] for r in rows)
    budget = total * WATERFILL_NUM // WATERFILL_DEN
    spend = sum(min(r["n_tokens"], cap) for r in rows)
    spend_next = sum(min(r["n_tokens"], cap + 1) for r in rows)
    assert spend <= budget < spend_next
    for r in rows:
        if r["capped"]:
            assert r["alloc_tokens"] == cap <= r["n_tokens"]
        else:
            assert r["alloc_tokens"] == r["n_tokens"] <= cap


def test_largest_remainder_allocation_exact(spark, sf_dir):
    """Hamilton-method invariants: quotas sum EXACTLY to the budget,
    every quota is floor or floor+1 of the proportional share, and no
    source out-ranks another against remainder order."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        EVAL_SHARE_DEN,
        split_largest_remainder,
    )

    rows = split_largest_remainder(spark, sf_dir).collect()
    n_total = sum(r["n_docs"] for r in rows)
    budget = n_total // EVAL_SHARE_DEN
    assert sum(r["quota"] for r in rows) == budget
    for r in rows:
        base = budget * r["n_docs"] // n_total
        assert r["quota"] in (base, base + 1)
    # extras go to the largest remainders (ties by source asc)
    key = lambda r: (-(budget * r["n_docs"] % n_total), r["source"])  # noqa: E731
    ordered = sorted(rows, key=key)
    extras = [bool(r["extra"]) for r in ordered]
    assert extras == sorted(extras, reverse=True)


def test_m4_buckets_cover_and_bound(spark, sf_dir):
    """M4 invariants vs raw data: bucket point counts sum to the
    series length, and v_min ≤ v_first, v_last ≤ v_max per bucket."""
    from iceberg_kafka_playgroud_spark.operators.temporal import (
        events_m4_downsample,
    )
    from iceberg_kafka_playgroud_spark.schema import load_table

    rows = events_m4_downsample(spark, sf_dir).collect()
    n_purch = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_points"] for r in rows) == n_purch
    for r in rows:
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]


def test_theta_sketch_estimates_match_exact_small(spark, sf_dir):
    """Below the sketch's nominal k the theta estimate is EXACT — the
    sf0.001/sf0.01 populations are all under k=4096, so within_bound
    must hold with zero slack (a failure here means the sketch
    wiring, not the error bound, broke)."""
    from iceberg_kafka_playgroud_spark.operators.advanced import (
        sketch_theta_set_ops,
    )

    rows = sketch_theta_set_ops(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["within_bound"] for r in rows)


def test_mor_read_applies_sequence_rule(spark, tmp_path):
    """Equality-delete MOR: a key deleted at seq 2 disappears from the
    seq-1 data but its seq-3 re-insert survives; and time travel to
    the pre-delete snapshot still sees every original row."""
    from iceberg_kafka_playgroud_spark import snapshots as S

    table_dir = str(tmp_path / "tbl")
    base = 1740787200000
    S.commit_append(spark, table_dir, S._fabric_slice(spark, 0, 200))
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    keys = (
        S._fabric_slice(spark, 0, 200)
        .where(idx % 10 == 0)
        .select("timestamp")
    )
    S.commit_equality_delete(spark, table_dir, keys, ["timestamp"])
    S.commit_append(spark, table_dir, S._fabric_slice(spark, 0, 50))
    # pre-delete snapshot unaffected (time travel reads raw files)
    assert S.read_snapshot(spark, table_dir, 1).count() == 200
    # post: 200 - 20 deleted + 50 re-inserted (5 of which are
    # resurrected deleted keys)
    assert S.read_snapshot(spark, table_dir, 3).count() == 230


# --- LSH regime guard (r7 verdict task #3) --------------------------------


def test_lsh_regime_guard_warns_and_raises():
    """The SHIPPED default geometry (8 bands x 16 bits) must be
    in-regime — check_lsh_regime at any threshold passes silently (the
    r10 verdict's done-bar).  The retired r7–r10 default (32 bands x
    4 bits) still warns/raises when passed explicitly."""
    import warnings as _w

    import pytest

    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    rate = sim.lsh_random_collision_rate()
    assert rate < sim.LSH_MAX_RANDOM_RATE  # 1-(1-0.5^16)^8 ~= 0.012%

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = sim.check_lsh_regime(sim.NEAR_DUP_THRESHOLD)
        assert not rec
    assert got == pytest.approx(rate)

    # the retired quadratic geometry is still diagnosed
    old = sim.lsh_random_collision_rate(band_bits=4, n_bands=32)
    assert 0.8 < old < 0.95  # 1-(1-0.5^4)^32
    with pytest.raises(ValueError, match="semdedup"):
        sim.check_lsh_regime(0.45, strict=True, band_bits=4, n_bands=32)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        sim.check_lsh_regime(0.45, band_bits=4, n_bands=32)
        assert any(issubclass(r.category, RuntimeWarning) for r in rec)


@pytest.mark.parametrize(
    "op", ["ann_topk_blocked", "ann_topk_ivf", "ann_ivf_nprobe_curve"]
)
def test_query_set_guard_raises(spark, sf_dir, monkeypatch, op):
    """The driver-collect guard on the ANN query set raises (an assert
    would vanish under python -O) once the set passes MAX_QUERY_ROWS."""
    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "MAX_QUERY_ROWS", 2)
    with pytest.raises(ValueError, match="query set exceeds 2 rows"):
        getattr(sim, op)(spark, sf_dir)


def test_power_iteration_overflow_guard_raises(spark, sf_dir, monkeypatch):
    """The power-iteration int64 guard raises, not asserts.  At
    PI_VSCALE = 3e12 the sf0.001 corpus's largest per-dim sum is
    ~2^62.15: past the guard's 2^62, still inside int64 (running sums
    peak at the same ~2^62.15), so the guard, not Spark's overflow
    check, is what trips."""
    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "PI_VSCALE", 3 * 10**12)
    with pytest.raises(OverflowError, match="re-scale PI_XSCALE"):
        sim.embedding_top_component(spark, sf_dir)


def test_lsh_geometry_router():
    """lsh_geometry_for: low thresholds are structurally infeasible
    (→ None → embedding_near_dup_lsh routes to the exact block scan);
    high thresholds get an in-regime geometry with the target recall."""
    import math

    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    assert sim.lsh_geometry_for(0.45) is None  # contrast 1.30/bit
    assert sim.lsh_geometry_for(sim.NEAR_DUP_THRESHOLD) is None

    geo = sim.lsh_geometry_for(0.9)
    assert geo is not None
    b, n = geo
    assert n * b <= 512
    assert sim.lsh_random_collision_rate(b, n) <= sim.LSH_MAX_RANDOM_RATE
    p_t = 1.0 - math.acos(0.9) / math.pi
    recall = 1.0 - (1.0 - p_t**b) ** n
    assert recall >= 0.95


def test_lsh_banded_branch_high_threshold(spark):
    """The banded branch (in-regime geometry) on a synthetic corpus
    with planted near-duplicates: every planted pair (sim ≥ 0.99)
    must survive candidate generation + verification, and the
    candidate stream must stay far under n² (the whole point of
    banding)."""
    import numpy as np

    from iceberg_kafka_playgroud_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    n_base, n_dups = 120, 15
    base = rng.normal(size=(n_base, sim.EMB_DIM))
    vecs = [base[i] for i in range(n_base)]
    planted = set()
    for k in range(n_dups):  # near-identical copies of the first docs
        noisy = base[k] + rng.normal(scale=0.01, size=sim.EMB_DIM)
        planted.add((k, n_base + k))
        vecs.append(noisy)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    geo = sim.lsh_geometry_for(0.9)
    bands = sim.sketch_bands(em, *geo)
    b1, b2 = bands.alias("a"), bands.alias("b")
    from pyspark.sql import functions as F

    cand = (
        b1.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
        .collect()
    )
    cand_pairs = {(r["d1"], r["d2"]) for r in cand}
    assert planted <= cand_pairs  # full recall on the planted dups
    n_total = n_base + n_dups
    assert len(cand_pairs) <= 0.05 * n_total * (n_total - 1) / 2


# --- round-8 operator invariants ------------------------------------


def test_pps_sample_invariants(spark):
    """Systematic PPS: ~K selections (W//stride boundaries), unique
    docs, and every selected doc actually crosses a stride boundary."""
    from iceberg_kafka_playgroud_spark.operators.curation import (
        PPS_SAMPLE_K,
        sample_systematic_pps,
    )

    rows = sample_systematic_pps(spark, "/root/testdata/sf0.001").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert PPS_SAMPLE_K - 1 <= len(ids) <= PPS_SAMPLE_K + 1
    total = sum(r["w"] for r in rows)  # sampled mass only, sanity > 0
    assert total > 0
    assert all(r["w"] >= 1 for r in rows)


def test_mmr_greedy_invariants(spark):
    """MMR: K distinct picks per query; pick 1 is the relevance argmax
    (its score bounds every later MMR objective on positive sims)."""
    from collections import defaultdict

    from iceberg_kafka_playgroud_spark.operators.similarity import (
        MMR_K,
        N_QUERIES,
        ann_mmr_rerank,
    )

    rows = ann_mmr_rerank(spark, "/root/testdata/sf0.001").collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
    assert set(per_q) == set(range(N_QUERIES))
    for q, rs in per_q.items():
        assert [r["step"] for r in rs] == list(range(1, MMR_K + 1))
        picks = [r["neighbor_id"] for r in rs]
        assert len(picks) == len(set(picks))
        assert all(r["score"] <= rs[0]["score"] + 1e-12 for r in rs)


def test_ivfpq_invariants(spark):
    """IVF-PQ: top-k sorted by (pq_dist, vec_id), candidates from at
    most NPROBE cells, distances non-negative."""
    from iceberg_kafka_playgroud_spark.operators.similarity import (
        IVFPQ_NPROBE,
        PQ_TOP,
        ann_ivfpq_residual_topk,
    )

    rows = ann_ivfpq_residual_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == PQ_TOP
    key = [(r["pq_dist"], r["vec_id"]) for r in rows]
    assert key == sorted(key)
    assert len({r["cell"] for r in rows}) <= IVFPQ_NPROBE
    assert all(r["pq_dist"] >= 0 and r["exact_dist"] >= 0 for r in rows)


def test_misra_gries_output_is_exact_heavy_set(spark):
    """MG two-pass: output equals the EXACT heavy-hitter set (every
    term with freq * DEN >= n and nothing else), proving the candidate
    union was a superset — the MG coverage guarantee end-to-end."""
    from collections import Counter

    from iceberg_kafka_playgroud_spark.operators.advanced import (
        MG_HEAVY_DEN,
        sketch_misra_gries_heavy,
    )
    from iceberg_kafka_playgroud_spark.schema import load_table

    sfd = "/root/testdata/sf0.001"
    docs = load_table(spark, sfd, "documents").select("text").collect()
    truth = Counter(
        t for r in docs for t in r["text"].lower().split(" ") if t
    )
    n = sum(truth.values())
    expect = {t: c for t, c in truth.items() if c * MG_HEAVY_DEN >= n}
    got = {
        r["term"]: r["freq"]
        for r in sketch_misra_gries_heavy(spark, sfd).collect()
    }
    assert got == expect and len(got) > 0


def test_kcore_fixed_rounds_converged_on_fixture(spark):
    """The R-round peel must equal the fully-converged k-core on the
    fixture (one extra round changes nothing), and every survivor has
    in-core degree >= K."""
    import iceberg_kafka_playgroud_spark.operators.advanced as adv

    sfd = "/root/testdata/sf0.001"
    base = {
        (r["part"], r["deg_in_core"])
        for r in adv.graph_kcore_peel(spark, sfd).collect()
    }
    assert base and all(d >= adv.KCORE_K for _, d in base)
    orig = adv.KCORE_ROUNDS
    try:
        adv.KCORE_ROUNDS = orig + 1
        extra = {
            (r["part"], r["deg_in_core"])
            for r in adv.graph_kcore_peel(spark, sfd).collect()
        }
    finally:
        adv.KCORE_ROUNDS = orig
    assert extra == base


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(
            # cumulative-weight magnitudes past the 2^53 double mantissa,
            # where floor(x / y) on BIGINTs (IEEE division) mis-buckets
            st.integers(min_value=2**53, max_value=2**62),
            st.integers(min_value=1, max_value=2**40),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_integer_div_exact_past_2_53(spark, batch):
    """The `div` operator keeps the "integer-exact" contract of
    sample_systematic_pps / basket_diversity_simpson at >2^53
    magnitudes (r9 verdict #3): Spark `x div y` must equal Python's
    true integer division for every row — the double-division form
    `floor(x / y)` provably diverges in this regime."""
    df = spark.createDataFrame(batch, "x long, y long")
    rows = df.select(
        "x",
        "y",
        F.expr("x div y").alias("d"),
        F.floor(F.col("x") / F.col("y")).cast("long").alias("fd"),
    ).collect()
    double_breaks = 0
    for r in rows:
        assert r["d"] == r["x"] // r["y"], (r["x"], r["y"])
        if r["fd"] != r["x"] // r["y"]:
            double_breaks += 1
    # not asserted (floor(/) is *sometimes* right by luck), but the
    # counter documents why `div` is load-bearing
    del double_breaks


def test_stream_sink_epoch_commit_protocol(tmp_path):
    """The Python streaming sink's crash contract, unit-tested without
    a streaming query: spooled-but-ABORTED epochs leave nothing a
    reader can see (dot-prefixed temps removed), and a committed epoch
    becomes visible files + a manifest whose row counts match — the
    all-or-nothing property the oracle-paired query relies on."""
    import json
    import os

    from pyspark.sql import Row

    from iceberg_kafka_playgroud_spark.sources.python_datasource import (
        JsonlEpochStreamWriter,
    )

    out = str(tmp_path / "sink")
    w = JsonlEpochStreamWriter({"path": out})
    rows = [Row(id=i, ts_ms=0, user_id=f"u{i}", amount=1.0) for i in range(7)]

    # epoch 0: spooled then aborted -> directory shows nothing visible
    m0 = w.write(iter(rows[:3]))
    w.abort([m0], batchId=0)
    visible = [f for f in os.listdir(out) if not f.startswith(".")]
    assert visible == [], visible

    # epoch 1: spooled then committed -> files + manifest, counts match
    m1a = w.write(iter(rows[:3]))
    m1b = w.write(iter(rows[3:]))
    w.commit([m1a, m1b], batchId=1)
    cdir = os.path.join(out, "_commits")
    manifests = [f for f in os.listdir(cdir) if not f.startswith(".")]
    assert manifests == ["00001.json"]
    man = json.load(open(os.path.join(cdir, "00001.json")))
    assert man["batch_id"] == 1
    assert sum(e["n_rows"] for e in man["files"]) == 7
    for e in man["files"]:
        p = os.path.join(out, e["file"])
        assert os.path.exists(p)
        assert sum(1 for _ in open(p)) == e["n_rows"]
    # no stray temp spools survive a commit either
    strays = [
        f for f in os.listdir(out)
        if f.startswith(".tmp-")
    ]
    assert strays == [], strays


def test_one_memo_key_rule(spark, sf_dir):
    """Every session artifact is keyed by ``plan_cache``: no module
    outside it reads ``applicationId`` to build a key, no operator
    caches with a bare ``.cache()`` that no memo entry owns, and
    ``plan_memo`` is gone.  The constants part of every memoized key
    stays equal across a run of the PQ, LPA and CC ops, so repeat
    calls hit (an upper-case global rebound at run time would turn
    every call into a rebuild)."""
    import ast
    import importlib
    import pathlib
    import pkgutil

    import iceberg_kafka_playgroud_spark as pkg
    from iceberg_kafka_playgroud_spark import plan_cache
    from iceberg_kafka_playgroud_spark.operators import (
        advanced,
        dedup,
        similarity,
    )

    root = pathlib.Path(pkg.__path__[0])
    app_id, bare_cache = [], []
    for path in root.rglob("*.py"):
        src = path.read_text()
        rel = str(path.relative_to(root))
        assert "plan_memo" not in src, rel
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Attribute):
                continue
            if node.attr == "applicationId" and rel != "plan_cache.py":
                app_id.append(f"{rel}:{node.lineno}")
            if node.attr == "cache" and rel.startswith("operators"):
                bare_cache.append(f"{rel}:{node.lineno}")
    assert not app_id, f"hand-built session keys at {app_id}"
    assert not bare_cache, f"bare .cache() (use plan_cache.cached) at {bare_cache}"
    assert not hasattr(plan_cache, "plan_memo")

    registry = plan_cache._REGISTRY
    modules = set()
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        try:
            mod = importlib.import_module(info.name)
        except ImportError:
            continue
        for val in vars(mod).values():
            memo = getattr(val, "memo", None)
            if callable(val) and any(memo is m for m in registry):
                modules.add(mod)
    assert {similarity, advanced, dedup} <= modules

    def constants():
        return {m.__name__: plan_cache._constants(vars(m)) for m in modules}

    before = constants()
    similarity.ann_pq_adc_topk(spark, sf_dir).collect()
    advanced.graph_label_propagation(spark, sf_dir).collect()
    dedup.dedup_connected_components(spark, sf_dir).collect()
    assert constants() == before
    assert similarity._pq_model(spark, sf_dir) is similarity._pq_model(
        spark, sf_dir
    )


def test_every_engine_memo_is_classified(spark, sf_dir):
    """Every module-level ``*_MEMO`` in the package is a
    ``plan_cache.session_memo`` registry member (a plain-dict memo
    fails here, so it cannot silently stay warm through the
    recompute-warm bench column or the growth batteries), and the
    registry's kinds hold: after ops populated the memos,
    ``clear_materializations(spark)`` empties every derived memo and
    leaves every retained memo untouched."""
    import importlib
    import pkgutil

    import iceberg_kafka_playgroud_spark as pkg
    from iceberg_kafka_playgroud_spark import plan_cache
    from iceberg_kafka_playgroud_spark.operators import (
        advanced,
        dedup,
        relational,
        similarity,
    )

    registry = plan_cache._REGISTRY
    unregistered = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        try:
            mod = importlib.import_module(info.name)
        except ImportError:
            continue
        for attr, val in vars(mod).items():
            if attr.endswith("_MEMO") and not any(val is m for m in registry):
                unregistered.append(f"{info.name}.{attr}")
    assert not unregistered, (
        f"engine memo(s) outside the registry: {unregistered} — create "
        "them with plan_cache.session_memo(kind, release)"
    )

    dedup.dedup_connected_components(spark, sf_dir).collect()
    advanced._trade_edges(spark, sf_dir)
    similarity.ann_pq_adc_topk(spark, sf_dir).collect()
    relational._orders_in_format(spark, sf_dir, "csv")
    derived = [m for m in registry if m.kind == "derived"]
    retained = [m for m in registry if m.kind == "retained"]
    # derived: plans, CC labels, trade edges, PQ models; retained:
    # candidate counts, table scans, the staged csv
    assert sum(map(bool, derived)) >= 4 and sum(map(bool, retained)) >= 3
    before = [dict(m) for m in retained]
    plan_cache.clear_materializations(spark)
    assert not [m for m in derived if m]
    for m, snap in zip(retained, before):
        assert m.keys() == snap.keys()
        assert all(m[k] is v for k, v in snap.items())
