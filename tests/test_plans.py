"""Plan-shape assertions — scale posture, not just correctness.

These check the *physical plan Catalyst actually picks*: filters reach
the parquet scan, small dims broadcast, top-k avoids a global sort.
At 100 TB these properties are the difference between a working plan
and a dead cluster.
"""

import pytest

from iceberg_kafka_playgroud_spark.operators import (
    advanced,
    curation,
    dedup,
    relational,
    similarity,
)
from iceberg_kafka_playgroud_spark.plans.inspect import physical_plan


def test_filter_pushdown(spark, sf_dir):
    plan = physical_plan(relational.filter_predicates(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least the IN and range filters are pushed to parquet
    assert "l_returnflag" in plan.split("PushedFilters")[1][:400]


def test_column_pruning(spark, sf_dir):
    plan = physical_plan(relational.scan_project(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = physical_plan(relational.q5_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_no_global_sort(spark, sf_dir):
    plan = physical_plan(relational.sort_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q7_broadcasts_dims_and_pushes_date(spark, sf_dir):
    plan = physical_plan(relational.q7_volume_shipping(spark, sf_dir))
    # supplier + both nation copies broadcast; the ship-date range
    # reaches the lineitem scan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q8_broadcasts_all_dims(spark, sf_dir):
    # part/supplier/nation/nation/region all broadcast — the three
    # facts are the only shuffled inputs
    plan = physical_plan(relational.q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5


def test_q22_anti_join_prunes_recent_orders(spark, sf_dir):
    plan = physical_plan(relational.q22_idle_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    # the idle-window filter reaches SOME parquet scan (the orders one)
    sections = plan.split("PushedFilters")[1:]
    assert any("o_orderdate" in s[:400] for s in sections)


def test_q1_partial_aggregation(spark, sf_dir):
    plan = physical_plan(relational.q1_pricing_summary(spark, sf_dir))
    # map-side partial agg before the shuffle
    assert "partial_sum" in plan or "HashAggregate" in plan
    # whole-stage codegen spans show as *(n) in the AQE final plan,
    # which only exists after execution
    df = relational.q1_pricing_summary(spark, sf_dir)
    df.collect()
    simple = physical_plan(df, "simple")
    assert "*(" in simple and "isFinalPlan=true" in simple


def test_q10_topk_and_broadcast(spark, sf_dir):
    plan = physical_plan(relational.q10_returned_items(spark, sf_dir))
    # nation broadcasts; top-20 never becomes a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q18_preaggregates_before_join(spark, sf_dir):
    plan = physical_plan(relational.q18_large_orders(spark, sf_dir))
    # the HAVING-pruned per-order aggregate must sit UNDER the join —
    # the shuffle carries one row per heavy order, not raw lineitems
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert "BroadcastHashJoin" in plan


def test_sample_is_narrow(spark, sf_dir):
    # deterministic sampling must not shuffle — pure scan-local filter
    plan = physical_plan(advanced.sample_hash_bucket(spark, sf_dir))
    assert "Exchange" not in plan


def test_ngram_jaccard_broadcasts_hot_list(spark, sf_dir):
    # df-pruning anti-join keeps the big shingle table un-shuffled on
    # the pruning side: the hot-shingle list must broadcast
    plan = physical_plan(dedup.dedup_ngram_jaccard(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_near_dup_exact_is_blocked_not_allpairs(spark, sf_dir):
    # the exact threshold join must run as block-pair equi-join +
    # per-block matmul — never a full-table broadcast nested loop or
    # cartesian product (the round-1 scale-killer)
    plan = physical_plan(similarity.embedding_near_dup_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the block matmul


def test_near_dup_lsh_is_bucketed(spark, sf_dir):
    # the router: at the sub-LSH 0.45 default the plan is the exact
    # BLOCK-PARTITIONED scan (no all-pairs operator, no banding
    # overhead on a Θ(n²) candidate stream); at a high threshold the
    # banded branch generates candidates via the (band_idx, band_val)
    # equi-join.  Neither regime may contain a cartesian.
    plan = physical_plan(similarity.embedding_near_dup_lsh(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bi" in plan and "bj" in plan  # block-pair group keys

    banded = physical_plan(
        similarity.embedding_near_dup_lsh(spark, sf_dir, threshold=0.9)
    )
    assert "BroadcastNestedLoopJoin" not in banded
    assert "CartesianProduct" not in banded
    assert "band_idx" in banded and "band_val" in banded


def test_near_dup_lsh_full_recall_on_fixture(spark, sf_dir):
    # LSH recall is probabilistic in general; with the committed
    # sketch parameters it is 100% on the fixtures — pin that, so a
    # parameter change that silently loses pairs fails here
    exact = {
        (r["d1"], r["d2"])
        for r in similarity.embedding_near_dup_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in similarity.embedding_near_dup_lsh(spark, sf_dir).collect()
    }
    assert lsh == exact


def test_aqe_splits_skewed_join_partition(spark):
    # AQE's runtime skew handling: pile ~99% of rows onto one join key,
    # force a sort-merge join, and check the EXECUTED plan split the
    # hot partition (skew=true / AQEShuffleRead skewed). Two pitfalls
    # this pins so the 100 TB posture is real and not assumed:
    # (1) AQE splits a reduce partition at MAPPER boundaries, so the
    #     input must span several map tasks (single-file tiny fixtures
    #     have one mapper — nothing to split); at real scale inputs
    #     always have many mappers.
    # (2) forceOptimizeSkewedJoin is needed when Spark would otherwise
    #     preserve the join's output partitioning for downstream reuse.
    from pyspark.sql import functions as F

    scoped = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        left = spark.range(0, 500_000, 1, 16).select(
            F.when(F.col("id") % 100 != 0, 0).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 2).alias("payload"),
        )
        right = spark.range(0, 100).select((F.col("id") * 100).alias("k"))
        df = left.join(right.hint("merge"), "k")
        # collect() executes df's OWN queryExecution (count()/write()
        # would execute a derived plan and leave df's unfinalized)
        assert len(df.collect()) == 495_100
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed
        assert "AQEShuffleRead skewed" in executed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    # both sides bucketed+sorted on the join key: SortMergeJoin with
    # no Exchange and no Sort on either input; the only shuffle in the
    # whole plan is the final aggregation's
    plan = physical_plan(relational.join_bucketed_colocated(spark, sf_dir))
    assert plan.count("Bucketed: true") == 2
    tree = plan.split("(1)")[0]  # operator tree, before the detail dump
    assert "SortMergeJoin" in tree
    # below the join: scans only, no Exchange feeding either side
    assert "Exchange" not in tree.split("SortMergeJoin")[1]
    assert tree.count("Exchange") == 1  # the final aggregation's


def test_interval_join_is_bucketed_equijoin(spark, sf_dir):
    # the range condition must ride on a (user, time-bucket) equi-join,
    # never the BroadcastNestedLoop a naive non-equi self-join produces
    plan = physical_plan(advanced.interval_join_events(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_hamming_is_banded_not_allpairs(spark, sf_dir):
    # banded candidate generation is an equi-join on (band_idx,
    # band_val); the verify step XOR-popcounts candidates only
    plan = physical_plan(dedup.dedup_simhash_hamming(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band_idx" in plan and "band_val" in plan


def test_phash_near_dup_is_banded_not_allpairs(spark, sf_dir):
    # the perceptual near-dup reuses the banded-candidate shape: an
    # equi-join on (band_idx, band_val), never a cross product
    from iceberg_kafka_playgroud_spark.operators import multimodal

    plan = physical_plan(multimodal.multimodal_phash_near_dup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band_idx" in plan and "band_val" in plan


def test_simhash_hamming_full_recall_vs_bruteforce(spark, sf_dir):
    # pigeonhole guarantee: 4 bands of 32 bits catch EVERY pair at
    # Hamming distance <= 3 — verify against the brute-force answer
    sigs = {
        r["doc_id"]: int(r["simhash"], 2)
        for r in dedup.simhash_signatures128(spark, sf_dir).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= dedup.K_HAMMING
    }
    banded = {
        (r["d1"], r["d2"])
        for r in dedup.dedup_simhash_hamming(spark, sf_dir).collect()
    }
    assert banded == brute


def test_simhash_band_buckets_bounded(spark, sf_dir):
    # the scale contract behind the banded join: no single (band_idx,
    # band_val) bucket may hold more than a few % of docs — the 64-bit
    # signature's hot bucket held ~65% and made candidates quadratic
    from pyspark.sql import functions as F

    sigs = dedup.simhash_signatures128(spark, sf_dir)
    n_docs = sigs.count()
    bw = dedup.SIMHASH_BITS // dedup.SIMHASH_BANDS
    buckets = (
        sigs.select(
            F.posexplode(
                F.array(
                    *[
                        F.substring("simhash", bw * b + 1, bw)
                        for b in range(dedup.SIMHASH_BANDS)
                    ]
                )
            ).alias("band_idx", "band_val")
        )
        .groupBy("band_idx", "band_val")
        .count()
    )
    max_share = buckets.agg(F.max("count")).collect()[0][0] / n_docs
    assert max_share <= 0.05, f"hot band bucket holds {max_share:.1%} of docs"


def test_layout_cache_compacts_single_row_group(tmp_path):
    # single-row-group fixtures must be rewritten into a splittable
    # layout (byte-identical data, many files) so scans parallelize
    import os

    import pyarrow.parquet as pq

    from iceberg_kafka_playgroud_spark import schema as sch

    src_dir = "/root/testdata/sf0.1"
    src = f"{src_dir}/lineitem.parquet"
    if not os.path.exists(src):
        import pytest

        pytest.skip("sf0.1 fixtures not present")
    out = sch._compacted_source(src_dir, "lineitem")
    assert os.path.isdir(out), "big single-row-group input should compact"
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) > 8
    total = sum(
        pq.ParquetFile(os.path.join(out, f)).metadata.num_rows for f in files
    )
    assert total == pq.ParquetFile(src).metadata.num_rows
    # small inputs are served as-is
    small = sch._compacted_source("/root/testdata/sf0.001", "lineitem")
    assert small.endswith("lineitem.parquet")


def test_q21_compiles_to_semi_plus_anti(spark, sf_dir):
    # the double EXISTS/NOT EXISTS must become one LEFT SEMI and one
    # LEFT ANTI join, both shuffle-keyed on orderkey — never a
    # correlated per-row subquery
    plan = physical_plan(relational.q21_last_shipper(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q2_broadcasts_all_dims(spark, sf_dir):
    # part/supplier/nation/region broadcast; only the derived supply
    # relation shuffles (its groupBy + the per-part window)
    plan = physical_plan(relational.q2_min_cost_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4


def test_contamination_broadcasts_eval_shingles(spark, sf_dir):
    # the held-out set's shingles must broadcast: the corpus-sized
    # training side never shuffles on the shingle key
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.contamination_ngram_overlap(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_split_assignment_is_narrow(spark, sf_dir):
    # split derivation itself adds no shuffle: exactly one Exchange in
    # the whole plan (the 3-row summary aggregation)
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.split_train_val_test(spark, sf_dir))
    # two physical exchanges only — the 3-row summary agg + the final
    # sort (formatted plans print each operator twice: tree + detail);
    # the md5 split projection itself must add none
    assert plan.count("Exchange") <= 4
    # and the aggregation is partial (combine) below the shuffle
    assert "partial_count" in plan or "partial_sum" in plan


def test_centroids_partial_aggregation(spark, sf_dir):
    # map-side combine: partial_sum must appear below the exchange so
    # the shuffle carries (label, dim) cells, not exploded elements
    plan = physical_plan(similarity.embedding_centroids(spark, sf_dir))
    assert "partial_sum" in plan


def test_zscore_broadcasts_moments(spark, sf_dir):
    # the types-sized moments table must broadcast; the second pass
    # over events is narrow (no shuffle of the fact side)
    plan = physical_plan(advanced.events_zscore_normalize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_audio_rms_is_narrow(spark, sf_dir):
    # windowed DSP fans out rows but never KEY-shuffles: the only
    # permitted exchange is with_payload's gated round-robin spread of
    # the sub-split fixture scan (absent at scale, where the gate is
    # false) — any hash/range partitioning would mean the DSP itself
    # started shuffling
    import re

    from iceberg_kafka_playgroud_spark.operators import multimodal

    plan = physical_plan(multimodal.multimodal_audio_rms(spark, sf_dir))
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(kind == "RoundRobinPartitioning" for kind in exchanges), plan


def test_curation_pipeline_two_shuffles(spark, sf_dir):
    # dedup window hash partition + final manifest agg (+ output sort);
    # the narrow gates/split stages must add no exchanges
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.curation_pipeline_end_to_end(spark, sf_dir))
    assert plan.count("Exchange") <= 6  # ≤3 physical, printed twice each


def test_salted_join_is_shuffled_not_broadcast(spark, sf_dir):
    # the salting demo must actually exercise a shuffle join — if the
    # dim broadcasts there is no reduce-side skew for the salt to fix
    plan = physical_plan(advanced.join_salted_skew(spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "salt" in plan


def test_quantize_int8_is_narrow(spark, sf_dir):
    # per-vector quantization audit is pure projection — zero shuffle
    plan = physical_plan(similarity.embedding_quantize_int8(spark, sf_dir))
    assert "Exchange" not in plan


def test_pii_scrub_is_narrow(spark, sf_dir):
    # regex count/replace are scan-local column expressions
    from iceberg_kafka_playgroud_spark.operators import text

    plan = physical_plan(text.pii_scrub_stats(spark, sf_dir))
    assert "Exchange" not in plan


def test_repetition_filter_partial_aggregation(spark, sf_dir):
    # both aggregation levels must combine map-side so the shuffles
    # carry (doc, token) counts / per-doc moments, not raw tokens
    from iceberg_kafka_playgroud_spark.operators import text

    plan = physical_plan(text.text_repetition_filter(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_hashes(spark, sf_dir):
    # the eval hash set must broadcast; the training side stays
    # scan-shaped (no shuffle of the corpus for the probe)
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.decontaminate_exact(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_histogram_partial_aggregation(spark, sf_dir):
    # one combinable groupBy; bucket derivation adds no shuffle
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.token_length_histogram(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    # agg exchange + output sort only (formatted plans print twice)
    assert plan.count("Exchange") <= 4


def test_oov_vocab_topk_and_broadcast_probe(spark, sf_dir):
    # vocab top-K must be the distributed TakeOrderedAndProject (never
    # a single-partition window); the probe joins the broadcast vocab
    # and folds total+OOV counts map-side — the token stream itself is
    # never shuffled or sort-merge-joined
    from iceberg_kafka_playgroud_spark.operators import curation

    plan = physical_plan(curation.vocab_oov_rate(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


@pytest.mark.parametrize(
    "op, split",
    [
        (dedup.dedup_incremental_minhash, "% 10)"),
        (curation.decontaminate_fuzzy_minhash, "% 97)"),
    ],
    ids=["dedup_incremental_minhash", "decontaminate_fuzzy_minhash"],
)
def test_incremental_minhash_splits_before_join(spark, sf_dir, op, split):
    # the ref/probe split must reach both band-join inputs as filters
    # (ref x probe only — never the corpus-wide self-join), and the
    # verify stage must broadcast candidates, not shuffle shingles
    plan = physical_plan(op(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count(split) >= 2  # both sides filtered pre-join


def test_session_funnel_single_user_partitioning(spark, sf_dir):
    # sessionization windows + per-session agg + final funnel agg must
    # share the user_id hash partitioning: no extra wide exchanges, and
    # the aggregations combine map-side
    plan = physical_plan(advanced.session_funnel(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_component_round_is_combinable(spark, sf_dir):
    # each power-iteration round's per-dimension sum must combine
    # map-side so the shuffle carries (pos, partial) cells, never the
    # exploded contributions. Constants come from the module under
    # test so a scale/dimension change keeps the pin meaningful.
    from iceberg_kafka_playgroud_spark.operators.similarity import (
        EMB_DIM,
        _PI_QV0_VAL,
        fixed_point,
    )
    from iceberg_kafka_playgroud_spark.schema import load_table
    from pyspark.sql import functions as F

    base = load_table(spark, sf_dir, "embeddings").select(
        fixed_point(F.col("embedding")).alias("qx")
    )
    qv = F.array(*[F.lit(_PI_QV0_VAL).cast("long")] * EMB_DIM)
    c = F.aggregate(
        F.zip_with(F.col("qx"), qv, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    round_df = (
        base.select("qx", c.alias("c"))
        .select(
            F.posexplode(
                F.transform(F.col("qx"), lambda q: q * F.col("c"))
            ).alias("pos", "t")
        )
        .groupBy("pos")
        .agg(F.sum("t").alias("s"))
    )
    plan = physical_plan(round_df)
    assert "partial_sum" in plan


def test_fuzzy_join_is_length_banded_not_allpairs(spark, sf_dir):
    # full-recall blocking: equi-join on the exploded length key; the
    # all-pairs name compare must never materialize
    plan = physical_plan(advanced.fuzzy_join_levenshtein(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "len_key" in plan


def test_scd2_join_is_equijoin_on_key(spark, sf_dir):
    # the validity-range predicate rides a key HASH join (bounded
    # version fanout), never a nested-loop range join; the single
    # allowed BroadcastNestedLoopJoin is the 1-row min-ts scalar
    # attach (a broadcast of one row, constant cost at any scale)
    plan = physical_plan(advanced.scd2_dimension_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # formatted plans name each node twice (tree line + detail header),
    # so one BNLJ node == two substring hits
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in plan


def test_pagerank_plan_has_no_cartesian(spark, sf_dir):
    plan = physical_plan(advanced.graph_pagerank(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winsorize_broadcasts_cutpoints(spark, sf_dir):
    """The per-type cut points (one row per event type) must broadcast
    back onto the scan — a shuffle join here would re-shuffle the
    whole events table for a 5-row dimension."""
    from iceberg_kafka_playgroud_spark.operators import temporal

    plan = physical_plan(temporal.winsorize_event_values(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_concurrency_sweep_aggregates_before_global_window(spark, sf_dir):
    """The sweep-line running sum is single-partition by necessity —
    it must therefore run AFTER the per-day delta aggregation, so the
    global window sees calendar-day cardinality, never order rows."""
    from iceberg_kafka_playgroud_spark.operators import temporal

    plan = physical_plan(temporal.orders_open_concurrency(spark, sf_dir))
    # partial aggregation collapses deltas to days before the sort
    assert "HashAggregate" in plan
    win = plan.index("Window")
    agg = plan.rindex("HashAggregate")
    assert agg > win, "day aggregation must be below (before) the window"
    assert "CartesianProduct" not in plan


def test_gapfill_and_audit_no_cartesian(spark, sf_dir):
    from iceberg_kafka_playgroud_spark.operators import audit, temporal

    for fn in (
        temporal.time_gapfill_locf,
        audit.order_reconciliation_audit,
        audit.dq_constraint_suite,
    ):
        assert "CartesianProduct" not in physical_plan(fn(spark, sf_dir))


def test_triangle_count_no_global_window(spark, sf_dir):
    """Degree orientation must come from (deg, id) tuple comparison,
    not a global rank — no single-partition Window, no cartesian."""
    plan = physical_plan(advanced.graph_triangle_count(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_item_cosine_broadcasts_degrees(spark, sf_dir):
    """Item degree vectors (part-count-sized) broadcast onto the
    support-pruned pair list; top-k is TakeOrdered, not a global sort."""
    plan = physical_plan(advanced.item_item_cosine(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_rolling_distinct_presence_collapse_first(spark, sf_dir):
    """The 7x calendar expansion must happen AFTER the (user, day)
    presence dedup — the explode feeds on an aggregated input, so
    shuffle volume is 7x presence, never 7x raw events."""
    from iceberg_kafka_playgroud_spark.operators import temporal

    import re

    plan = physical_plan(
        temporal.events_rolling_distinct_users(spark, sf_dir)
    )
    nodes = re.findall(r"\((\d+)\) (\w+)", plan)
    first = {}
    for nid, name in nodes:
        first.setdefault(name, int(nid))
    # numbered nodes run leaf-first: the explode (Generate) must come
    # AFTER the presence-dedup aggregate
    assert first["HashAggregate"] < first["Generate"]
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_and_takeordered(spark, sf_dir):
    """BM25: df + corpus totals broadcast onto the pruned hit list;
    top-k must be TakeOrdered, never a global sort."""
    from iceberg_kafka_playgroud_spark.operators import text

    plan = physical_plan(text.text_bm25_retrieval(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_audio_fingerprint_df_pruned_bucket_join(spark, sf_dir):
    """Fingerprint match: the hot-hash prune list broadcasts; the
    candidate join is an equi-join on the hash, not an all-pairs."""
    from iceberg_kafka_playgroud_spark.operators import multimodal

    plan = physical_plan(
        multimodal.multimodal_audio_fingerprint(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Arguments lines of Window nodes with NO partition spec.

    In formatted explain a Window node's Arguments are
    ``[functions], [partitionSpec], [orderSpec]`` when partitioned and
    only ``[functions], [orderSpec]`` when global — count top-level
    bracket groups.
    """
    import re

    out = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if not b.startswith("Window"):
            continue
        m = re.search(r"Arguments: (.*)", b)
        if not m:
            continue
        args, depth, groups = m.group(1), 0, 0
        for ch in args:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups < 3:
            out.append(m.group(1))
    return out


def test_no_global_window_in_rank_rewrites(spark, sf_dir):
    """The r6-flagged global single-partition windows are gone: the
    ntile / running-sum rewrites (distributed.py prefix-sum) leave
    every Window node in these plans PARTITIONED — no task ever sees
    the whole frame."""
    from iceberg_kafka_playgroud_spark.operators import (
        curation,
        scalar_funcs,
    )

    for fn in (
        curation.quality_dup_calibration,
        advanced.orders_rfm_segmentation,
        advanced.orders_abc_analysis,
        scalar_funcs.sort_nulls_ordering,
        curation.curation_global_shuffle,
    ):
        bad = _unpartitioned_windows(physical_plan(fn(spark, sf_dir)))
        assert not bad, f"{fn.__name__} has global windows: {bad}"


def test_rrf_truncates_to_horizon_with_takeordered(spark, sf_dir):
    """Hybrid RRF: both candidate lists are cut to the fusion horizon
    by TakeOrderedAndProject (per-partition top-k, no global sort)
    BEFORE the rank windows, so the only unpartitioned windows run
    over ≤ RRF_HORIZON rows — constant-bounded at any corpus size."""
    plan = physical_plan(similarity.hybrid_rrf_retrieval(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2


def test_triangle_count_shuffle_fallback_matches(spark, sf_dir, monkeypatch):
    """Force the beyond-broadcast-budget path (threshold 0): the
    shuffled equi-join plan must produce the identical triangle count
    as the broadcast plan."""
    base = advanced.graph_triangle_count(spark, sf_dir).collect()
    monkeypatch.setattr(advanced, "TRIANGLE_BROADCAST_MAX", 0)
    fallback = advanced.graph_triangle_count(spark, sf_dir).collect()
    assert [r.asDict() for r in base] == [r.asDict() for r in fallback]


def test_pq_topk_is_take_ordered(spark, sf_dir):
    """PQ ADC: the candidate scan ends in a TakeOrderedAndProject
    (per-partition top-k, no global sort), and the ADC itself is a
    literal lookup — no join against a distance table."""
    from iceberg_kafka_playgroud_spark.operators import similarity

    plan = physical_plan(similarity.ann_pq_adc_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_top_paths_windows_are_partitioned(spark, sf_dir):
    """Session path mining: every window carries a PARTITION BY (user
    / session) and the final top-20 is a TakeOrdered — nothing
    funnels the event stream through one task."""
    from iceberg_kafka_playgroud_spark.operators import advanced

    plan = physical_plan(advanced.session_top_paths(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_coverage_single_distinct_pass(spark, sf_dir):
    """Boilerplate coverage: document frequency must be a plain
    map-side-combined count over per-doc-distinct grams (NO
    count_distinct / distinct() pass anywhere — the r9 rewrite), the
    span union must be a doc-keyed collect_set (one shuffled row per
    hit, not BOILER_N), and the boilerplate set join must not
    broadcast the corpus side."""
    from iceberg_kafka_playgroud_spark.operators import text

    plan = physical_plan(text.text_boilerplate_coverage(spark, sf_dir))
    # the high-df gram SET (aggregated, filtered) may broadcast; the
    # corpus-sized gram stream itself must never be a build side
    assert "CartesianProduct" not in plan
    assert "count(distinct" not in plan.lower()
    assert "collect_set" in plan.lower()


# -- block-manager storage hygiene -------------------------------------


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_bfs_lpa_release_blocks(spark, sf_dir):
    """Checkpoint-block leak pin (r9 verdict #2): BFS and LPA must
    leave block-manager storage FLAT across repeated calls — a bare
    df.unpersist() on a localCheckpoint'ed frame only clears the
    CacheManager entry while the checkpoint RDD blocks stay resident
    (the r8 degradation: one leaked LPA round made q5 warm 1.0→7.6 s).
    First call warms the session-lifetime caches (table memo etc.);
    the repeat calls must add NOTHING."""
    advanced.graph_bfs_reachability(spark, sf_dir)
    advanced.graph_label_propagation(spark, sf_dir)
    base = _n_persistent_rdds(spark)
    for _ in range(2):
        advanced.graph_bfs_reachability(spark, sf_dir)
        advanced.graph_label_propagation(spark, sf_dir)
    assert _n_persistent_rdds(spark) == base


def test_checkpoint_memo_bounds_repeat_calls(spark, sf_dir):
    """Instance-keyed checkpoints must not stack per call: the
    prefix-sum range pin (distributed._range_checkpoint), the CC
    label table, and the vocab-coverage counts are memoized per
    (session, plan) — repeated invocations (warm bench best-of-N)
    reuse ONE resident copy."""
    from iceberg_kafka_playgroud_spark.operators import curation, dedup

    def run_all():
        curation.sample_systematic_pps(spark, sf_dir).collect()
        curation.vocab_coverage_curve(spark, sf_dir).collect()
        dedup.dedup_connected_components(spark, sf_dir).collect()

    run_all()
    base = _n_persistent_rdds(spark)
    run_all()
    run_all()
    assert _n_persistent_rdds(spark) == base


def test_candidate_broadcast_gate_fallback_matches(spark, sf_dir, monkeypatch):
    """Footer-gated candidate broadcasts (r9 verdict #7): force the
    beyond-budget path (gate 0) — calibration and weighted-jaccard
    must fall back to shuffled joins and produce identical results."""
    base_cal = dedup.dedup_minhash_calibration(spark, sf_dir).collect()
    base_wj = dedup.dedup_weighted_jaccard(spark, sf_dir).collect()
    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 0)
    monkeypatch.setattr(dedup, "CAND_SHINGLE_BROADCAST_MAX_PAIRS", 0)
    cal = dedup.dedup_minhash_calibration(spark, sf_dir)
    wj = dedup.dedup_weighted_jaccard(spark, sf_dir)
    # the explicit hint must be GONE from the plan, not merely
    # result-neutral (ADVICE r10 #5): a gate that ignored the budget
    # and always hinted would still pass the result compare.  Hint
    # markers are asserted on the OPTIMIZED LOGICAL plan — the
    # physical plan string embeds cached subtrees' historical AQE
    # plans (runtime-converted broadcasts that are not hints).
    def hint_count(df):
        return (
            df._jdf.queryExecution().optimizedPlan().toString()
        ).count("strategy=broadcast")

    assert hint_count(wj) == 0
    assert hint_count(cal) == 0
    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 10**9)
    monkeypatch.setattr(dedup, "CAND_SHINGLE_BROADCAST_MAX_PAIRS", 10**9)
    assert hint_count(dedup.dedup_weighted_jaccard(spark, sf_dir)) > 0
    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 0)
    monkeypatch.setattr(dedup, "CAND_SHINGLE_BROADCAST_MAX_PAIRS", 0)
    assert [r.asDict() for r in cal.collect()] == [r.asDict() for r in base_cal]
    assert [r.asDict() for r in wj.collect()] == [r.asDict() for r in base_wj]


@pytest.mark.parametrize(
    "op",
    [dedup.dedup_incremental_minhash, curation.decontaminate_fuzzy_minhash],
    ids=lambda op: op.__name__,
)
def test_reference_probe_gates_broadcast_on_candidates(
    spark, sf_dir, monkeypatch, op
):
    """Both batch reference probes gate the candidate-membership
    broadcast on the candidate pair count: past the budget (0) the
    hint is gone from the plan and the rows are unchanged."""

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )

    base = op(spark, sf_dir)
    assert hints(base) > 0
    monkeypatch.setattr(dedup, "CAND_BROADCAST_MAX_PAIRS", 0)
    gated = op(spark, sf_dir)
    assert hints(gated) == 0
    assert sorted(map(tuple, gated.collect())) == sorted(
        map(tuple, base.collect())
    )


SOME_GATE = 7


def test_plan_memo_contract(spark, sf_dir):
    """memoized: same (session, sf, constants) → the SAME DataFrame
    object (no rebuild); a changed module constant → a FRESH build
    keyed separately (monkeypatched budgets can never hit a stale
    plan); the wrapper never swallows execution — the returned frame
    is lazy."""
    from iceberg_kafka_playgroud_spark import plan_cache

    calls = {"n": 0}

    @plan_cache.memoized("derived")
    def build(sp, sf):
        calls["n"] += 1
        from pyspark.sql import functions as F

        return sp.range(3).select((F.col("id") * SOME_GATE).alias("x"))

    a = build(spark, sf_dir)
    b = build(spark, sf_dir)
    assert a is b and calls["n"] == 1
    global SOME_GATE
    old = SOME_GATE
    try:
        SOME_GATE = 8
        c = build(spark, sf_dir)
        assert c is not a and calls["n"] == 2
        # the gate value the plan was built under is the one executed
        assert [r["x"] for r in c.collect()] == [0, 8, 16]
        assert [r["x"] for r in a.collect()] == [0, 7, 14]
    finally:
        SOME_GATE = old
    plan_cache.clear_materializations(spark)
    d = build(spark, sf_dir)
    assert d is not a and calls["n"] == 3


def test_memo_eviction_drops_dead_sessions(spark, sf_dir):
    """Session-keyed memos evict entries owned by stopped sessions
    (ADVICE r10 #1): only ONE SparkContext can be live per process, so
    any other applicationId is dead and its py4j handles must go."""
    from iceberg_kafka_playgroud_spark.plan_cache import evict_dead_sessions

    live = spark.sparkContext.applicationId
    fake = {
        ("app-dead-123", "sf0.x", "q"): object(),
        (live, "sf0.y", "q"): object(),
    }
    assert evict_dead_sessions(fake) == 1
    assert list(fake) == [(live, "sf0.y", "q")]

    # the real memos only hold live-session entries after any access
    from iceberg_kafka_playgroud_spark.operators import advanced, dedup

    dedup._minhash_candidates(spark, sf_dir)
    sh, cand = dedup._minhash_candidates(spark, sf_dir)
    dedup._cand_count(cand)
    advanced._trade_edges(spark, sf_dir)
    for memo in (dedup._N_CAND_MEMO, advanced._trade_edges.memo):
        assert all(k[0] == live for k in memo)

    # the no-argument sweep covers every registered memo, and only
    # drops dead-session entries
    from iceberg_kafka_playgroud_spark.plan_cache import _REGISTRY

    for i, memo in enumerate(_REGISTRY):
        memo[("app-dead-123", "planted", i)] = object()
    n_live = sum(map(len, _REGISTRY)) - len(_REGISTRY)
    assert evict_dead_sessions() == len(_REGISTRY)
    assert sum(map(len, _REGISTRY)) == n_live > 0
    assert not [k for m in _REGISTRY for k in m if k[0] != live]


def test_reset_without_session_unpersists_memo_frames(spark, sf_dir):
    """``clear_materializations()`` without a session still unpersists
    the cached frames memos and prepared plans hold."""
    from iceberg_kafka_playgroud_spark import plan_cache
    from iceberg_kafka_playgroud_spark.operators import (
        dedup,
        multimodal,
        similarity,
        text,
    )
    from iceberg_kafka_playgroud_spark.streaming import ingest

    plan_cache.clear_materializations(spark)
    base = _n_persistent_rdds(spark)
    for op in (
        similarity.embedding_near_dup_pairs,
        similarity.ann_pq_adc_topk,
        similarity.embedding_dbscan_core,
        dedup.dedup_connected_components,
        # frames cached() outside any plan build
        dedup.dedup_incremental_minhash,
        curation.decontaminate_fuzzy_minhash,
        ingest.stream_incremental_dedup,
        ingest.stream_decontaminate_gate,
        similarity.embedding_norm_outliers,
        dedup.dedup_ngram_jaccard,
        dedup.text_ngram_novelty,
        dedup.dedup_similarity_histogram,
        text.text_unigram_logprob,
        text.text_bigram_logprob,
        text.text_keyword_extraction,
        multimodal.multimodal_phash_near_dup,
        advanced.sketch_countmin_terms,
        advanced.graph_pagerank,
    ):
        op(spark, sf_dir).collect()
    assert _n_persistent_rdds(spark) > base
    plan_cache.clear_materializations()
    assert _n_persistent_rdds(spark) == base


def test_kmeans_keeps_shared_quantized_corpus_cached(spark, sf_dir):
    """PQ and k-means share one cached quantized corpus that neither
    unpersists: Spark caches by plan, so an unpersist by k-means would
    drop PQ's copy too and leave PQ's memoized frames re-reading
    parquet."""
    from iceberg_kafka_playgroud_spark import plan_cache
    from iceberg_kafka_playgroud_spark.operators import similarity

    plan_cache.clear_materializations(spark)
    similarity.ann_pq_adc_topk(spark, sf_dir).collect()
    similarity.embedding_kmeans_lloyd(spark, sf_dir).collect()
    corpus = similarity._quantized(spark, sf_dir)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.lookupCachedData(corpus._jdf).isDefined()


def test_reset_removes_ivf_index_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A reset removes the on-disk IVF index its memo held (each
    rebuild writes a fresh dir), instead of leaving it until exit."""
    import tempfile

    from iceberg_kafka_playgroud_spark import plan_cache
    from iceberg_kafka_playgroud_spark.operators import similarity

    plan_cache.clear_materializations(spark)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for _ in range(2):
        plan_cache.clear_materializations(spark)
        similarity._ivf_index_on_disk(spark, sf_dir)
    assert len(list(tmp_path.glob("ivf_index_*"))) == 1
    plan_cache.clear_materializations(spark)
    assert not list(tmp_path.glob("ivf_index_*"))


def test_boilerplate_docs_single_cache_entry(spark, sf_dir):
    """The corpus-sized boilerplate gram frame must stay ONE bounded
    resident entry across repeat calls (r9 follow-up; the owner is
    the prepared plan, not a bespoke memo)."""
    from iceberg_kafka_playgroud_spark.operators import text

    text.text_boilerplate_coverage(spark, sf_dir).collect()
    base = _n_persistent_rdds(spark)
    text.text_boilerplate_coverage(spark, sf_dir).collect()
    text.text_boilerplate_coverage(spark, sf_dir).collect()
    assert _n_persistent_rdds(spark) == base
    entries = [
        k
        for k in text.text_boilerplate_coverage.memo
        if k[1] == sf_dir.rstrip("/")
    ]
    assert len(entries) == 1


def test_weighted_jaccard_prune_branch_matches(spark, sf_dir, monkeypatch):
    """The candidate-shingle df prune (the branch that activates at
    100 TB scale, where candidates are a sliver of the corpus) must be
    result-identical to the straight df aggregate — forced ON here
    since no fixture reaches its share gate organically."""
    base = [
        r.asDict() for r in dedup.dedup_weighted_jaccard(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(dedup, "WJ_PRUNE_CAND_DOC_PCT", 10_000_000)
    pruned = [
        r.asDict() for r in dedup.dedup_weighted_jaccard(spark, sf_dir).collect()
    ]
    assert pruned == base


def test_python_source_pushdown_prunes_partitions(spark, sf_dir):
    """Spark 4.1 Python-source filter pushdown: the id-range predicate
    must prune WHOLE input partitions at planning time — the query
    over ids [300, 750) of 8×150-row partitions may generate only the
    3 overlapping ranges, and the result must equal the no-pushdown
    source filtered Spark-side."""
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark.sources import python_datasource as pds

    got = [
        r.asDict()
        for r in pds.source_python_pushdown(spark, sf_dir).collect()
    ]
    # partition pruning is visible as the scan RDD's partition count:
    # 3 of DEFAULT_PARTS=8 ranges overlap [300, 750) — planning runs
    # in the Python planner worker, so the RDD layout is the
    # driver-observable artifact
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    scan = (
        spark.read.format("purchase_fabric_pushdown")
        .option("n_rows", str(pds.DEFAULT_ROWS))
        .option("n_parts", str(pds.DEFAULT_PARTS))
        .load()
        .where(
            (F.col("id") >= pds.PUSHDOWN_ID_LO)
            & (F.col("id") < pds.PUSHDOWN_ID_HI)
        )
    )
    assert scan.rdd.getNumPartitions() == 3
    base = [
        r.asDict()
        for r in pds.source_python_datasource(spark, sf_dir)
        .sparkSession.read.format("purchase_fabric")
        .option("n_rows", str(pds.DEFAULT_ROWS))
        .option("n_parts", str(pds.DEFAULT_PARTS))
        .load()
        .where(
            (F.col("id") >= pds.PUSHDOWN_ID_LO)
            & (F.col("id") < pds.PUSHDOWN_ID_HI)
        )
        .groupBy((F.col("id") % pds.N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("bucket")
        .collect()
    ]
    assert got == base


def test_sql_udf_inlined_no_python_eval(spark, sf_dir):
    """SQL-language UDFs must be analyzer-inlined: the optimized plan
    contains NO Python evaluation node (the whole point of the SQL
    tier over opaque UDFs), and the TVF bracket dimension joins
    broadcast onto the fact scan."""
    plan = physical_plan(relational.sql_udf_scalar_tvf(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sql_session_variable_folds_to_literal(spark, sf_dir):
    """EXECUTE IMMEDIATE ... USING a session variable binds a typed
    literal: the variable must appear in the plan as the folded
    constant 25000000 inside an ordinary Filter (the predicate wraps
    the column in round(), so scan pushdown is impossible for ANY
    constant — the provable property is the fold), with the scan
    pruned to the two referenced columns and no Python nodes."""
    plan = physical_plan(relational.sql_session_variables(spark, sf_dir))
    assert ">= 25000000" in plan
    assert "o_totalprice:double,o_orderpriority:string" in plan
    assert "BatchEvalPython" not in plan


def test_sql_scripting_conf_restored(spark, sf_dir):
    """sql_scripting_control_flow enables spark.sql.scripting.enabled
    only for the duration of the call (stream_state_rocksdb's scoped
    save/restore discipline): after the call — and after collecting
    the result — the session conf is back to its prior value, so the
    flag cannot leak into later queries on a shared grading session."""
    key = "spark.sql.scripting.enabled"
    prior = spark.conf.get(key, None)
    out = relational.sql_scripting_control_flow(spark, sf_dir)
    assert spark.conf.get(key, None) == prior
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["n_above"] <= 100
    assert spark.conf.get(key, None) == prior


def test_plan_memo_gate_constants_bust_cache(spark, sf_dir, monkeypatch):
    """Every plan-shaping module constant must be in the memoized key:
    monkeypatching a gate after a warm call must produce a FRESH plan,
    never a stale hit (plan_cache.py rule #2). Exercised on the r11
    adjudicated site: graph_triangle_count × PAIR_MIN_SUPPORT."""
    warm = advanced.graph_triangle_count(spark, sf_dir)
    again = advanced.graph_triangle_count(spark, sf_dir)
    assert again is warm  # same gates -> memo hit
    monkeypatch.setattr(
        advanced, "PAIR_MIN_SUPPORT", advanced.PAIR_MIN_SUPPORT + 1
    )
    fresh = advanced.graph_triangle_count(spark, sf_dir)
    assert fresh is not warm  # patched gate -> fresh build


def _ivf_index_cells(spark, sf_dir, monkeypatch):
    """The IVF index built under a patched K_CELLS has K_CELLS cells,
    in its codebook and on disk."""
    import os

    similarity._ivf_index_on_disk(spark, sf_dir)
    monkeypatch.setattr(similarity, "K_CELLS", 8)
    index_dir, cent_ids, _ = similarity._ivf_index_on_disk(spark, sf_dir)
    cells = {
        int(d.split("=")[1]) for d in os.listdir(index_dir) if d.startswith("cell=")
    }
    assert len(cent_ids) == 8
    assert cells <= set(cent_ids.tolist())


def _quantized_scale(spark, sf_dir, monkeypatch):
    """The quantized corpus under a patched PI_XSCALE equals a fresh
    ``fixed_point`` of the embeddings."""
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark.schema import load_table

    similarity._quantized(spark, sf_dir)
    monkeypatch.setattr(similarity, "PI_XSCALE", 10)
    fresh = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.fixed_point(F.col("embedding")).alias("qx")
    )
    got = similarity._quantized(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def _python_sink_rows(spark, sf_dir, monkeypatch):
    """The custom Python sink writes DEFAULT_ROWS rows: a halved row
    count must change the audited sink rows."""
    from iceberg_kafka_playgroud_spark.sources import python_datasource as pds

    warm = pds.sink_python_datasource(spark, sf_dir).collect()
    monkeypatch.setattr(pds, "DEFAULT_ROWS", pds.DEFAULT_ROWS // 2)
    rows = pds.sink_python_datasource(spark, sf_dir).collect()
    assert rows != warm
    assert {r["manifest_rows"] for r in rows} == {pds.DEFAULT_ROWS}
    assert sum(r["n_rows"] for r in rows) == pds.DEFAULT_ROWS


@pytest.mark.parametrize(
    "check",
    [_ivf_index_cells, _quantized_scale, _python_sink_rows],
    ids=["ivf_index", "quantized", "python_sink"],
)
def test_memo_keys_follow_module_constants(spark, sf_dir, monkeypatch, check):
    """A memo keyed on (session, args) alone serves the artifact built
    under the old constants after one is patched: each case warms the
    memo, patches one constant the build reads, and checks that the
    next call built a fresh artifact under the new value."""
    check(spark, sf_dir, monkeypatch)


def test_near_dup_threshold_binds_at_call_time(spark, sf_dir, monkeypatch):
    """threshold=None defaults must resolve the module global at CALL
    time: monkeypatching similarity.NEAR_DUP_THRESHOLD changes the
    pair set (the pre-r11 closure behavior, regressed by def-time
    default binding and restored in r12)."""
    base = similarity.embedding_near_dup_pairs(spark, sf_dir)
    n_base = base.count()
    monkeypatch.setattr(similarity, "NEAR_DUP_THRESHOLD", 0.999999)
    tight = similarity.embedding_near_dup_pairs(spark, sf_dir)
    n_tight = tight.count()
    assert n_tight <= n_base
    # at a sim threshold of ~1.0 the fixture corpus has (near) zero
    # pairs while the 0.45 default has a verified non-empty set
    assert n_base > 0 and n_tight < n_base


@pytest.mark.parametrize("n_blocks", [1, 3])
def test_block_pair_layouts(spark, ddb, sf_dir, monkeypatch, n_blocks):
    """Both block-pair operators give their oracles' rows at any block
    count (1 = the single diagonal group), and the near-dup pair memo
    keys on N_BLOCKS: a patched count builds a fresh pair frame
    instead of serving the frame of the default layout."""
    import __spark_entry__ as entry
    from iceberg_kafka_playgroud_spark.verify import (
        compare,
        duckdb_result,
        spark_result,
    )

    default = similarity.embedding_near_dup_pairs(spark, sf_dir)
    monkeypatch.setattr(similarity, "N_BLOCKS", n_blocks)
    assert similarity.embedding_near_dup_pairs(spark, sf_dir) is not default
    oracles = entry.oracle_sql()
    for name in ("embedding_near_dup_pairs", "embedding_knn_label_eval"):
        df = getattr(similarity, name)(spark, sf_dir)
        errs = compare(
            name, spark_result(df), duckdb_result(ddb, oracles[name])
        )
        assert not errs, "\n".join(errs)


def test_triplet_mining_one_corpus_pass_no_python(spark, sf_dir):
    """Triplet mining must touch the corpus ONCE (anchors broadcast
    into a single nested-loop pass; hardest-positive and negative
    ranks share one anchor-keyed window stage) with no Python eval
    node and no join-back of the positive side."""
    plan = physical_plan(similarity.embedding_triplet_mining(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # the one corpus pass
    assert "SortMergeJoin" not in plan  # no pos-side join-back
    assert "BroadcastHashJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_applyinarrow_is_grouped_arrow_single_exchange(spark, sf_dir):
    """applyInArrow compiles to FlatMapGroupsInArrow behind ONE
    pre-group exchange — the grouped-Arrow tier, not a pandas
    conversion or a row-at-a-time Python eval."""
    plan = physical_plan(
        advanced.applyinarrow_group_quantiles(spark, sf_dir)
    )
    assert "FlatMapGroupsInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_spread_for_compute_gate(spark):
    """_spread_for_compute must repartition ONLY when the scan's split
    count is below the session parallelism — at real scale (splits >=
    cores) it must be a no-op, never a corpus shuffle."""
    from iceberg_kafka_playgroud_spark.operators.dedup import (
        _spread_for_compute,
    )
    from iceberg_kafka_playgroud_spark.session import default_parallelism

    cores = default_parallelism()
    narrow = spark.range(10).coalesce(1)
    spread = _spread_for_compute(narrow)
    assert spread.rdd.getNumPartitions() == cores
    wide = spark.range(10_000).repartition(cores)
    assert _spread_for_compute(wide) is wide  # identity, no new plan


def test_scoped_advisory_restored_after_edge_builds(spark, sf_dir):
    """The _trade_edges / _copurchase_edges builds set a 1 MB AQE
    advisory for their own materialization only — the session value
    must be restored afterwards (and the memo hit path must not
    touch it at all)."""
    from iceberg_kafka_playgroud_spark.operators import advanced

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    advanced._trade_edges(spark, sf_dir)
    assert spark.conf.get(key) == before
    advanced._copurchase_edges(spark, sf_dir)
    assert spark.conf.get(key) == before
    # memo/cache hit path
    advanced._trade_edges(spark, sf_dir)
    assert spark.conf.get(key) == before


def test_durable_plan_not_frozen_across_reset(spark, tmp_path):
    """A reset drops the prepared plan, so a call after the source
    was overwritten must rebuild over the NEW data (a retained
    Dataset would serve its frozen file listing)."""
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark import plan_cache

    src = str(tmp_path / "src")
    spark.range(10).write.mode("overwrite").parquet(src)

    @plan_cache.memoized("derived")
    def build(sp, sf):
        base = plan_cache.cached(
            sp.read.parquet(src).select(F.col("id").alias("x"))
        )
        return base.select(F.sum("x").alias("s"))

    assert build(spark, "sf-frozen-test").collect()[0]["s"] == 45
    spark.range(100).write.mode("overwrite").parquet(src)
    plan_cache.clear_materializations(spark)
    assert build(spark, "sf-frozen-test").collect()[0]["s"] == 4950


def test_durable_drop_unpersists_handles(spark):
    """Dropping a plan entry must unpersist the cache handles its
    build registered, not just forget the Python references —
    checked on a reset WITHOUT a session, so ``clearCache()`` is not
    what frees them."""
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark import plan_cache

    @plan_cache.memoized("derived")
    def build(sp, sf):
        base = plan_cache.cached(
            sp.range(7).select((F.col("id") + 1).alias("x"))
        )
        return base.select(F.sum("x").alias("s"))

    assert build(spark, "sf-unpersist").collect()[0]["s"] == 28
    key = next(k for k in build.memo if k[1] == "sf-unpersist")
    _, handles = build.memo[key]
    assert handles and all(h.storageLevel.useMemory for h in handles)
    plan_cache.clear_materializations()
    assert key not in build.memo
    for h in handles:
        lvl = h.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)


def test_durable_build_failure_unpersists_partial_handles(spark):
    """A plan builder raising mid-build must unpersist the cache
    handles it registered before failing — the entry is never stored,
    so no reset would ever drop them."""
    from pyspark.sql import functions as F

    import pytest

    from iceberg_kafka_playgroud_spark import plan_cache

    stash = []

    @plan_cache.memoized("derived")
    def build(sp, sf):
        stash.append(
            plan_cache.cached(sp.range(3).select(F.col("id").alias("x")))
        )
        raise RuntimeError("mid-build failure")

    with pytest.raises(RuntimeError, match="mid-build failure"):
        build(spark, "sf-failed-build")
    assert not any(k[1] == "sf-failed-build" for k in build.memo)
    (handle,) = stash
    lvl = handle.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    # the collector was restored (finally, not just the except path):
    # a later successful build registers its own handles
    @plan_cache.memoized("derived")
    def build_ok(sp, sf):
        base = plan_cache.cached(
            sp.range(4).select(F.col("id").alias("x"))
        )
        return base.select(F.sum("x").alias("s"))

    assert build_ok(spark, "sf-after-failure").collect()[0]["s"] == 6
    key = next(k for k in build_ok.memo if k[1] == "sf-after-failure")
    _, handles = build_ok.memo[key]
    assert len(handles) == 1 and handles[0].storageLevel.useMemory
