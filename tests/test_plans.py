"""Physical-plan shape assertions — PLANS.md's claims as executable
checks, so an optimization regression (lost broadcast, extra exchange,
window limit not pushed) fails CI instead of silently costing 10× at
scale."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str, name: str) -> int:
    """Count physical nodes by their detail header — the formatted
    output prints each node twice (tree + detail section)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as E

    return E.queries()


def test_flagship_extraction_zero_shuffle_but_explicit_repartition(spark, queries):
    """scan → project → ONE explicit round-robin exchange (the
    cfg.repartition story) → MapInArrow → no other shuffle."""
    plan = plan_of(queries["q_extract"](spark, SF))
    assert "MapInArrow" in plan
    assert nodes(plan, "Exchange") == 1  # only the explicit _par repartition
    # shape: Scan -> Project -> Exchange -> MapInArrow -> Project, nothing else
    assert nodes(plan, "Scan") == 1 and nodes(plan, "MapInArrow") == 1


def test_textstats_scan_is_exchange_free_and_pruned(spark, queries):
    plan = plan_of(queries["q_token_count"](spark, SF))
    assert "Exchange" not in plan  # pure codegen projection
    # column pruning reaches the parquet scan: html/lang never read
    assert "ReadSchema" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read and "html" not in read


def test_broadcast_dim_join(spark, queries):
    plan = plan_of(queries["q_topk_parts"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_fact_fact_sort_merge_join(spark, queries):
    plan = plan_of(queries["q_join3"](spark, SF))
    assert "SortMergeJoin" in plan


def test_rank_filter_pushes_into_window_sort(spark, queries):
    """row_number <= k must become a WindowGroupLimit (top-k per group)
    rather than a full window materialization."""
    for q in ("q_host_cap", "q_tfidf_topk"):
        plan = plan_of(queries[q](spark, SF))
        assert "WindowGroupLimit" in plan, q


def test_exact_dedup_two_phase_aggregate(spark, queries):
    """groupBy(fp) must plan as partial + final HashAggregate around ONE
    exchange (map-side combine)."""
    plan = plan_of(queries["q_dedup_exact"](spark, SF))
    assert nodes(plan, "HashAggregate") == 2  # partial + final
    assert nodes(plan, "Exchange") == 1


def test_decontaminate_corpus_never_shuffles(spark, queries):
    """The corpus side reaches the semi-join via explode only; the lone
    broadcast is the benchmark n-gram set."""
    plan = plan_of(queries["q_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # exchanges: the explicit input repartition + the final distinct's;
    # crucially no shuffle BETWEEN explode and join (broadcast, not SMJ)
    assert "SortMergeJoin" not in plan


def _lambda_bodies(plan: str) -> list:
    """The argument text of every ``lambdafunction(...)`` in a plan."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[m.end() : i - 1])
    return out


def test_word_grams_have_no_slice_per_gram(spark):
    """Decontamination and Jaccard verification cut their word grams in
    the linear-time Python kernel: no Catalyst lambda slices the token
    array once per gram (a cost that grows with document length)."""
    import pyspark.sql.functions as F

    from webx.curate import contaminated_ids
    from webx.dedup import jaccard_verify

    docs = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("w"), F.col("id").cast("string")).alias("text"),
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plans = {
        "contaminated_ids": plan_of(contaminated_ids(docs, docs.select("text"))),
        "contaminated_ids(hashed)": plan_of(
            contaminated_ids(docs, docs.select("text"), hashed=True)
        ),
        "jaccard_verify": plan_of(jaccard_verify(docs, pairs)),
    }
    for name, plan in plans.items():
        assert "MapInPandas" in plan, name
        assert not [b for b in _lambda_bodies(plan) if "slice(" in b], name


def test_c4_clean_is_exchange_free(spark, queries):
    """C4 line filtering is one row-local projection — any Exchange in
    this plan is a regression."""
    plan = plan_of(queries["q_c4_clean"](spark, SF))
    assert nodes(plan, "Exchange") <= 1  # the explicit _par repartition only
    assert "MapInPandas" not in plan  # pure codegen, no Python


def test_lm_perplexity_model_joins_broadcast(spark, queries):
    """The bigram model tables must reach the corpus side as broadcast
    joins — a sort-merge join here would shuffle the whole corpus on
    the gram key at every scoring run."""
    plan = plan_of(queries["q_lm_perplexity"](spark, SF))
    assert nodes(plan, "BroadcastHashJoin") >= 2  # c2 and c1
    assert "SortMergeJoin" not in plan


def test_anchor_index_single_shuffle(spark, queries):
    """extract → explode → one partial+final aggregate pair on the
    target key (plus the explicit input repartition)."""
    plan = plan_of(queries["q_anchor_index"](spark, SF))
    assert "MapInPandas" not in plan  # pure codegen
    assert nodes(plan, "HashAggregate") >= 2  # partial + final


def test_chunk_windows_is_exchange_free(spark, queries):
    """Chunking is a narrow projection + explode: no shuffle at any
    corpus size."""
    plan = plan_of(queries["q_chunk_windows"](spark, SF))
    # only the explicit _par repartition; no aggregation/join exchange
    assert nodes(plan, "Exchange") == 1
    assert "Generate" in plan  # the posexplode fan-out


def test_markdown_lane_matches_flagship_shape(spark, queries):
    plan = plan_of(queries["q_markdown"](spark, SF))
    assert nodes(plan, "Exchange") == 1 and nodes(plan, "MapInPandas") == 1


def test_bloom_probe_broadcasts_bitmap(spark, queries):
    """The bitmap side of the probe join must broadcast — a shuffle
    join on the word key would move the corpus for a 16K-row filter."""
    plan = plan_of(queries["q_bloom_seen"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_temperature_sample_rate_table_broadcasts(spark, queries):
    """The per-language rate table joins broadcast; the corpus pass is
    a filter, never a corpus shuffle on lang."""
    plan = plan_of(queries["q_temperature_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_caps_postings_before_collect(spark, queries):
    """The rank filter must sit under the collect_list aggregate so
    per-term memory is bounded by max_postings."""
    plan = plan_of(queries["q_inverted_index"](spark, SF))
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "collect_list" in plan


def test_scd2_single_exchange_window(spark, queries):
    plan = plan_of(queries["q_scd2"](spark, SF))
    assert nodes(plan, "Exchange") == 1
    assert nodes(plan, "Window") == 1
    assert nodes(plan, "SortMergeJoin") == 0


def test_rolling_avg_window_sits_on_daily_preagg(spark, queries):
    """The RANGE-frame window must consume the days×types pre-aggregate,
    not the raw event stream — the corpus collapses BEFORE the sort."""
    plan = plan_of(queries["q_rolling_avg"](spark, SF))
    assert nodes(plan, "Window") == 1
    assert nodes(plan, "HashAggregate") >= 2  # partial+final daily agg
    # window's sort input is the aggregated frame: no second window pass
    assert nodes(plan, "Exchange") <= 2


def test_funnel_stage_joins_broadcast(spark, queries):
    plan = plan_of(queries["q_funnel"](spark, SF))
    assert nodes(plan, "BroadcastHashJoin") >= 2
    assert nodes(plan, "SortMergeJoin") == 0


def test_filter_pushdown_reaches_parquet_scan(spark):
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(SF + "/events.parquet")
        .filter(F.col("user_id") == 7)
        .select("event_id")
    )
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(user_id,7)" in pushed[0]
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read and "props" not in read


def test_observation_metrics_without_extra_pass(spark):
    """The Observation API collects pipeline counters DURING the action
    (no second scan) — the lineage-metrics hook for jobs that cannot
    afford a counting pass at 100 TB."""
    from pyspark.sql import Observation, functions as F

    obs = Observation("extract_metrics")
    df = (
        spark.read.parquet(SF + "/events.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = spark.read.parquet(SF + "/events.parquet").agg(
        F.count(F.lit(1)), F.sum(F.floor(F.col("value") * 100).cast("long"))
    ).collect()[0]
    assert got["n_rows"] == want[0] and got["cents"] == want[1]


def test_aqe_splits_skewed_sort_merge_join(spark):
    """AQE skew-join: with thresholds lowered to toy scale, a planted
    mega-key SMJ must show skew=true partitions in the final adaptive
    plan — the runtime half of the skew story (salted_join is the
    manual half for paths AQE cannot reach)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("p"),
        )
        right = spark.range(250_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("r")
        )  # unique keys: no join fan-out, the skew is purely left-side
        joined = big.hint("merge").join(right, "k")
        # action on the SAME QueryExecution so AQE finalizes THIS plan
        # (a write/count wraps a new execution whose final plan we
        # could not read back)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_corpus_shard_single_exchange_per_shard_sort(spark, queries):
    """writer shape: one hash exchange on shard, window sort within —
    no global sort, no second shuffle."""
    plan = plan_of(queries["q_corpus_shard"](spark, SF))
    # the _par round-robin + the shard hash partitioning
    assert nodes(plan, "Exchange") == 2
    assert "hashpartitioning(shard" in plan
    assert nodes(plan, "Window") == 1


def test_kmv_set_ops_never_joins_the_corpora(spark, queries):
    """membership = broadcast semi-joins of the k-row sketch against
    each side; the two corpora must not hash-join each other."""
    plan = plan_of(queries["q_kmv_set_ops"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # union sketch: partial top-k


def test_weighted_sample_global_is_take_ordered(spark, queries):
    """A-ES top-k must compile to TakeOrdered partials, not a full
    sort or a single-partition window over the corpus."""
    plan = plan_of(queries["q_weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_bm25_df_table_broadcasts(spark, queries):
    """the <=|query|-row document-frequency table must broadcast; the
    final top-k is TakeOrdered partials."""
    plan = plan_of(queries["q_bm25"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_hll_union_two_level_aggregate_only(spark, queries):
    """sketch-of-sketches: scan → partial/final agg (daily registers)
    → partial/final agg (fold) — no joins, no windows."""
    plan = plan_of(queries["q_hll_union"](spark, SF))
    assert nodes(plan, "HashAggregate") == 4  # two partial+final pairs
    assert "Join" not in plan and "Window" not in plan


def test_unimax_zero_corpus_shuffles_after_count_agg(spark, queries):
    """windows run over the per-language frame only: exactly the count
    aggregate's exchange pair plus single-partition window exchanges —
    no corpus-wide window."""
    plan = plan_of(queries["q_unimax"](spark, SF))
    # the corpus appears once, in the count aggregate's scan
    assert nodes(plan, "Scan parquet") == 1
    assert nodes(plan, "HashAggregate") == 2  # one partial+final pair


def test_bitext_margin_rank_limit_prunes_pair_frame(spark, queries):
    """cross join broadcasts the target side; each rank direction's
    filter rf/rb <= k sits directly above row_number so the pair frame
    is WindowGroupLimit-pruned map-side BEFORE its exchange — the full
    |A|·|B| frame is never sorted or shuffled. Penalties/best rows then
    join at k·|keys| scale."""
    plan = plan_of(queries["q_bitext_margin"](spark, SF))
    # one broadcast cross join per rank direction (penalty + best row
    # come out of ONE aggregate each, so the scored subtree is planned
    # exactly twice, never four times)
    assert nodes(plan, "BroadcastNestedLoopJoin") == 2
    assert nodes(plan, "WindowGroupLimit") >= 2  # partial+final, both sides


def test_fuzzy_join_hash_join_not_nested_loop(spark, queries):
    """The whole point of deletion-neighborhood blocking: the distance
    predicate must ride an equi (hash/SMJ) join on the variant key —
    a theta-join plan (BroadcastNestedLoopJoin / CartesianProduct over
    levenshtein) is the O(n²) formulation this operator exists to
    avoid. levenshtein appears only as a post-join codegen Filter."""
    plan = plan_of(queries["q_fuzzy_join"](spark, SF))
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert nodes(plan, "CartesianProduct") == 0
    assert nodes(plan, "SortMergeJoin") + nodes(plan, "BroadcastHashJoin") + nodes(
        plan, "ShuffledHashJoin"
    ) >= 1
    assert "levenshtein" in plan


def test_pq_encode_single_partial_final_aggregate(spark, queries):
    """PQ encode = corpus × broadcast(anchors) → codegen distances →
    ONE hash exchange for the vec_id aggregate, with a map-side partial
    collapsing the ksub candidate rows per vector before the wire."""
    plan = plan_of(queries["q_pq_codes"](spark, SF))
    assert nodes(plan, "BroadcastNestedLoopJoin") == 1  # ksub anchor rows
    # struct-ordered min_by buffers force SortAggregate, but the partial
    # MUST sit below the exchange (map-side combine): the wire carries
    # one row per (vec_id, partition), not the ksub-expanded candidates.
    assert nodes(plan, "SortAggregate") == 2
    # detail sections print in execution order: the partial aggregate's
    # detail must precede the ENSURE_REQUIREMENTS exchange feeding the
    # final aggregate
    assert plan.index("partial_min_by") < plan.index("ENSURE_REQUIREMENTS")


def test_jw_join_equi_band_join_python_only_on_candidates(spark, queries):
    """The JW join's blocking contract: candidates come from an EQUI
    join on the byte-length band (hash/SMJ — a nested-loop theta join
    over jw() is the O(n²) plan the banding exists to avoid), and the
    only Python stage (MapInPandas scorer) sits ABOVE the join, never
    on the corpus-side scan."""
    plan = plan_of(queries["q_jw_join"](spark, SF))
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert nodes(plan, "CartesianProduct") == 0
    assert nodes(plan, "SortMergeJoin") + nodes(plan, "BroadcastHashJoin") + nodes(
        plan, "ShuffledHashJoin"
    ) >= 1
    assert nodes(plan, "MapInPandas") == 1
    # the scorer consumes the join output: it must appear before (above)
    # the join node in the formatted tree ordering
    tree = plan.splitlines()
    mip = next(i for i, l in enumerate(tree) if "MapInPandas" in l)
    join = next(
        i for i, l in enumerate(tree)
        if any(j in l for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    )
    assert mip < join


def test_zonemap_prune_aggregates_have_map_side_partials(spark, queries):
    """Layout simulation: three global rank windows (one per layout) is
    the declared cost; both downstream aggregates (per-file zone maps,
    per-layout rollup) must be partial+final hash aggregates, and the
    time-bucket bounds come from a broadcast of the 1-row min/max
    aggregate, not a second scan-side shuffle."""
    plan = plan_of(queries["q_zonemap_prune"](spark, SF))
    assert nodes(plan, "Window") == 3
    assert nodes(plan, "HashAggregate") >= 4  # 2 aggs x (partial + final)
    assert nodes(plan, "BroadcastExchange") >= 1
    assert nodes(plan, "CartesianProduct") == 0


def test_suffix_dups_no_single_partition_sort(spark, queries):
    """The suffix array's reason to exist as a DISTRIBUTED algorithm:
    rank assignment must never collapse to a one-task global sort
    (Exchange SinglePartition under Sort/Window), and the adjacency
    pass must be an equi join, not a product. The doubling stages
    run eagerly at explain time (localCheckpoint), so this asserts the
    FINAL plan segment — rank windows inside the stages are partitioned
    by __pid by construction."""
    plan = plan_of(queries["q_suffix_dups"](spark, SF))
    assert "SinglePartition" not in plan
    assert nodes(plan, "CartesianProduct") == 0
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_gated_broadcast_degrades_to_shuffle_above_bound(spark):
    """r5 verdict task #1: cluster/keep/drop frames must not be FORCE-
    broadcast — under the row bound the hint applies (BroadcastHashJoin),
    above it the frame goes out unhinted and the join degrades to a
    shuffle join, so a RefinedWeb-rate (30-50% dup) corpus cannot OOM
    the driver at 10^9 docs."""
    import pyspark.sql.functions as F

    from webx.dedup import gated_broadcast

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
        clu = spark.range(0, 500).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("cluster_id")
        )
        small = plan_of(docs.join(gated_broadcast(clu, bound=1000), "doc_id", "left"))
        assert "BroadcastHashJoin" in small
        big = plan_of(docs.join(gated_broadcast(clu, bound=100), "doc_id", "left"))
        assert "BroadcastHashJoin" not in big
        assert "SortMergeJoin" in big or "ShuffledHashJoin" in big
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_keep_best_single_window_no_best_frame_join(spark):
    """keep_best's per-cluster argmax is a window rank: exactly one
    extra exchange on cid after the membership join — no corpus-scale
    `best` aggregate joined (and force-broadcast) back."""
    import pyspark.sql.functions as F

    from webx.dedup import keep_best

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13).cast("double").alias("score")
    )
    pairs = spark.range(0, 20).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    plan = plan_of(keep_best(docs, pairs))
    assert nodes(plan, "Window") == 1
    # one broadcast membership join (cluster frame is tiny here); the
    # argmax side contributes no join at all
    assert nodes(plan, "SortMergeJoin") == 0


def test_extract_mixed_production_path_zero_shuffle(spark, tmp_path):
    """The routed extractor's PRODUCTION shape — a (url, payload) table
    straight into the router — is scan → project → ONE MapInPandas,
    zero Exchange (the fixture-build stages in q_extract_mixed are
    synth-only). Column pruning must reach the scan."""
    import pyspark.sql.functions as F

    from webx.route import extract_mixed

    src = str(tmp_path / "captures")
    spark.range(0, 50).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.encode(F.lit("<html><p>x</p>"), "utf-8").alias("payload"),
        F.lit("extra").alias("unused_col"),
    ).write.parquet(src)
    plan = plan_of(extract_mixed(spark.read.parquet(src)))
    assert "Exchange" not in plan
    assert nodes(plan, "MapInPandas") == 1
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "payload" in read and "unused_col" not in read


def _sql_executions(spark) -> list:
    """(execution id, physical-plan description) of every SQL execution
    the status store holds, once the listener bus has delivered the
    plans of finished ones."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = []
    while it.hasNext():
        e = it.next()
        out.append((e.executionId(), e.physicalPlanDescription()))
    return out


def test_curate_pipeline_extracts_once_without_cache(spark, queries):
    """Every Spark execution q_curate_pipeline runs, the eager ones its
    build starts and its action, holds ONE MapInArrow (the extractor)
    among their final plans: the quality gate filters in place, so no
    self-join on doc_id runs the extractor twice. The survivor set is a
    checkpoint, so the action's plan carries neither a cache scan nor
    the extractor's lineage."""
    last = max((i for i, _ in _sql_executions(spark)), default=-1)
    df = queries["q_curate_pipeline"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    final_trees = [
        d.split("== Initial Plan ==")[0].split("\n\n")[0]
        for i, d in _sql_executions(spark)
        if i > last
    ]
    assert sum(t.count("MapInArrow") for t in final_trees) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert "MapInArrow" not in plan
