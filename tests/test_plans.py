"""Physical-plan tests: the 100 TB scale contract.

Correctness says the operator works; these tests pin the *plan shape*
that keeps it working at 1000 executors / 100 TB:

- filters reach the parquet scan (PushedFilters)
- projections prune the scan (ReadSchema)
- dimension joins broadcast (no sort-merge shuffle of the fact table)
- aggregations are partial (map-side combine before the shuffle)
- compaction is an aggregation, not a global window sort
- narrow text/hash operators introduce no shuffle at all
"""

from __future__ import annotations

import pytest

from decaton_spark.queries import EXTRA_QUERIES, QUERIES

QUERIES = {**QUERIES, **EXTRA_QUERIES}  # plan shape is graded for both tiers


from tests.conftest import plan_of  # noqa: E402  (shared plan helper)
from tests.test_window_audit import checkpoint_passthrough  # noqa: E402


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    spark.catalog.clearCache()  # cached test fixtures would hide the scans
    return {
        name: plan_of(QUERIES[name].fn(spark, sf_dir))
        for name in (
            "q1_pricing_summary",
            "q3_top_orders",
            "q5_nation_volume",
            "q6_forecast_revenue",
            "t1_compaction_windowed",
            "dedup_exact",
            "text_fingerprint",
            "dedup_simhash",
            "ann_brute_force_topk",
            "f3_projection",
            "events_user_value",
        )
    }


def test_filter_pushdown_reaches_scan(plans):
    p = plans["q6_forecast_revenue"]
    assert "PushedFilters:" in p
    assert "GreaterThanOrEqual(l_discount" in p and "LessThan(l_quantity" in p


def test_column_pruning(plans):
    # q1 projects 7 of 11 lineitem columns; shipdate must not be read
    assert "l_shipdate" not in plans["q1_pricing_summary"].split("ReadSchema")[1]
    # envelope projection prunes events to the used columns only
    read = plans["f3_projection"].split("ReadSchema")[1]
    assert "props" not in read and "event_type" not in read


def test_dim_joins_broadcast(plans):
    for q in ("q3_top_orders", "q5_nation_volume"):
        assert "BroadcastHashJoin" in plans[q], f"{q} must broadcast dims"
        assert "SortMergeJoin" not in plans[q], f"{q} must not sort-merge the fact"


def test_aggregations_partial(plans):
    # map-side partial agg before the exchange: two HashAggregate levels
    for q in ("q1_pricing_summary", "dedup_exact", "events_user_value"):
        p = plans[q]
        assert p.count("HashAggregate") >= 2, f"{q} needs partial+final agg"


def test_compaction_is_agg_not_sort(plans):
    p = plans["t1_compaction_windowed"]
    assert "max_by" in p or "ObjectHashAggregate" in p or "HashAggregate" in p
    assert "Window" not in p, "compaction must not be a window sort"
    # partial aggregation bounds shuffle volume to one survivor/key/partition
    assert p.count("Aggregate") >= 2


def test_text_ops_shuffle_free(plans, spark, sf_dir):
    from decaton_spark.plans import count_shuffles

    assert "Exchange" not in plans["text_fingerprint"], (
        "text_fingerprint is a projection; no shuffle allowed"
    )
    # dedup_simhash (round 9): ONE deliberate exchange — the by-id
    # hash spread that both parallelizes the md5-heavy projection past
    # the scan's split count AND satisfies the vote aggregation's
    # distribution (groupBy(doc_id) reuses it; no second shuffle).
    n = count_shuffles(QUERIES["dedup_simhash"].fn(spark, sf_dir))
    assert n == 1, f"one hash-spread exchange exactly, saw {n}"
    assert "hashpartitioning(doc_id" in plans["dedup_simhash"], (
        "spread must be by id for agg reuse"
    )


def test_ann_brute_force_broadcasts_queries(plans, spark, sf_dir):
    from decaton_spark.plans import count_shuffles

    p = plans["ann_brute_force_topk"]
    assert "BroadcastNestedLoopJoin" in p, "query set must broadcast"
    # the only exchange allowed is the top-k window partitioning
    n = count_shuffles(QUERIES["ann_brute_force_topk"].fn(spark, sf_dir))
    assert n <= 1, f"expected ≤1 shuffle, saw {n}"


def test_wholestage_codegen_everywhere(spark, sf_dir):
    # AQE's formatted plan hides codegen spans pre-execution; ask the
    # codegen explain mode directly
    for q in ("q1_pricing_summary", "text_fingerprint", "t1_compaction_windowed"):
        p = plan_of(QUERIES[q].fn(spark, sf_dir), mode="codegen")
        assert "WholeStageCodegen" in p, f"{q} fell out of codegen entirely"


def test_range_join_is_hash_equi_join(spark, sf_dir):
    """range_join must plan as a hash equi-join on (key, bucket) —
    never a cartesian/nested-loop inequality join."""
    p = plan_of(QUERIES["range_join_errors"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # the bucketed equi-join is a real join node


def test_ivf_cell_assignment_is_projection(spark, sf_dir):
    """IVF corpus-side cell assignment must not shuffle or join: the
    centroid fold is inlined. Only the probe join + top-k shuffle."""
    from decaton_spark.functions import similarity as sim
    from decaton_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    c_side = emb.select(
        emb.vec_id,
        sim._argmax_cell(
            sim._cell_scores(
                "embedding",
                sim._centroid_literals(
                    [
                        (r["vec_id"], r["embedding"])
                        for r in emb.filter(emb.vec_id < 16).orderBy("vec_id").collect()
                    ]
                ),
                4,
            )
        ).alias("cell"),
    )
    assert "Exchange" not in plan_of(c_side), "cell assignment must be narrow"
    # full query: probe-side broadcast join, no sort-merge of the corpus
    p = plan_of(QUERIES["ann_ivf_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_near_dup_pipeline_no_all_pairs(spark, sf_dir):
    """dedup_near_full's candidate + verify stages must be equi-joins
    (LSH bucket key / candidate ids) — never a cartesian or
    broadcast-nested-loop all-pairs comparison."""
    from decaton_spark.functions import dedup as dd
    from decaton_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(docs, k=3, bands=4)
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    p = plan_of(edges)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_verify_pairs_gram_sets_staged_once(spark, sf_dir):
    """verify_pairs_jaccard stages the gram sets through ONE
    partitioning-preserving persist (round 10): the executed plan must
    read the SAME InMemoryRelation on both join legs (gram compute 1x,
    was once per leg) with NO exchange re-shuffling the cached arrays
    — InMemoryRelation keeps the id-hash outputPartitioning that both
    legs require, which is the whole point of persist over
    localCheckpoint here."""
    import re

    from decaton_spark.functions import dedup as dd
    from decaton_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    cand = dd.minhash_candidate_pairs(docs, k=3, bands=4)
    edges = dd.verify_pairs_jaccard(docs, cand, n=1, threshold=0.8)
    edges.write.format("noop").mode("overwrite").save()
    ep = edges._jdf.queryExecution().executedPlan().toString()
    assert ep.count("InMemoryTableScan") == 2, "both legs must read the cache"
    # no Exchange directly above either cached scan: the runtime plan
    # consumes the cache's own hashpartitioning(id)
    assert not re.search(r"Exchange[^\n]*\n[^\n]*InMemoryTableScan", ep), (
        "cached gram sets must not be re-shuffled above the persist"
    )


def test_quota_has_no_window_sort(spark, sf_dir):
    """T6 quota rate estimate must be a groupBy + join-back, not a
    window function: WindowExec sorts every row within each shuffle
    partition — the wrong plan on the skewed keys quota targets."""
    p = plan_of(QUERIES["t6_per_key_quota"].fn(spark, sf_dir))
    assert "Window" not in p, "quota must not use WindowExec"
    assert p.count("HashAggregate") >= 2, "rate agg must partial map-side"


def test_salted_agg_two_phase(spark, sf_dir):
    """Salted aggregation: two aggregation phases, each with map-side
    partials (4 HashAggregate levels), salt column absent from output."""
    df = QUERIES["salted_agg_events"].fn(spark, sf_dir)
    p = plan_of(df)
    assert p.count("HashAggregate") >= 4, "expected partial+final × 2 phases"
    assert "_salt" not in df.columns


def test_span_dedup_election_is_partial_agg(spark, sf_dir):
    """dedup_spans' first-occurrence election must be a partial-
    aggregatable min(struct) (map-side combine absorbs hot boilerplate
    spans) — never a window sort — and the keeper join-back must be an
    equi-join, not a cartesian."""
    p = plan_of(QUERIES["dedup_spans"].fn(spark, sf_dir))
    assert "Window" not in p, "election must not be a window row_number"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 2, "election must partial map-side"


def test_token_budget_sample_broadcasts_fractions(spark, sf_dir):
    """token_budget_sample: per-source fractions broadcast back to the
    corpus (rows = |sources|); the corpus itself is never sort-merge
    joined or globally sorted."""
    p = plan_of(QUERIES["token_budget_sample"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p


def test_pq_encode_is_projection(spark, sf_dir):
    """PQ encode must be a pure projection (codebook literals inlined,
    no shuffle), and the ADC scan must broadcast the query set — never
    sort-merge or shuffle the corpus."""
    from decaton_spark.functions import similarity as sim
    from decaton_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    books = sim.pq_seed_codebooks(emb, m=8, ksub=16)
    enc_plan = plan_of(sim.pq_encode(emb, books))
    assert "Exchange" not in enc_plan, "encode must not shuffle"
    p = plan_of(QUERIES["ann_pq_topk"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_tfidf_single_scan_and_partial_agg(spark, sf_dir):
    """The corpus is scanned+exploded exactly once: tf is materialized
    (localCheckpoint) and BOTH the df aggregation and the score join
    read the materialized rows (Spark has no DAG-level subplan sharing
    — without this the explode runs twice). df stays a partial-
    aggregatable groupBy; no cartesian over the corpus."""
    df = QUERIES["text_tfidf_top_terms"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Generate" not in p, "explode must be behind the materialized tf"
    simple = plan_of(df, "simple")
    assert simple.count("Scan ExistingRDD") == 2, "both branches reuse tf"
    assert p.count("HashAggregate") >= 2, "df agg must be partial"
    assert "CartesianProduct" not in p


def test_semantic_dedup_no_all_pairs(spark, sf_dir):
    """SemDeDup's pair step must be an equi-join on the cell id (cost
    bounded by Σ cell², never |corpus|²), and cell assignment must stay
    a narrow projection over inlined centroid literals."""
    from decaton_spark.functions import similarity as sim
    from decaton_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    cents = sim.trained_centroids(
        emb, dataset=f"{sf_dir}/embeddings", nlist=16, iters=2
    )
    p = plan_of(sim.semantic_dedup(emb, centroids=cents, eps=0.4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_vocab_build_distributed_topk(spark, sf_dir):
    """build_vocab must rank via distributed TakeOrdered of the
    aggregated count table — a global Sort of the corpus (or of the
    full distinct-token table without the limit) is the wrong plan."""
    from decaton_spark.functions import text as tx
    from decaton_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    p = plan_of(tx.build_vocab(docs, top_k=20, min_count=2))
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 2, "token count must partial map-side"


def test_curation_pipeline_plan_shape(spark, sf_dir):
    """The composed curation pipeline must keep each stage's scale
    shape: no cartesian/nested-loop joins anywhere, partial aggregation
    for the dedup + vocab groupBys, and a TakeOrdered selection instead
    of a global sort of the scored corpus."""
    from decaton_spark.queries import _ALL_QUERIES

    p = plan_of(_ALL_QUERIES["docs_curation_pipeline"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    # the only nested-loop joins allowed are DSIR's broadcast attach of
    # the 1-row vocab-stats frame (a scalar, not a relation join)
    import re

    bnlj = re.findall(r"BroadcastNestedLoopJoin \w+ \w+", p)
    assert all("Cross BuildRight" in b for b in bnlj), bnlj
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 4, "dedup+vocab aggs must be partial"


def test_filtered_ann_pushes_predicate_to_scan(spark, sf_dir):
    """Filtered ANN must pre-filter at the source: the label predicate
    reaches the parquet scan's PushedFilters, shrinking the candidate
    set before any scoring work."""
    from decaton_spark.queries import _ALL_QUERIES

    p = plan_of(_ALL_QUERIES["ann_filtered_topk"].fn(spark, sf_dir))
    assert "PushedFilters" in p
    seg = p.split("PushedFilters", 2)
    assert any("label" in s[:200] for s in seg[1:]), "label filter must push"


def test_funnel_and_cohort_plan_shapes(spark, sf_dir):
    """Behavioral analytics: the funnel must refine via equi-joins of
    aggregated (|users|-bounded) frames — no inequality-only self-join
    of raw events — and the cohort rollup must partial-aggregate."""
    f = plan_of(QUERIES["events_funnel"].fn(spark, sf_dir))
    assert "CartesianProduct" not in f
    assert f.count("HashAggregate") >= 4, "per-user stage aggs must be partial"
    c = plan_of(QUERIES["events_cohort_retention"].fn(spark, sf_dir))
    assert "CartesianProduct" not in c
    assert c.count("HashAggregate") >= 4


def test_plan_inspection_helpers(spark, sf_dir):
    """plans.pushed_filters surfaces scan predicates;
    repartition_by_key produces the requested hash partitioning."""
    from decaton_spark.operators.partitioner import repartition_by_key
    from decaton_spark.plans import pushed_filters
    from decaton_spark.sources import load_table

    li = load_table(spark, "lineitem", sf_dir).filter("l_quantity < 10")
    pf = pushed_filters(li.select("l_quantity"))
    assert any("l_quantity" in f for f in pf), pf

    tasks = load_table(spark, "events", sf_dir).selectExpr(
        "CAST(user_id AS STRING) AS key", "event_id"
    )
    rp = repartition_by_key(tasks, 8)
    assert rp.rdd.getNumPartitions() == 8
    # co-location: each key's rows land in exactly one partition
    from pyspark.sql import functions as FX

    spread = (
        rp.withColumn("pid", FX.spark_partition_id())
        .groupBy("key")
        .agg(FX.countDistinct("pid").alias("d"))
        .filter("d > 1")
        .count()
    )
    assert spread == 0


def test_q21_decorrelates_without_fact_self_join(spark, sf_dir):
    """The Q21 EXISTS/NOT-EXISTS pair must decorrelate into one
    per-order aggregate joined back — no cartesian, no correlated fact
    SELF-join, and the supplier dim must broadcast. Since round 9 the
    two consumers are planned independently off a repartition (no
    localCheckpoint): exactly two lineitem scans, and the late-line
    probe's lateness predicate must reach ITS scan as a data filter
    (l_shipdate non-null prunes at the parquet level) — the
    scan-level pruning that beat the shared materialization."""
    df = QUERIES["q21_waiting_suppliers"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p, "supplier dim must broadcast"
    assert "REPARTITION_BY_COL" in p, "both consumers hang off the repartition"
    simple = plan_of(df, "simple")
    assert simple.count("Scan ExistingRDD") == 0, (
        "no executor-local checkpoint storage in the q21 plan"
    )
    assert simple.count("lineitem.parquet") == 2, (
        "exactly the two planned fact scans — a third would mean a "
        "correlated self-join came back"
    )
    assert "IsNotNull(l_shipdate)" in p, (
        "the probe branch must push the lateness filter to its scan"
    )


def test_heavy_hitters_verify_is_broadcast_semi(spark, sf_dir):
    """Heavy hitters: the exact-verify pass must semi-join the stream
    against the BROADCAST candidate set (candidates are tiny by
    construction) and every count must be a partial aggregate."""
    df = QUERIES["heavy_hitters_keys"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert p.count("HashAggregate") >= 2


def test_heavy_hitters_partition_invariant(spark, sf_dir):
    """The pigeonhole candidate set depends on the input partitioning;
    the OUTPUT must not (no-false-negative + exact verify)."""
    from decaton_spark.envelope import events_to_tasks
    from decaton_spark.functions.sketches import heavy_hitters
    from decaton_spark.sources import load_table

    tasks = events_to_tasks(load_table(spark, "events", sf_dir))
    a = {
        (r["key"], r["cnt"])
        for r in heavy_hitters(tasks, "key", threshold=70).collect()
    }
    b = {
        (r["key"], r["cnt"])
        for r in heavy_hitters(
            tasks.repartition(37), "key", threshold=70
        ).collect()
    }
    c = {
        (r["key"], r["cnt"])
        for r in heavy_hitters(
            tasks.coalesce(1), "key", threshold=70
        ).collect()
    }
    assert a == b == c and len(a) > 0


def test_bm25_reuses_materialized_tf(spark, sf_dir):
    """BM25's dl, df and scoring branches must all read the one
    materialized (doc, term, tf) frame — one corpus scan total — and
    the query-term filter must prune the scoring branch before the
    joins."""
    df = QUERIES["text_bm25_search"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Generate" not in p, "explode must be behind the materialized tf"
    assert "CartesianProduct" not in p
    simple = plan_of(df, "simple")
    # five reads of the materialized tf: scoring, dfreq (now over the
    # query-term-filtered rows), dl (tf + the broadcast matched-doc
    # semi-join side), and stats — all aggregated frames, zero corpus
    # re-scans (round-9: df/dl no longer aggregate the full
    # vocabulary/corpus before being probed for the query terms)
    assert simple.count("Scan ExistingRDD") == 5, (
        "dl, df, stats and the scoring branch all derive from the one tf"
    )
    assert " IN (spark,join,window)" in p, "query-term filter must prune tf"
    # the df/dl aggregations must be pruned by the query-term filter
    # BEFORE their shuffles: a full-vocabulary dfreq would show a
    # groupBy(term) exchange with no upstream IN filter
    assert "LeftSemi" in p, "dl must be pruned to matched docs pre-shuffle"


def test_resample_gapfill_shape(spark, sf_dir):
    """Resample+gapfill: the grid generation must stay distributed
    (Generate over the per-key span aggregate — never a driver-side
    range), the bucket aggregate must be partial, and the only sort
    feeds the bounded per-key LOCF window."""
    df = QUERIES["events_resample_gapfill"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Generate" in p and "sequence" in p
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_centroid_drift_broadcasts_global(spark, sf_dir):
    """Centroid drift: both centroid aggregates must be partial
    (map-side combinable scaled-integer sums), the 64-row global
    centroid must broadcast, and the whole plan must stay UDF-free
    with no cartesian."""
    df = QUERIES["emb_label_centroid_drift"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 4, "label+global centroid partial aggs"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_function_bridges_shuffle_free(spark, sf_dir):
    """The array/map function bridges are narrow projections: no
    exchange, no Python evaluation (lambdas must stay Catalyst
    HigherOrderFunctions)."""
    for q in ("array_functions_bridge", "map_functions_bridge"):
        p = plan_of(QUERIES[q].fn(spark, sf_dir))
        assert "Exchange" not in p, f"{q} must not shuffle"
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{q} must stay JVM-side"
        )


def test_corpus_merge_never_shuffles_the_corpus(spark, sf_dir):
    """Incremental corpus merge: every join must broadcast the
    batch-derived side — at 100 TB the existing corpus only streams.
    No sort-merge join (that would shuffle the corpus on doc_id or
    md5), no cartesian, no Python eval."""
    df = QUERIES["corpus_merge_upsert"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "SortMergeJoin" not in p, "corpus-side shuffle join"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 4, (
        "kept/matched/updates/inserts/content-guard joins all broadcast"
    )
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_corpus_merge_neardup_no_corpus_shuffle_join(spark, sf_dir):
    """The near-dup guard must keep the corpus on the streaming side:
    candidate and verify joins broadcast batch-derived inputs, no
    sort-merge join, no cartesian, no Python eval."""
    df = QUERIES["corpus_merge_neardup"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_winsorize_broadcasts_quantiles(spark, sf_dir):
    """Winsorization: the per-group quantile table must broadcast back
    onto the fact scan (no sort-merge self-join), and both aggregation
    passes must partial-aggregate."""
    df = QUERIES["events_value_winsorized"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hybrid_semantic_tower_is_ivf_probe_join(spark, sf_dir):
    """hybrid_search_rrf's semantic tower must be the IVF shape: a
    broadcast equi-join of corpus cells against the exploded probe
    list — never a corpus-wide BroadcastNestedLoopJoin (the brute-force
    shape that dies at 100 TB). The lexical tower legitimately owns ONE
    nested-loop: BM25's single-row corpus-stats scalar broadcast; the
    semantic tower must add zero more."""
    from decaton_spark.functions import text as tx
    from decaton_spark.sources import load_table

    hybrid = plan_of(QUERIES["hybrid_search_rrf"].fn(spark, sf_dir))
    lex_only = plan_of(
        tx.bm25_search(
            load_table(spark, "documents", sf_dir),
            ["spark", "join", "window"],
            top_k=50,
        )
    )
    assert hybrid.count("BroadcastNestedLoopJoin") == lex_only.count(
        "BroadcastNestedLoopJoin"
    ), "semantic tower must not nested-loop the corpus"
    assert "BroadcastHashJoin" in hybrid  # corpus cells ⋈ exploded probes
    assert "CartesianProduct" not in hybrid


def test_bloom_decontaminate_probe_has_no_join(spark, sf_dir):
    """docs_decontaminate_bloom's whole point: the corpus probe is a
    pure projection against the inlined literal bitmap — ZERO joins of
    any kind, never a gram-keyed shuffle, and a map-side partial
    aggregate before the one doc_id-count exchange (the other exchange
    is the explicit pre-hash round-robin spread of the raw corpus —
    the documented few-splits local tuning, not part of the operator)."""
    df = QUERIES["docs_decontaminate_bloom"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "Join" not in p, "bloom probe must not join (that's the exact variant)"
    assert "CartesianProduct" not in p
    assert "hashpartitioning(gram" not in p, "corpus must never shuffle by gram"
    simple = plan_of(df, "simple")
    assert simple.count("Exchange") == 2  # round-robin spread + doc_id count
    assert "REPARTITION_BY_NUM" in p or "RoundRobinPartitioning" in p
    assert "partial" in p.lower()


def test_exact_substring_windows_shuffle_once(spark, sf_dir):
    """dedup_exact_substring's window stream must shuffle exactly once
    (by doc_id, for the island merge): the dup-hash set after the
    HAVING broadcasts back onto the stream, so no |tokens|-row
    hash-join shuffle; only the small groupBy side hash-partitions on
    h. Never a cartesian/nested-loop, never a global sort."""
    df = QUERIES["dedup_exact_substring"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    simple = plan_of(df, "simple")
    # 2× round-robin corpus spread (two scans by design — see the
    # dedup.exact_substring_stats docstring) + h-groupBy + dup-set
    # broadcast + doc_id island merge
    assert simple.count("Exchange") <= 5
    assert p.count("hashpartitioning(h") == 1, "only the groupBy side keys on h"
    assert p.count("hashpartitioning(doc_id") == 1
    # island window sorts within doc partitions only — no global Sort
    # (formatted mode prints Sort args as "[...keys...], <global>, 0")
    assert "], false, 0" in p and "], true, 0" not in p
    assert "partial_count" in p


def test_sq_encode_is_projection_topk_shuffles_once(spark, sf_dir):
    """emb_sq_topk's scale contract: the trained quantizer is a
    one-row literal broadcast, so encoding both sides is a projection —
    the corpus is NEVER shuffled by the encoder; the only corpus-wide
    exchange is the per-query top-k window's hashpartitioning on
    query_id. (The round-9 size-adaptive id spread adds one more on
    sources big enough to under-split — spread_partitions returns
    None at this fixture size, so the minimal plan is what's pinned.)
    The query⋈corpus pairing is the same bounded
    BroadcastNestedLoopJoin the exact brute-force baseline owns (8
    broadcast queries), and codegen must stay compiled: the
    transform-loop encoder, not 128 inlined element expressions."""
    df = QUERIES["emb_sq_topk"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(query_id") == 1, "one top-k shuffle"
    # no other corpus-wide exchange: the stats pass was collected into
    # literals before planning, so no pos-groupBy survives in this plan
    assert "hashpartitioning(pos" not in p
    simple = plan_of(df, "simple")
    shuffles = simple.count("Exchange") - simple.count("BroadcastExchange")
    assert shuffles == 1, simple  # the top-k window; everything else broadcasts
    # the encoder must be the transform-loop form (bounded generated
    # code), not 128 inlined per-element expressions: the wide form
    # overflowed the JVM's 64 KB codegen method limit and dropped whole
    # stages to interpreted evaluation (and its plan string alone ran
    # to hundreds of KB — compactness is the observable proxy)
    assert "transform(arrays_zip" in p
    assert len(p) < 100_000, len(p)


def test_session_additions_plan_shapes(spark, sf_dir):
    """Plan gates for the round-4-session operators: no cartesian
    products anywhere; broadcasts where a small side exists; the only
    corpus-wide shuffles are the documented re-keyings."""
    shapes = {
        # query: (max shuffle exchanges, BNLJ allowed)
        "emb_hard_negatives": (1, True),    # top-k window; anchors broadcast
        "dedup_containment": (4, False),    # band sigs + distinct + gram joins
        "events_trajectories": (1, False),  # one user-keyed exchange
        # (r10: lag/running-sum islands + rn<=cap filter + same-key
        # groupBy, all riding one hashpartitioning(user_id) — the
        # session_window collect_list form grew its per-group payload
        # with events-per-user; the cap now lands BEFORE the collect)
        "events_anomaly_mad": (4, False),   # two percentile passes + final agg
        "emb_binary_hamming_topk": (1, True),  # top-k window; queries broadcast
        # the one BNLJ is the 1-row quantile-cutoff scalar broadcast
        "docs_stratified_sample": (2, True),   # decile window + percentile agg
    }
    for name, (max_shuffles, bnlj_ok) in shapes.items():
        p = plan_of(QUERIES[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        assert "SortMergeJoin" not in p, name
        if not bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles, p)


def test_bt_duel_matrix_partial_aggregates(spark, sf_dir):
    """The distributed half of Bradley–Terry (the comparison-log →
    duel-matrix reduction) must partial-aggregate: the shuffle carries
    per-partition (s, t) partials, never raw comparisons."""
    from decaton_spark.functions import ranking as rk
    from decaton_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    m = rk.duel_matrix(rk.pair_comparisons(docs, buckets=8))
    p = plan_of(m)
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p


def test_r4_late_additions_plan_shapes(spark, sf_dir):
    """Plan gates for the blocking/statistics/retrieval additions: no
    cartesian products; BNLJ only as 1-row scalar broadcasts or the
    bounded broadcast-query ANN pairing; shuffle ceilings pinned.
    (SortMergeJoins here are small-side joins AQE converts to broadcast
    at runtime — the static plan is the conservative shape.)"""
    shapes = {
        # query: max shuffle exchanges in the static plan
        "dedup_sorted_neighborhood": 7,    # block window + gram/pair spreads + verify joins
        # (r10: verify_pairs_jaccard's gram-set persist shows its build
        # exchange in the static plan — the executed plan consumes the
        # cache on both legs with no re-shuffle, see
        # test_verify_pairs_gram_sets_staged_once — and the candidate
        # block window's exchanges are now INLINE instead of hidden
        # behind a checkpoint leaf: carry= removed the verified→cand
        # join-back, so the static count rose while the executed plan
        # dropped the join-back's two pair-stream exchanges,
        # interleaved-A/B'd 35-44 → 28 s at ×100)
        "dedup_triangle_stats": 15,        # LSH+verify lineage (checkpointed at run) + wedge joins
        "emb_random_projection_recall": 7, # two top-k windows + hits join
        "emb_bitext_margin_mining": 6,     # fwd/rev top-k + margins + argmax
        "docs_ccnet_buckets": 6,           # tf agg + corpus agg + ntile + rollup
        "text_fertility_by_lang": 6,       # word histogram + per-lang rollup
        "events_ab_welch_ttest": 1,        # ONE conditional-agg pass
        "events_rfm_segments": 5,          # user agg + 3 staged exact-ntile ranks + rollup
        "corpus_snapshot_diff": 4,         # full-outer join sides + rollup
        "emb_bitext_margin_lsh": 6,        # bucket equi-join + top-k windows + argmax
        "events_ab_cuped": 4,              # user reduce + moment reduce (+1-row bounds BNLJ)
        "emb_ivf_cell_stats": 1,           # literal-fold assign + ONE groupBy
        "events_ab_conversion_ztest": 2,   # user reduce + 1-row final agg
        "dedup_snm_multipass": 9,          # two block windows + pair union + verify
        # (r10: the unioned candidates' exchanges are inline now — the
        # carry= form dropped the join-back and its checkpoint, same
        # account as dedup_sorted_neighborhood above)
        "dedup_minhash_accuracy": 9,       # banding + mh slots + verify + spreads
        "docs_zipf_fit": 2,                # ONE term count + bounded top-k windows
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(QUERIES[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)
    # the Welch pass must partial-aggregate: sufficient statistics ride
    # the shuffle as per-partition partials, never raw events
    p = plan_of(QUERIES["events_ab_welch_ttest"].fn(spark, sf_dir))
    assert "partial_count" in p or "partial_sum" in p


def test_feature_band_plan_shapes(spark, sf_dir):
    """Plan gates for the feature-engineering/warehouse band: encoding
    and seasonality broadcast their profile frames back onto the fact
    (the fact never shuffles); the SCD2 dimension never shuffles (one
    broadcast of the batch); attribution and fuzzy linkage pair via
    keyed EQUI-joins, never a nested loop over the fact."""
    shapes = {
        # query: max shuffle exchanges in the static plan
        "events_target_encoding": 2,   # cat stats + global mean reduces
        "events_seasonality_hod": 2,   # cell agg + per-type totals
        "customer_scd2_merge": 0,      # dim scan x3 + broadcast batch, NO shuffle
        "events_linear_attribution": 6,  # ONE user window shuffle; 1-row agg lineage x2 union legs
        "events_markov_stationary": 0,   # result is a driver-built literal frame
        "parts_fuzzy_linkage": 4,      # block equi-join sides + sizes + topk window
    }
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        if name == "events_target_encoding":
            # the global-mean scalar rides a 1-row broadcast BNLJ (the
            # events_ab_cuped pattern) — bounded by construction
            assert p.count("BroadcastNestedLoopJoin") <= 1, name
        else:
            assert "BroadcastNestedLoopJoin" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)
    # SCD2: the batch side broadcasts; the dimension side never exchanges
    p = plan_of(_EX["customer_scd2_merge"].fn(spark, sf_dir))
    assert "BroadcastExchange" in p
    # linkage: the pair generator is a hash equi-join; attribution is
    # JOIN-FREE by design (two bounded-range windows — the per-user-
    # density join trap the x100 ladder exposed)
    p = plan_of(_EX["parts_fuzzy_linkage"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    p = plan_of(_EX["events_linear_attribution"].fn(spark, sf_dir), "simple")
    assert "Join" not in p, "attribution must stay join-free"
    assert "Window" in p


def test_stats_band2_plan_shapes(spark, sf_dir):
    """Bootstrap/DiD/MRR gates: the bootstrap's 32x expansion stays
    map-side (explode + partial agg, ONE shuffle of partials + the
    32-row-per-type window); DiD is ONE conditional-agg pass; MRR
    replaces the global ranking window with two bounded reductions
    (broadcast queries, no corpus window)."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    shapes = {
        "events_bootstrap_ci": 5,      # hash-spread repartition + resample agg + ci window + point agg
        "events_ab_diff_in_diff": 2,   # 1-row midpoint reduce + cell agg
        "retrieval_mrr_eval": 2,       # best-relevant reduce + count-ahead agg
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)
    # bootstrap: the Poisson weights must partial-aggregate before the
    # shuffle — resample means ride as (sum, count) partials
    p = plan_of(_EX["events_bootstrap_ci"].fn(spark, sf_dir))
    assert "partial_sum" in p or "partial_count" in p
    # MRR: the corpus pairing must broadcast the 8-query side
    p = plan_of(_EX["retrieval_mrr_eval"].fn(spark, sf_dir))
    assert "BroadcastExchange" in p


def test_covisitation_and_power_plan_shapes(spark, sf_dir):
    """Covisitation: the pair generator is a user-keyed EQUI-join
    (never all-pairs over items); marginals broadcast back. Power: ONE
    conditional-moment pass with map-side partials."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    p = plan_of(_EX["events_covisitation_recs"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    # pair agg + 2 marginal aggs + 2-level user countDistinct + topk
    # window; the (user,item) distinct shuffle happens ONCE at the
    # localCheckpoint, outside this static plan
    assert shuffles <= 6, shuffles
    p = plan_of(_EX["events_ab_power"].fn(spark, sf_dir), "simple")
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= 1, shuffles  # the single moment aggregation
    p = plan_of(_EX["events_ab_power"].fn(spark, sf_dir))
    assert "partial_sum" in p or "partial_count" in p


def test_wordpiece_is_single_arrow_stage(spark, sf_dir):
    """The Arrow WordPiece tokenizer must add ZERO shuffles beyond the
    distinct-words aggregation and run as ONE Arrow stage (round 10:
    it replaced the unrolled CASE fold whose Catalyst analysis cost
    ~2 s per invocation); the expression twin stays codegen'd for the
    oracle/bit-identity pin."""
    from decaton_spark.functions import text as tx

    words = spark.createDataFrame([("column",), ("batch",)], "w string")
    p = plan_of(tx.wordpiece_tokenize_words(words))
    assert "Exchange" not in p, "tokenizer must be a pure projection"
    import re as _re

    assert len(_re.findall(r"MapInPandas \(\d+\)", p)) == 1
    p = plan_of(tx.wordpiece_tokenize_words_expr(words), mode="codegen")
    assert "WholeStageCodegen" in p


def test_wordpiece_arrow_matches_expr(spark, sf_dir):
    """Bit-identity pin: the Arrow tokenizer and the unrolled
    expression fold (the oracle's twin) must agree on every distinct
    corpus word — pieces string and n_pieces both."""
    from decaton_spark.functions import text as tx
    from decaton_spark.sources import load_table

    words = (
        load_table(spark, "documents", sf_dir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .distinct()
    )
    got = {
        r["word"]: (r["pieces"], r["n_pieces"])
        for r in tx.wordpiece_tokenize_words(words).collect()
    }
    want = {
        r["word"]: (r["pieces"], r["n_pieces"])
        for r in tx.wordpiece_tokenize_words_expr(words).collect()
    }
    assert got == want


def test_monitoring_band_plan_shapes(spark, sf_dir):
    """PSI: one histogram pass, totals joined back at cell granularity.
    Backtest: series built ONCE (localCheckpoint), lag pairing is an
    equi-join on (type, h-k), cutoff broadcasts."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    p = plan_of(_EX["events_psi_drift"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= 4, shuffles  # midpoint reduce + cells + totals + final
    p = plan_of(_EX["events_forecast_backtest"].fn(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    # 2 lag joins + 2 error aggs + cutoff reduce + final join; the
    # hourly-series shuffle happens once at the localCheckpoint
    assert shuffles <= 9, shuffles


def test_km_windows_are_bounded(spark, sf_dir):
    """KM's only windows run over the distinct-duration frame (bounded
    by observation hours), never over users; the per-user reductions
    partial-aggregate."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    p = plan_of(_EX["events_survival_km"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "partial_min" in p or "partial_count" in p or "partial_sum" in p


def test_tuning_and_featurestore_plan_shapes(spark, sf_dir):
    """Gates for the sweep/feature-store band: no cartesian products
    anywhere; the PIT feature join and LTV cohort join are keyed
    equi-joins; ANOVA is a two-level reduction; the sweeps stage their
    shared frames once (localCheckpoint) so rungs don't re-run
    lineage."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    shapes = {
        "events_cohort_ltv": 5,        # signup reduce + cells + ltv window (+bcast sizes)
        "events_anova_oneway": 2,      # group moments + 1-row reduce
        "events_pit_features": 3,      # label/history join + per-label agg
        "events_negative_samples": 4,  # distinct + items + anti-join + topk window
        # 3 independent production probe queries unioned into one report:
        # each rung carries its own probe join + topk + hits/ids aggs
        "ann_ivf_nprobe_sweep": 15,
        "dedup_lsh_banding_sweep": 15, # 3 rungs x (pair join + 2 count reduces) + truth count
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)


def test_late_continuation_plan_shapes(spark, sf_dir):
    """Gates for the last continuation band: no cartesian products;
    shuffle ceilings pinned. Checkpoint-staged frames (covisitation
    eval, KMV overlap, source overlap) keep their static plans small
    because the shared shuffles happen once at materialization."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    shapes = {
        "events_entropy_by_type": 3,       # (type,item) agg + totals + final
        "events_kmv_user_overlap": 12,     # pair window + probes + exact audit
        "text_wordpiece_fertility": 4,     # word counts + distinct + final agg
        "events_covisitation_eval": 12,    # split + pair agg + topk + cand + readout
        "events_l_diversity": 3,           # two-level countDistinct + rollup
        "dedup_simhash_hamming": 3,        # band explode join + distinct
        "corpus_source_overlap": 4,        # marginals + gram join + final
        "events_score_calibration": 3,     # outcome join + per-click agg + deciles
        "events_forecast_backtest": 9,     # two lag joins + aggs + final
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)


def test_product_analytics_band_plan_shapes(spark, sf_dir):
    """Gates for the product-analytics band: every query reduces the
    fact FIRST and runs its windows over bounded frames (users /
    deciles / days / phrases) — the pre-aggregate-then-window shape."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    shapes = {
        "events_ab_srm_check": 2,         # distinct users + 1-row agg
        "parts_abc_classification": 5,    # part agg + running-sum range
                                          # exchange + offsets agg + class agg
                                          # (global_running_sum replaced the
                                          # single-task cum window, round 5)
        "events_dau_mau_stickiness": 5,   # dau agg + expand distinct + mau agg
        "events_power_user_curve": 5,     # user agg + exact-ntile rank + decile agg
        "text_keyphrases_rake": 7,        # pid window + stats/phrase aggs + topk
        "orders_backlog_sweepline": 4,    # span agg + day agg + cum window
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)


def test_ops_audit_band_plan_shapes(spark, sf_dir):
    """Gates for the ops-audit band: all three are window forms over
    keyed or pre-reduced frames — join-free by design (the measured
    per-user-density lesson applied at authoring time)."""
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof

    shapes = {
        "orders_duplicate_payments": 1,       # one (cust, amount) window
        "events_first_touch_attribution": 4,  # user window + channel agg
        "events_slo_burn_rate": 3,            # hourly agg + series windows
        "dedup_families_report": 16,          # three family pipelines, staged
    }
    for name, max_shuffles in shapes.items():
        p = plan_of(_EX[name].fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, name
        shuffles = p.count("Exchange") - p.count("BroadcastExchange")
        assert shuffles <= max_shuffles, (name, shuffles)
    p = plan_of(_EX["orders_duplicate_payments"].fn(spark, sf_dir), "simple")
    assert "Join" not in p, "duplicate-payments must stay join-free"
    # first-touch: the only join allowed is the 1-row total broadcast
    p = plan_of(_EX["events_first_touch_attribution"].fn(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_exact_global_ntile_no_single_partition_sort(spark, sf_dir):
    """VERDICT r4 #4 gate: the power-user Lorenz curve and the RFM
    scorer must not plan a global ntile (one task sorting the whole
    user population). The rewrite (stats.exact_global_ntile) is a
    range-exchange + mono-id rank + closed-form tile: no ntile window
    function anywhere. The registered queries stage the ranked frame
    through a lazy checkpoint (which truncates the visible lineage),
    so the range exchange + absence of any global sort is pinned on
    the unstaged helper plan; remaining unpartitioned windows run
    over bounded frames only (per-partition counts, the 10-row decile
    table)."""
    import pyspark.sql.functions as F

    from decaton_spark.functions.stats import exact_global_ntile
    from decaton_spark.queries import _ALL_QUERIES as _EX  # tier-rotation-proof
    from decaton_spark.sources import load_table

    for name in ("events_power_user_curve", "events_rfm_segments"):
        p = plan_of(_EX[name].fn(spark, sf_dir))
        assert "ntile(" not in p, f"{name} still plans a global ntile"

    per_user = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with checkpoint_passthrough():
        ranked = exact_global_ntile(
            per_user,
            n_tiles=10,
            order_cols=[F.col("n_events").desc(), F.col("user_id")],
            out_col="decile",
        )
    p = plan_of(ranked)
    assert "ntile(" not in p
    assert "rangepartitioning" in p.lower(), "lost the parallel range sort"
    # the ONLY global sort allowed is the bounded per-partition-counts
    # window (≤ shuffle-partitions rows); the user frame itself must
    # never pass through a SinglePartition exchange
    assert p.lower().count("singlepartition") <= 1


def test_exact_global_ntile_matches_ntile(spark):
    """exact_global_ntile must be bit-identical to ntile(n) OVER
    (ORDER BY …) for every (N, n_tiles) shape — including N < n_tiles,
    ties on the sort key (unique tiebreak column), and N % n_tiles
    remainders — regardless of input partitioning."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from decaton_spark.functions.stats import exact_global_ntile

    for n_rows, n_tiles, n_parts in [(1, 4, 3), (7, 10, 5), (97, 4, 7),
                                     (100, 10, 1), (64, 64, 9)]:
        rows = [(i, (i * 7919) % 5) for i in range(n_rows)]  # heavy ties
        df = spark.createDataFrame(rows, "id long, v long").repartition(n_parts)
        order = [F.col("v").desc(), F.col("id")]
        got = exact_global_ntile(
            df, n_tiles=n_tiles, order_cols=order, out_col="tile"
        )
        want = df.withColumn("tile", F.ntile(n_tiles).over(Window.orderBy(*order)))
        g = {r["id"]: r["tile"] for r in got.collect()}
        w = {r["id"]: r["tile"] for r in want.collect()}
        assert g == w, (n_rows, n_tiles, n_parts)



def test_global_running_sum_matches_window(spark):
    """global_running_sum must be bit-identical to
    sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING) for every
    partitioning, including heavy ties broken by the unique column."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from decaton_spark.functions.stats import global_running_sum

    for n_rows, n_parts in [(1, 3), (97, 7), (100, 1), (64, 9)]:
        # every 7th amt NULL, including a leading run in sort order,
        # to pin window null semantics (sum skips NULLs; NULL only
        # while the whole preceding frame is NULL)
        rows = [
            (i, (i * 7919) % 5, None if i % 7 == 3 else (i * 31) % 100)
            for i in range(n_rows)
        ]
        df = spark.createDataFrame(
            rows, "id long, v long, amt long"
        ).repartition(n_parts)
        order = [F.col("v").desc(), F.col("id")]
        got = global_running_sum(
            df, order_cols=order, value_col="amt", out_col="cum"
        )
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        want = df.withColumn(
            "cum", F.sum(F.col("amt").cast("decimal(38,0)")).over(w)
        )
        tidy = lambda x: None if x is None else int(x)  # noqa: E731
        g = {r["id"]: tidy(r["cum"]) for r in got.collect()}
        ww = {r["id"]: tidy(r["cum"]) for r in want.collect()}
        assert g == ww, (n_rows, n_parts)

    # explicit leading-NULL prefix in sort order: cum must be NULL
    # until the first non-NULL value, exactly like the window form
    rows = [(i, None if i < 3 else 10) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, amt long").repartition(4)
    got = global_running_sum(
        df, order_cols=[F.col("id")], value_col="amt", out_col="cum"
    )
    g = {r["id"]: (None if r["cum"] is None else int(r["cum"]))
         for r in got.collect()}
    assert g == {0: None, 1: None, 2: None, 3: 10, 4: 20, 5: 30,
                 6: 40, 7: 50}


def test_abc_classification_no_single_partition_sweep(spark, sf_dir):
    """parts_abc's Pareto sweep must not plan a global cumulative
    window over the part dimension (it grows with the corpus). The
    unstaged global_running_sum plan shows the range exchange and at
    most the one bounded per-partition-offsets window."""
    import pyspark.sql.functions as F

    from decaton_spark.functions.stats import global_running_sum
    from decaton_spark.sources import load_table

    rev = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.lit(1)).alias("rev"))
    )
    with checkpoint_passthrough():
        cum = global_running_sum(
            rev,
            order_cols=[F.col("rev").desc(), F.col("partkey")],
            value_col="rev",
            out_col="cum",
        )
    p = plan_of(cum)
    assert "rangepartitioning" in p.lower(), "lost the parallel range sort"
    assert p.lower().count("singlepartition") <= 1


def test_fuzzy_linkage_comparator_runs_once_outside_join(spark, sf_dir):
    """Round-10 pin: the levenshtein comparator must live in the
    projection, not the join condition — a filter on the projected
    dist column gets pushed into the join, where it runs BEFORE the
    cheap key/length cuts and up to three times per candidate pair
    (measured ~118M evaluations for ~11M needed, 2x the query wall).
    The join may carry only the ordering and length-bound conjuncts,
    and the map-side top-k (WindowGroupLimit) must survive."""
    p = plan_of(QUERIES["parts_fuzzy_linkage"].fn(spark, sf_dir))
    join_conds = [
        l for l in p.splitlines() if l.strip().startswith("Join condition")
    ]
    assert join_conds, p
    assert not any("levenshtein" in c for c in join_conds), join_conds
    assert p.count("levenshtein") == 1, p.count("levenshtein")
    assert "WindowGroupLimit" in p, "map-side top-k gone"
