"""Plan-quality guardrails (SURVEY.md §4): these tests pin the
physical-plan properties that make the engine scale — pushdown,
pruning, broadcast selection, no cartesian degeneration — so a
refactor that silently de-optimizes a plan fails here instead of at
100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_project_spark import plans as P
from data_lake_project_spark.operators.interval import iou_join
from data_lake_project_spark.queries import QUERIES
from data_lake_project_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    o = load_table(spark, SF_DIR, "orders")
    df = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    P.assert_pushdown(df, "IsNotNull(o_orderstatus)", "EqualTo(o_orderstatus,F)")


def test_column_pruning_two_column_projection(spark):
    l = load_table(spark, SF_DIR, "lineitem")
    df = l.select("l_orderkey", "l_quantity")
    # a 2-column projection must not scan the wide remainder
    P.assert_pruned(df, ["l_comment", "l_extendedprice", "l_shipdate"])
    schemas = P.read_schemas(df)
    assert schemas and all("l_orderkey" in s for s in schemas)


def test_small_dim_join_broadcasts(spark):
    df = QUERIES["q04_equi_join"](spark, SF_DIR)
    P.assert_broadcast(df)
    P.assert_no_cartesian(df)


def test_multiway_join_no_cartesian(spark):
    df = QUERIES["q05_multiway_join_agg"](spark, SF_DIR)
    P.assert_no_cartesian(df)


def test_interval_join_is_equi_join_not_cross(spark):
    cells = spark.createDataFrame(
        [(0, 0.0, 0.0, 50.0, 20.0)], "cell_id int, c_x1 double, c_y1 double, c_x2 double, c_y2 double"
    )
    boxes = spark.createDataFrame(
        [(0, 5.0, 5.0, 45.0, 18.0)], "box_id int, b_x1 double, b_y1 double, b_x2 double, b_y2 double"
    )
    df = iou_join(cells, boxes, bucket=50.0)
    # the bucketing rewrite must produce an equi-join on bucket keys
    P.assert_no_cartesian(df)
    assert len(df.columns) == 10


def test_topk_uses_take_ordered(spark):
    df = QUERIES["q14_topk"](spark, SF_DIR)
    plan = P.explain_str(df)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "qname",
    [
        "q05_multiway_join_agg",
        "q08_groupby_agg",
        "q16_string_fns",
        "q18_math_fns",
    ],
)
def test_hot_queries_stay_in_codegen(spark, qname):
    df = QUERIES[qname](spark, SF_DIR)
    # AQE assigns codegen ids only once the plan is finalized — run it
    df.collect()
    assert P.codegen_stage_count(df) >= 1, "no whole-stage codegen span"


def test_groupby_has_single_shuffle(spark):
    df = QUERIES["q08_groupby_agg"](spark, SF_DIR)
    # partial (map-side) aggregation: one hash exchange for the group
    # keys; the final orderBy adds at most one range exchange
    assert P.exchange_count(df) <= 2


def test_exact_dedup_single_shuffle(spark):
    from data_lake_project_spark.operators.dedup import exact_dedup

    d = load_table(spark, SF_DIR, "documents")
    assert P.exchange_count(exact_dedup(d)) <= 2  # content-hash window (+spread)


def test_split_sentences_is_narrow(spark):
    """Sentence segmentation must be a pure map (HOF slicing + one
    posexplode) — zero exchanges at any corpus size."""
    from data_lake_project_spark.operators.sentences import split_sentences

    d = load_table(spark, SF_DIR, "documents")
    assert P.exchange_count(split_sentences(d)) == 0, P.explain_str(
        split_sentences(d)
    )


def test_hash_split_is_pure_map(spark):
    """Dataset split assignment shuffles nothing: the split column is
    a deterministic expression on the key."""
    from data_lake_project_spark.operators.dataset import hash_split

    d = load_table(spark, SF_DIR, "documents")
    assert P.exchange_count(hash_split(d, "doc_id")) == 0


def test_term_stats_partial_aggregated(spark):
    """Vocabulary rollup: two grouping levels collapse into hash
    aggregates around (tok[, doc])-keyed exchanges — the exploded
    token stream itself must not be what crosses the network twice."""
    from data_lake_project_spark.operators.text import term_stats

    d = load_table(spark, SF_DIR, "documents")
    # spread() may add one round-robin exchange on the single-file
    # local fixture; the aggregation itself contributes at most two.
    assert P.exchange_count(term_stats(d)) <= 3


def test_stratified_sample_is_pure_map(spark):
    """Mixture sampling is a filter on a hash expression — zero
    exchanges, so it composes with any downstream plan for free."""
    from data_lake_project_spark.operators.dataset import stratified_sample

    d = load_table(spark, SF_DIR, "documents")
    out = stratified_sample(
        d, "doc_id", "source", {"src0": 1.0, "src1": 0.5}, default_rate=0.1
    )
    assert P.exchange_count(out) == 0


def test_decontaminate_broadcasts_probes(spark):
    """The corpus side of decontamination must never shuffle: probe
    shingles broadcast into the semi-join (benchmarks are MBs,
    corpora are TBs)."""
    from data_lake_project_spark.operators.dedup import decontaminate

    d = load_table(spark, SF_DIR, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select("text")
    out = decontaminate(d, probes)
    strategies = P.join_strategies(out)
    assert strategies, "expected joins in decontaminate plan"
    assert all("Broadcast" in s for s in strategies), strategies
    P.assert_no_cartesian(out)


def test_no_inferred_filter_clones_generator_input(spark):
    """InferFiltersFromGenerate must stay excluded (session.py
    ``tune_for_scale``): it clones the full shingle expression tree
    into a Filter that pushdown sinks below the spread() repartition,
    re-running tokenization single-threaded at the scan (measured 3x
    on q49). A Filter node containing the shingle ``transform(...)``
    expression in the physical plan means the exclusion regressed."""
    from data_lake_project_spark.operators.dedup import decontaminate

    d = load_table(spark, SF_DIR, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select("text")
    plan = P.explain_str(decontaminate(d, probes))
    for line in plan.splitlines():
        if "Condition" in line or "Filter " in line:
            assert "transform(sequence(" not in line, (
                "shingle expression cloned into a Filter:\n" + line[:400]
            )


def test_range_join_is_bucketed_equi_join(spark):
    """q66's ±10-minute error↔click range join (no shared key, pure
    temporal proximity) must compile to an equi-join on the 10-min
    time-bin key — the inequality stays a residual filter, never the
    join condition (which would degenerate to a cross product)."""
    df = QUERIES["q66_range_join"](spark, SF_DIR)
    P.assert_no_cartesian(df)
    strategies = P.join_strategies(df)
    assert strategies, "expected a join in q66's plan"
    assert all("NestedLoop" not in s for s in strategies), strategies


def test_grouping_sets_single_expand_pass(spark):
    """GROUPING SETS must expand in one pass (a single Expand node +
    one scan of orders), not one scan per set."""
    plan = P.explain_str(QUERIES["q65_grouping_sets"](spark, SF_DIR))
    assert plan.count("Expand") >= 1
    assert plan.count("orders.parquet") <= 1, plan


def test_boilerplate_scrub_broadcasts_vocab(spark):
    """q71's boilerplate list is vocabulary-sized and must broadcast
    into the corpus anti-join; the corpus side never shuffles for it."""
    df = QUERIES["q71_boilerplate_scrub"](spark, SF_DIR)
    strategies = P.join_strategies(df)
    assert any("Broadcast" in s for s in strategies), strategies
    P.assert_no_cartesian(df)


def test_winsorize_broadcasts_percentiles(spark):
    """q72's per-segment percentile table is group-cardinality-sized
    and must broadcast back over the fact scan."""
    df = QUERIES["q72_winsorize"](spark, SF_DIR)
    strategies = P.join_strategies(df)
    assert strategies and all("Broadcast" in s for s in strategies), strategies


def test_tune_for_scale_holds_on_foreign_session(spark):
    """The driver builds its OWN SparkSession (no engine configs), so
    the optimizer exclusion must be (re)applied by the load path
    itself. Simulate that seam: a sibling session with the exclusions
    explicitly CLEARED must get them back from ``load_table`` alone,
    merged (never clobbering) with any exclusions the user configured,
    and q49's results must match the tuned session's."""
    from data_lake_project_spark.queries import QUERIES
    from data_lake_project_spark.session import tune_for_scale

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.SomeUserRule",
    )
    out = QUERIES["q49_decontaminate"](s2, SF_DIR)
    rules = s2.conf.get("spark.sql.optimizer.excludedRules")
    assert "InferFiltersFromGenerate" in rules, rules
    assert "SomeUserRule" in rules, rules  # merge, not clobber
    baseline = sorted(map(tuple, QUERIES["q49_decontaminate"](spark, SF_DIR).collect()))
    assert sorted(map(tuple, out.collect())) == baseline
    # idempotent: calling again doesn't duplicate entries
    tune_for_scale(s2)
    assert s2.conf.get("spark.sql.optimizer.excludedRules").count(
        "InferFiltersFromGenerate"
    ) == 1


def test_pack_sequences_single_shard_shuffle(spark):
    """Packing windows per shard: exactly the shard-key exchange(s),
    never a global single-partition sort."""
    from data_lake_project_spark.operators.dataset import pack_sequences

    d = load_table(spark, SF_DIR, "documents").selectExpr(
        "doc_id", "source", "n_chars AS n_toks"
    )
    out = pack_sequences(d, "n_toks", 200, "source", "doc_id")
    plan = P.explain_str(out)
    assert "SinglePartition" not in plan, plan


def test_ivf_with_codebook_runs_no_pre_index_jobs(spark):
    """With ``centroids=`` supplied, ivf_topk must build the search
    plan WITHOUT running any Spark job first (the production path:
    codebook trained once, reused per batch). Pinned by job-count —
    the round-2/round-3 advice item on hidden pre-index jobs."""
    from data_lake_project_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF_DIR, "embeddings")
    probes = e.filter("vec_id < 3").selectExpr(
        "vec_id AS probe_id", "embedding"
    )
    book = [[float((i * 7 + d) % 5) - 2.0 for d in range(64)] for i in range(4)]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = ivf_topk(e, probes, k=5, n_centroids=4, nprobe=2,
                  centroids=book, dim=64)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, (
        f"ivf_topk(centroids=...) launched jobs {sorted(after - before)} "
        "before the index pass"
    )
    # and the plan itself is a sound bucket equi-join, never cartesian
    P.assert_no_cartesian(df)
    assert df.count() >= 0  # plan executes


def test_ivf_codebook_validation_fails_fast(spark):
    """Wrong-shaped codebooks / corpora raise driver-side ValueError
    before any Spark work."""
    import pytest as _pytest

    from data_lake_project_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF_DIR, "embeddings")
    probes = e.filter("vec_id < 2").selectExpr(
        "vec_id AS probe_id", "embedding"
    )
    with _pytest.raises(ValueError, match="n_centroids"):
        ivf_topk(e, probes, n_centroids=4, centroids=[[0.0] * 64] * 3)
    with _pytest.raises(ValueError, match="ragged"):
        ivf_topk(e, probes, n_centroids=2,
                 centroids=[[0.0] * 64, [0.0] * 32])
    with _pytest.raises(ValueError, match="dim"):
        ivf_topk(e, probes, n_centroids=2,
                 centroids=[[0.0] * 32] * 2, dim=64)
    with _pytest.raises(ValueError, match="dim"):
        ivf_topk(e, probes, n_centroids=2, dim=32)  # corpus is 64-wide
    empty = e.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="empty"):
        ivf_topk(empty, probes, n_centroids=2)


def test_chunk_documents_is_pure_map(spark):
    """Chunking must add ZERO shuffles — tokenize, sequence, slice
    are all narrow; the explode inherits scan partitioning."""
    from data_lake_project_spark.operators.dataset import chunk_documents

    d = load_table(spark, SF_DIR, "documents")
    assert P.exchange_count(chunk_documents(d)) == 0


def test_zvalue_is_pure_map_and_stats_single_shuffle(spark):
    """The Morton key is a pure expression; the file-stats roll-up is
    one partial-agg'd shuffle on the file id."""
    from data_lake_project_spark.operators.layout import (
        zorder_file_stats,
        zvalue,
    )

    o = load_table(spark, SF_DIR, "orders").select(
        (F.col("o_orderkey") % 65536).cast("long").alias("x"),
        (F.floor("o_totalprice").cast("long") % 65536).alias("y"),
    )
    assert P.exchange_count(o.select(zvalue(F.col("x"), F.col("y")))) == 0
    assert P.exchange_count(zorder_file_stats(o, "x", "y")) == 1


def test_cdc_apply_single_shuffle(spark):
    """The merge-on-read collapse is the canonical distributed argmax:
    exactly one keyed exchange (the window), nothing else."""
    from data_lake_project_spark.lakehouse import cdc_apply

    log = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.lit(1).alias("ts"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        "o_totalprice",
    )
    assert P.exchange_count(cdc_apply(log, ["o_orderkey"], ["ts", "seq"])) == 1


def test_bloom_decontaminate_broadcasts_codes(spark):
    """The probe side must reach the corpus as a BROADCAST of position
    codes — the corpus never shuffles for the probe."""
    from data_lake_project_spark.operators.dedup import bloom_decontaminate

    d = load_table(spark, SF_DIR, "documents")
    probes = d.filter(F.col("doc_id") % 89 == 0).select("text")
    df = bloom_decontaminate(d, probes)
    P.assert_broadcast(df)
    P.assert_no_cartesian(df)


def test_skyline_no_cartesian(spark):
    """Two-phase skyline is windows only — no join at all, so no
    cartesian/BNLJ degeneration is even possible; pin it anyway."""
    from data_lake_project_spark.operators.frontier import skyline2d

    p = load_table(spark, SF_DIR, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    P.assert_no_cartesian(skyline2d(p, "cents", "size"))


def test_ewma_single_window_shuffle(spark):
    """All K lags and the residual ride ONE keyed window exchange."""
    from data_lake_project_spark.operators.timeseries import ewma_residual

    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    assert P.exchange_count(ewma_residual(e)) == 1


@pytest.mark.parametrize(
    "qname,max_exchanges",
    [
        # one keyed window + the presentation sort
        ("q114_forward_fill", 2),
        ("q115_autocorrelation", 2),
        ("q116_cusum_changepoint", 2),
        # narrow Expand + one vocab agg + sort
        ("q117_unpivot_profile", 2),
        # ONE aggregation pass: the whole matrix with zero keyed
        # shuffles (global agg is SinglePartition, not counted)
        ("q118_correlation_matrix", 0),
        # delta agg + full-outer merge + sort — never rescans base
        ("q120_ivm_apply", 3),
        # broadcast cell join: the only counted exchange is the sort
        ("q123_radius_join", 1),
        # single agg pass + broadcast FK anti-join + rules-sized sort
        ("q132_expectations", 1),
    ],
)
def test_round4_operators_pin_their_shuffle_budget(
    spark, qname, max_exchanges
):
    """Plan-shape pins for the round-4 surface: a regression that
    de-optimizes one of these (extra window, lost broadcast, lost
    exchange reuse) fails here, not as a 100x slowdown at scale."""
    from data_lake_project_spark.queries import QUERIES

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    n = P.exchange_count(df)
    assert n <= max_exchanges, (
        f"{qname}: {n} exchanges > {max_exchanges}\n"
        + P.explain_str(df)[:3000]
    )


def test_ann_index_search_prunes_bucket_partitions(spark, tmp_path):
    """A persisted IVF/IVFPQ search must read ONLY the probed buckets:
    codes are written partitionBy(__bucket), and the search's static
    In-filter shows up as a PartitionFilter on the codes scan — the
    compile-time pruning that makes a 100 TB codes table scan
    nprobe/n_centroids of its directories instead of all of them."""
    from data_lake_project_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
        save_ann_index,
        search_ann_index,
    )
    from data_lake_project_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = e.filter("vec_id < 3").selectExpr(
        "vec_id AS probe_id", "embedding"
    )
    for kind in ("ivf", "ivfpq"):
        path = str(tmp_path / f"pin_{kind}")
        save_ann_index(build_ann_index(e, kind=kind, dim=64), path)
        out = search_ann_index(load_ann_index(spark, path), probes, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        pf = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln
        ]
        assert pf and "__bucket" in pf[0] and " IN (" in pf[0], (
            kind,
            pf[:1] or plan[:1500],
        )


def test_bm25_index_search_prunes_token_bucket_partitions(spark, tmp_path):
    """A persisted BM25 search must read ONLY the buckets containing
    query terms: tfs is written partitionBy(__tb) and the search's
    static In-filter shows up as a PartitionFilter on the tfs scan —
    the lexical-lane twin of the ANN bucket-pruning pin."""
    from data_lake_project_spark.operators.retrieval import (
        build_bm25_index,
        load_bm25_index,
        save_bm25_index,
        search_bm25_index,
    )
    from data_lake_project_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    q = spark.createDataFrame(
        [(1, "supplier quality metrics")], "query_id int, qtext string"
    )
    path = str(tmp_path / "bm25_pin")
    save_bm25_index(build_bm25_index(d), path)
    out = search_bm25_index(load_bm25_index(spark, path), q, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "__tb" in ln
    ]
    assert pf and " IN (" in pf[0], pf[:1] or plan[:1500]


@pytest.mark.parametrize(
    "qname,max_exchanges",
    [
        # rollup load + slice agg + presentation sort
        ("q151_hll_rollup", 3),
        # one sketch agg + the (k choose 2) broadcast pairing + sort
        ("q152_theta_overlap", 3),
        # per-key sketch agg + the 1-row merge fold + union sort
        ("q153_kll_quantile_rollup", 3),
        # one per-partition window + one group roll-up (+ sort)
        ("q154_compaction_plan", 2),
        # broadcast-probe scan over codes: top-k window + sort only
        ("q155_int8_topk", 2),
        ("q157_sq_index_search", 2),
        # token min-agg + batch agg + 8-row window/sort
        ("q156_vocab_growth", 4),
        # one cube agg over the sketch table + sort
        ("q158_sketch_cube", 2),
        # distinct + gate window + pair agg + count joins post-
        # checkpoint (the 19-exchange unfactored shape is the pin's
        # target regression)
        ("q159_basket_lift", 5),
        # blocked fuzzy pairs + final survivorship agg; CC rounds are
        # checkpoint-truncated out of the final plan
        ("q160_golden_record", 6),
    ],
)
def test_round6_operators_pin_their_shuffle_budget(
    spark, qname, max_exchanges
):
    """Round-6 plan-shape pins (same contract as the round-4 set): a
    regression that de-optimizes one of these — a lost broadcast, a
    re-evaluated multi-consumer subtree, a lost checkpoint — fails
    here instead of as a scale blowup."""
    from data_lake_project_spark.queries import QUERIES

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    n = P.exchange_count(df)
    assert n <= max_exchanges, (
        f"{qname}: {n} exchanges > {max_exchanges}\n"
        + P.explain_str(df)[:3000]
    )


@pytest.mark.parametrize(
    ("qname", "max_exchanges"),
    [
        # recall reports (q163-q166): both search subtrees are eagerly
        # checkpointed (probes x k)-sized frames; the residual plan is
        # three tiny aggregate+join legs over the cut RDDs — 2
        # exchanges per counted leg + the sort, +1 for the ne/na
        # full_outer (an anomaly-surfacing audit join can't broadcast
        # one side away; round-9 ADVICE fix). A lost checkpoint
        # re-inlines a brute-force cross product here and blows this.
        ("q163_ivf_recall_report", 7),
        ("q164_pq_recall_report", 7),
        ("q165_ivfpq_recall_report", 7),
        ("q166_lsh_recall_report", 7),
        # three 1-row scalar aggs cross-joined (q148 shape)
        ("q167_hll_tolerance_report", 3),
        # five 1-row lane audits unioned over the published artifact;
        # the build+erase cost lives in the publish step, not the plan
        ("q168_gdpr_erasure_report", 3),
        # ranked values cut once (checkpoint); sketch agg + rank-window
        # + target explode-join + final report join + sort
        ("q169_kll_tolerance_report", 6),
        # persisted bucket-pruned ADC serve: top-k window + sort only
        ("q170_ann_index_injected_search", 2),
        # map-only Arrow assignment + one histogram agg + sort
        ("q171_kmeans_assign_report", 2),
    ],
)
def test_round8_operators_pin_their_shuffle_budget(
    spark, qname, max_exchanges
):
    """Round-8 plan-shape pins — same contract as the round-4/6 sets."""
    from data_lake_project_spark.queries import QUERIES

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    n = P.exchange_count(df)
    assert n <= max_exchanges, (
        f"{qname}: {n} exchanges > {max_exchanges}\n"
        + P.explain_str(df)[:3000]
    )


@pytest.mark.parametrize(
    ("qname", "max_exchanges"),
    [
        # assignment checkpointed once (Arrow map-only), then the
        # cluster-blocked pair join + two cluster-sized aggs + the
        # report join + sort over the cut RDD
        ("q172_semantic_dedup_report", 7),
        # chunk corpus checkpointed once; persisted bucket-pruned IVF
        # serve + brute baseline both cut; residual = recall_report's
        # three agg legs (incl. the full_outer) + sort
        ("q173_chunk_index_recall_report", 7),
        # the merge table is a driver-collected model (k 1-row winner
        # collects during build); the returned frame is local — only
        # the final sort may exchange
        ("q174_bpe_merge_trace", 1),
        # ONE user_id shuffle serves the interval equi-join, then the
        # per-error agg + sort (the range bound is a residual filter,
        # never a cross product)
        ("q175_stream_interval_join_report", 2),
        # TWO ranking_quality_report legs (each: nrel/nret/hits aggs +
        # report joins over eagerly-cut (queries x k) frames) + the
        # union sort; the bm25/dense/fusion subtrees are checkpointed
        # once each — a lost cut re-inlines a corpus-sized search here
        ("q176_retrieval_quality_report", 13),
    ],
)
def test_round9_operators_pin_their_shuffle_budget(
    spark, qname, max_exchanges
):
    """Round-9 plan-shape pins — same contract as the earlier sets."""
    from data_lake_project_spark.queries import QUERIES

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    n = P.exchange_count(df)
    assert n <= max_exchanges, (
        f"{qname}: {n} exchanges > {max_exchanges}\n"
        + P.explain_str(df)[:3000]
    )


@pytest.mark.parametrize(
    ("qname", "max_exchanges"),
    [
        # the returned frame aggregates the memory-sink snapshot: two
        # small aggs + sort; the stateful stream itself already ran
        ("q177_stream_funnel_report", 3),
        # lex10 and the dense positives are each cut once; mining is
        # an anti-join + window + union over (queries x k) rows
        ("q178_hard_negative_mining", 4),
        # ONE hash-groupBy (partial-agg'd) + the report sort
        ("q179_k_anonymity_report", 3),
        # directed top-k edges cut once; mutual = one semi-join over
        # (N x k) rows + sort — never the N x N score stream
        ("q180_mutual_knn_graph", 3),
        # scoring is a pure map; the audit-sized global ntile + one
        # groupBy are the only movements
        ("q181_quality_calibration", 2),
        # the returned frame projects + sorts the memory-sink window
        # totals; the watermarked streaming agg itself already ran
        ("q182_stream_window_report", 2),
        # both graphs' directed edges checkpoint-cut inside knn_graph;
        # residual = two mutual semi-joins + incidence unions +
        # recall_report's three agg legs + sort, all (N x k)-sized
        ("q183_knn_graph_recall_report", 8),
        # one narrow scored pass + two flag windows + ONE aggregate;
        # the report unstacks from a single row
        ("q184_curation_waterfall", 3),
        # per-user agg + sort over the memory-sink distinct pairs;
        # the stateful streaming dedup itself already ran
        ("q185_stream_dedup_report", 2),
        # pure map + ONE generator; only the output sort exchanges
        ("q186_cdc_chunks", 1),
        # serves off the published edge table: one semi-join over
        # (N x k) checkpointed edges + sort — the fold already ran
        # inside the publish step
        ("q187_knn_index_maintained", 2),
        # same serve path off the post-erasure artifact
        ("q188_knn_index_erased", 2),
    ],
)
def test_round10_operators_pin_their_shuffle_budget(
    spark, qname, max_exchanges
):
    """Round-10 plan-shape pins — same contract as the earlier sets.
    All four returned plans must also stay free of BNLJ and Python
    eval nodes (their expensive subtrees are checkpoint-cut)."""
    from data_lake_project_spark.queries import QUERIES

    df = QUERIES[qname](spark, "/root/testdata/sf0.001")
    n = P.exchange_count(df)
    assert n <= max_exchanges, (
        f"{qname}: {n} exchanges > {max_exchanges}\n"
        + P.explain_str(df)[:3000]
    )
    plan = P.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_write_zordered_narrows_footer_envelopes(spark, tmp_path):
    """The layout claim made REAL: after write_zordered, the parquet
    row-group stats (the pruning surface) carry envelopes on BOTH
    dimensions that are a small fraction of the domain — vs ~full-
    domain envelopes for an unsorted write. Read back via pyarrow
    footer metadata, no Spark trust involved."""
    import glob

    import pyarrow.parquet as pq

    from data_lake_project_spark.operators.layout import write_zordered

    df = spark.range(20000).selectExpr(
        "CAST(id % 251 AS LONG) AS x",
        "CAST((id * 7919) % 241 AS LONG) AS y",
    )

    def envelope_fraction(path, domain_x=251, domain_y=241):
        spans_x, spans_y = [], []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                cols = {
                    g.column(i).path_in_schema: g.column(i).statistics
                    for i in range(g.num_columns)
                }
                spans_x.append((cols["x"].max - cols["x"].min) / domain_x)
                spans_y.append((cols["y"].max - cols["y"].min) / domain_y)
        return sum(spans_x) / len(spans_x), sum(spans_y) / len(spans_y)

    base = str(tmp_path / "plain")
    df.repartition(16).write.parquet(base)
    zpath = str(tmp_path / "zord")
    # 16 z-ranged files over a 2D grid ≈ a 4x4 tiling: BOTH axes'
    # envelopes shrink (8 files would only split one axis twice)
    write_zordered(df, "x", "y", zpath, bits=8, n_files=16)

    bx, by = envelope_fraction(base)
    zx, zy = envelope_fraction(zpath)
    # unsorted files span ~the whole domain on both axes; z-ordered
    # files must be materially narrower on BOTH
    assert bx > 0.9 and by > 0.9, (bx, by)
    assert zx < 0.6 * bx and zy < 0.6 * by, (zx, zy, bx, by)


def test_runtime_bloom_filter_injects_in_shuffle_join_regime(spark):
    """The 100 TB fact⋈fact regime, pinned: when the join is a real
    shuffle join (broadcast off — at fixture scale Catalyst correctly
    prefers broadcast instead) and the 10 GB application-side gate is
    lifted (it exists precisely because this pays off at large scans),
    the session config lets Catalyst inject a runtime BLOOM FILTER
    from the selective dimension side into the fact scan — the fact
    rows are semi-join-reduced BEFORE the shuffle. This is free plan
    hygiene at cluster scale; the pin guards the conf/session wiring
    that enables it."""
    from pyspark.sql import functions as F

    from data_lake_project_spark.tables import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    olds = {}
    for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        try:
            olds[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf, restore via unset
            olds[k] = None
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, "/root/testdata/sf0.001", "orders")
        l = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        sel = o.filter(F.col("o_totalprice") > 500000)
        j = (
            l.join(sel, l.l_orderkey == sel.o_orderkey)
            .groupBy()
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_ab_test_is_one_aggregation_pass(spark):
    """q161's report comes from ONE conditional aggregation over the
    per-user frame — no per-arm filtered frames, no cross join (the
    two-frame shape evaluated the user agg twice and planned a BNLJ)."""
    df = QUERIES["q161_ab_test"](spark, SF_DIR)
    assert P.exchange_count(df) <= 1
    P.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in P.explain_str(df)


def test_phash_index_matches_verifies_inline(spark):
    """The index gate's match set is ONE band equi-join with the
    Hamming verify inline (each band row carries its full
    fingerprint), never the candidate ``distinct`` followed by two
    fingerprint re-joins on the batch and stored ids: on a dense
    corpus candidates outnumber verified pairs by orders of magnitude
    and that shape shuffles them three times."""
    import hashlib

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        phash_index_matches,
    )

    corpus = spark.createDataFrame(
        [(i, hashlib.md5(str(i).encode()).digest() * 4) for i in range(8)],
        "doc_id long, image binary",
    )
    out = phash_index_matches(
        build_phash_index(corpus), corpus.filter("doc_id < 3")
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert len(joins) == 1, plan
    assert "band" in joins[0] and "val" in joins[0], joins
    assert "__bid" not in joins[0] and "__cid" not in joins[0], joins
