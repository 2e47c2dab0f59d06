"""Physical-plan assertions: the properties that make these queries
scale are part of the contract, not an accident — filters reach the
parquet scan, dimension joins broadcast, aggregations have a map-side
partial phase. A regression here means a 100x slowdown at cluster
scale even when results stay correct."""

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR

from gus_spark.queries import catalog


def plan_of(spark, name_or_df, mode: str = "formatted") -> str:
    """Explain a catalog query (by name) or any DataFrame — one
    capture path for every plan assertion in this file."""
    df = (
        catalog()[name_or_df].fn(spark, SF_DIR)
        if isinstance(name_or_df, str)
        else name_or_df
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q6_filter_and_projection_pushdown(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    # the shipdate range predicate reaches the scan
    assert "l_shipdate" in plan.split("PushedFilters:", 1)[1].splitlines()[0]
    # projection pruning: the scan must not read unused wide columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


def test_point_lookup_pushes_equality(spark):
    plan = plan_of(spark, "point_lookup_order")
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "EqualTo(o_orderkey,7)" in pushed.replace(" ", "").replace(
        "IsNotNull(o_orderkey),", ""
    )


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_regional_revenue",
        "q10_returned_items",
        "q19_discounted_revenue",
    ],
)
def test_star_joins_broadcast(spark, name):
    """At test scale every join side is tiny, so the size-based planner
    (NOT a hint) must still pick broadcast joins — proving hint removal
    didn't cost the small-data plan anything."""
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    # q3/q10/brand must not shuffle the fact table for any join
    if name != "q5_regional_revenue":
        assert "SortMergeJoin" not in plan


# joins over row-scaled tables may not carry a FORCED broadcast hint:
# a hint that fits at sf0.1 is a driver/executor OOM at 100 TB and
# overrides both the 64 MB threshold and AQE's runtime judgment. In
# TPC-H *every* non-region/nation table scales linearly with SF —
# including supplier (10k rows/SF, ~150 GB at sf100k) and part
# (200k rows/SF, ~3 TB at sf100k) — so hints are allowed only on
# provably bounded sides: the fixed dimensions (region=5, nation=25)
# and post-HAVING keysets. The counts below are exactly those bounded
# sides; a count bump means someone hinted a row-scaled table.
ALLOWED_BROADCAST_HINTS = {
    "q3_shipping_priority": 0,       # customer+orders row-scaled: no hints
    "q5_regional_revenue": 2,        # region->nation, nation-chain only
    "q7_volume_shipping": 2,         # the two 25-row nation roles only
    "q8_market_share": 3,            # region, nation-chain, nation tag only
    "q10_returned_items": 1,         # nation only
    "q13_customer_distribution": 0,  # customer+orders row-scaled: no hints
    "q17_small_quantity_revenue": 0, # part keyset + per-part agg row-scaled
    "q18_large_volume_customers": 1, # post-HAVING orderkey keyset only
    "scalar_function_suite": 0,      # AQE broadcasts the probe-filtered side
    "q19_discounted_revenue": 0,     # part row-scaled: no hint
    "q4_order_priority": 0,          # orders+lineitem row-scaled: no hints
    "q21_suppliers_waiting": 1,      # 25-row nation gate only
    "q22_global_sales_opportunity": 1,  # the 1-row scalar aggregate only
    # the bridge family synthesizes partsupp from part x a 1-row
    # supplier-count scalar (always hinted); only bounded dims beyond
    "q2_min_cost_supplier": 3,       # 1-row count + nation + region
    "q16_parts_supplier_relationship": 1,  # 1-row count only
    "q20_excess_stock_suppliers": 2,  # 1-row count + nation
    # the valued subplan appears twice (per-part agg + global total,
    # the q22 uncorrelated-scalar pattern), each carrying its 1-row
    # supplier-count + 25-row nation hints, plus the 1-row total
    "q11_important_stock": 5,
    "q9_product_type_profit": 2,  # 1-row count + nation
    "q12_shipping_modes": 0,      # orders row-scaled: no hints
    # 1-row totals broadcast onto the vocabulary, plus (r13) the
    # log-ratio model onto the scoring join: unhinted, the static
    # planner built the broadcast relation over the EXPLODED CORPUS
    # token stream (the side that scales with the crawl); the model is
    # one row per distinct token — sublinear (Heaps) and the smaller
    # side by construction, and the fixed-B hashed tier remains the
    # documented 100-TB path when even the vocabulary outgrows memory
    "dsir_select_documents": 2,
}


@pytest.mark.parametrize("name", sorted(ALLOWED_BROADCAST_HINTS))
def test_no_forced_broadcast_on_row_scaled_sides(spark, name):
    plan = plan_of(spark, name, mode="extended")
    opt = plan.split("== Optimized Logical Plan ==", 1)[1].split(
        "== Physical Plan =="
    )[0]
    assert opt.count("strategy=broadcast") == ALLOWED_BROADCAST_HINTS[name], opt


def test_q1_has_partial_aggregation(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_topk_uses_take_ordered(spark):
    # aggregate-then-top-k (q18) must plan the per-partition-heap
    # TakeOrderedAndProject, never a global sort; q2 asserts the same
    # in its own test. (Inherited from the rotated-out
    # topk_expensive_lineitems probe.)
    plan = plan_of(spark, "q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    # q4's EXISTS plans as a LEFT SEMI with a mixed equi+inequality
    # condition; q22's NOT EXISTS as a LEFT ANTI
    assert "LeftSemi" in plan_of(spark, "q4_order_priority")
    assert "LeftAnti" in plan_of(spark, "q22_global_sales_opportunity")


def test_q21_single_orderkey_exchange(spark):
    """q21's per-order stats formulation must reuse ONE orderkey
    exchange for the lineitem⋈orders join, the stats groupBy and the
    stats join-back — the textbook double self-join would add two more
    fact-table shuffles, which is the whole point of the rewrite."""
    plan = plan_of(spark, "q21_suppliers_waiting", mode="simple")
    orderkey_ex = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "l_orderkey" in ln
    ]
    assert len(orderkey_ex) <= 1, plan


def test_curation_pipeline_fuses_to_one_exchange(spark):
    """The five curation 'stages' (profile, quality gate, language
    gate, dedup, split) must compile to ONE scan and ONE exchange (the
    dedup window's hash on content_fp): the gates are fused into the
    scan stage and run before anything shuffles. A second Exchange
    means stage fusion broke and the pipeline materializes between
    steps — the difference between one and two passes over 100 TB."""
    plan = plan_of(spark, "curate_documents", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ivf_kernel_keeps_explicit_salted_partitioning(spark):
    """The IVF scoring stage must sit on an EXPLICIT user partition
    count (REPARTITION_BY_NUM on (cell, salt)), not an
    ENSURE_REQUIREMENTS exchange: the shuffle input is only a few MB,
    so AQE's byte-based coalescing would otherwise collapse the
    compute-heavy matmul kernel onto ~1 task (measured 3-5x slower)."""
    import re

    from gus_spark.operators.similarity import ivf_topk
    from gus_spark.queries import table

    e = table(spark, SF_DIR, "embeddings")
    df = ivf_topk(e, k=5, nprobe=2, salt=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    plan = buf.getvalue()
    # r13: the scoring kernel is a mapInPandas over group-contiguous
    # partitions (one Python call per Arrow batch) — a per-group
    # FlatMapGroupsInPandas here would be the per-group call-framing
    # regression back
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert re.search(
        r"hashpartitioning\(cell#\d+, salt#\d+L?, 64\), REPARTITION_BY_NUM",
        plan,
    ), plan


def test_ann_lsh_single_bucket_exchange(spark):
    """The ANN LSH arrow path must shuffle the probe/candidate rows on
    bucket exactly ONCE: the cap window's hashpartitioning(bucket) is
    reused by the scoring groupBy. A second bucket exchange means the
    running-count cap formulation regressed to the two-shuffle
    cap-then-regroup shape — double the dominant shuffle at scale."""
    import re

    from gus_spark.operators.similarity import ann_lsh_topk
    from gus_spark.queries import table

    e = table(spark, SF_DIR, "embeddings")
    df = ann_lsh_topk(e, k=5, num_planes=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bucket_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(bucket" in ln
    ]
    assert len(bucket_ex) == 1, plan
    # and the signature/probe stage is the Arrow kernel, not HOF folds:
    # r13 moved it from mapInPandas to a scalar pandas_udf
    # (ArrowEvalPython) that returns only (norm, buckets) — the vector
    # never crosses back over Arrow; row fan-out is a JVM explode.
    # BatchEvalPython here would mean a row-at-a-time Python regression.
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # r13: the pair collapse and the final top-k window share ONE
    # query_id exchange (_grouped_topk_matmul distributes its kernel
    # output by query_id, which satisfies both the collapse agg's and
    # the window's clustered distribution) — a second query_id-family
    # exchange means the two-shuffle collapse-then-window shape is
    # back
    qid_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(query_id" in ln
    ]
    assert len(qid_ex) == 1, plan


def test_winnow_match_step_is_equi_join(spark):
    """The MOSS match step must be a hash/merge EQUI-join on the
    fingerprint key — a CartesianProduct or BroadcastNestedLoopJoin
    here would mean the id_a < id_b predicate absorbed the equality
    and the operator silently went O(n²). (Asserted on the operator
    directly; no catalog query runs it.)"""
    from gus_spark.operators.dedup import winnow_overlap_pairs
    from gus_spark.queries import table

    docs = table(spark, SF_DIR, "documents")
    plan = plan_of(spark, winnow_overlap_pairs(docs, token_hash="md5"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    # and the aggregation keeps a map-side partial
    assert plan.count("HashAggregate") >= 2


def test_dedup_url_one_exchange_pure_jvm(spark):
    """URL-tier dedup (r12): the normalization must ride the scan as
    pure JVM expressions (no Python stage) and the whole query must
    cost exactly ONE hash exchange — the canonical-key agg with a
    map-side partial."""
    import re

    plan = plan_of(spark, "dedup_url_docs")
    ex = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(ex) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_repetition_profile_no_keyed_shuffle(spark):
    """The repetition counts come from a per-doc Arrow kernel: the plan
    must contain ONE scan and NO hash-partitioned exchange (the only
    allowed Exchange is ensure_parallelism's round-robin respread of
    the single local input file — a no-op on real multi-file inputs).
    A hashpartitioning exchange here means the explode/groupBy jvm
    formulation leaked into the default path. (repetition_profile
    rotated out of the catalog late r10 — folded into
    text_repetition_profile — so the standalone function is driven
    directly; its zero-keyed-shuffle plan is exactly what the fused
    row's join side inherits.)"""
    from gus_spark.queries.text import repetition_profile

    plan = plan_of(
        spark, repetition_profile(spark, SF_DIR), mode="simple"
    )
    assert plan.count("Scan parquet") == 1, plan
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("RoundRobinPartitioning" in ln for ln in ex), plan
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan or \
        "MapInPandas" in plan, plan


def test_q2_bridge_decorrelates_to_one_window_exchange(spark):
    """The q2 correlated MIN over the synthesized bridge table must
    decorrelate into ONE window aggregate: exactly one
    hashpartitioning(ps_partkey) exchange feeds it (no per-part
    re-scan, no second min-join pass), the top-100 runs as
    TakeOrderedAndProject (no global sort exchange), and nothing
    degenerates to a cartesian plan."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert plan.count("hashpartitioning(ps_partkey") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join OPERATOR is legitimate: the 1-row
    # supplier-count scalar cross-joined into the partsupp synthesis
    # (the q22 scalar-subquery shape); any more means a real join
    # degenerated. Count the numbered detail headers — the formatted
    # plan mentions each operator twice (tree + detail).
    import re

    nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nlj) == 1, plan


def test_q12_pivot_is_single_pass_conditional_agg(spark):
    """q12's .pivot() over the derived priority class must compile to
    ONE single-pass conditional aggregate — pivot's naive form (one
    shuffle per pivot value, or an Expand multiplying the input) would
    double the exchanged volume. Exactly one shipmode-group exchange,
    two parquet scans (lineitem + orders), no Expand, no Python, and
    the synthesized-column filters evaluate map-side BEFORE the join
    (the join keeps ~1/14 of lineitem, so a post-join filter would
    shuffle 14x the qualifying rows)."""
    plan = plan_of(spark, "q12_shipping_modes")
    # pivot's two-phase agg exchanges only the GROUP space (<= 7 modes
    # x 2 classes rows at any scale): both hashpartitionings are on
    # l_shipmode(,priority_class), never on a row-scaled key beyond
    # the join itself.
    assert plan.count("hashpartitioning(l_shipmode") == 2, plan
    # two scans (lineitem + orders); the formatted plan names each scan
    # twice (tree line + numbered detail header)
    assert plan.count("Scan parquet") == 4, plan
    assert "Expand" not in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the synthesized-column filter runs BELOW the join (formatted-plan
    # operator ids number children first, so deeper = smaller): the
    # Filter whose condition carries the shipmode IN-list must have a
    # smaller id than the join consuming it.
    import re

    filt = re.search(r"\((\d+)\) Filter\nInput.*?\nCondition :[^\n]*MAIL",
                     plan)
    join = re.search(
        r"\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)",
        plan)
    assert filt and join, plan
    assert int(filt.group(1)) < int(join.group(1)), plan


def test_dsir_select_is_topk_no_python(spark):
    """The DSIR probe's physical shape: the selection is a
    TakeOrderedAndProject (per-partition heap, never a global sort of
    all scored docs), the whole exact tier is JVM expressions (no
    Python anywhere), no cartesian stage, and every keyed exchange is
    on a token or doc key — the fit is one token-keyed agg, never
    an all-pairs construction."""
    plan = plan_of(spark, "dsir_select_documents")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the 1-row totals side reaches the vocabulary via broadcast, not
    # an exchange-backed join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_redact_pii_is_pure_scan_map(spark):
    """PII redaction is a per-row regex map: one scan, ZERO exchanges
    of any kind, no Python in the plan (regexp_replace is JVM-side)."""
    plan = plan_of(spark, "redact_pii_documents", mode="simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan


def test_mixture_sample_one_count_exchange(spark):
    """The mixture plan's only shuffle is the tiny domain-count
    aggregation (one row per language); the plan side joins back via
    an explicit BROADCAST, and the repeat fan-out is a JVM
    sequence/explode — no per-row Python anywhere. A second
    hashpartitioning exchange or a SortMergeJoin here would mean the
    few-row plan was being shuffled like a fact table."""
    plan = plan_of(spark, "mixture_sample_documents", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    hash_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 1, plan  # the domain-count agg only
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # map-side partial on the count agg
    assert plan.count("HashAggregate") >= 2, plan


def test_cap_per_group_prefilter_plan_shape(spark):
    """cap_per_group tier='prefilter' (the r11 catalog probe): the
    per-group counts join back via an explicit BROADCAST (a
    SortMergeJoin here would shuffle the corpus on the group key —
    exactly what the prefilter exists to avoid paying twice), and the
    returned frame's ranking window reads the localCheckpoint of the
    prefiltered survivors, NOT a re-derived scan+join lineage — so the
    guarantee check and the final window share one materialization
    (ADVICE r10). r14 (guarantee-check contract v2): the returned
    plan carries the plan-level guard — a Union whose second branch
    is the JOIN-FREE tally aggregation ending in the raise_error
    Filter; the guard adds exactly one more group-key exchange (the
    tally agg, map-side partial) and no join of any kind."""
    plan = plan_of(spark, "cap_per_group_docs", mode="simple")
    assert "ExistingRDD" in plan, plan
    # the checkpoints ARE the inputs: no parquet re-scan, no join
    # survives in the post-checkpoint plan — the residual cost is one
    # group-key exchange for the ranking window plus one for the
    # guard's tally aggregation, and nothing else
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan
    assert "Union" in plan and "raise_error" in plan, plan
    assert "bloom" not in plan.lower(), plan  # guard must stay join/bloom-free
    hash_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 2 and all("lang" in ln for ln in hash_ex), plan
    # and the pre-checkpoint lineage joined via BROADCAST: pin it on
    # the operator itself by capturing the join plan before the
    # checkpoint boundary (margin generous so the probe corpus passes)
    from unittest.mock import patch

    from gus_spark.operators.mixing import cap_per_group
    from gus_spark.queries import table

    d = table(spark, SF_DIR, "documents")
    # Spark 4: instances are pyspark.sql.classic.dataframe.DataFrame,
    # which overrides the abstract base — patch the concrete class
    cls = type(d)
    captured: list[str] = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(plan_of(spark, self, mode="simple"))
        return orig(self, eager=eager)

    with patch.object(cls, "localCheckpoint", spy):
        cap_per_group(
            d, group_col="lang", max_rows=100, tier="prefilter"
        ).count()
    # two checkpoints by design: the per-group counts (shared by the
    # broadcast side and the guarantee check — one input scan) and the
    # prefiltered survivors; the survivor plan joins via BROADCAST
    assert len(captured) == 2, len(captured)
    counts_plan, pre_plan = captured
    assert "BroadcastHashJoin" not in counts_plan  # it's the agg side
    assert "BroadcastHashJoin" in pre_plan, pre_plan
    assert all("SortMergeJoin" not in p for p in captured)


def test_assemble_token_sequences_single_exchange(spark):
    """assemble_token_sequences (r11): the chunk encode rides the
    input scan (one Arrow eval, pre-shuffle) and the ONLY exchange is
    the (shard, seq_id) assembly aggregation — spans/tensor folds are
    expression-level over the collected structs, adding no shuffle,
    no window, no second Python pass."""
    from gus_spark.operators.bpe import (
        bpe_base_symbols,
        bpe_fit,
        bpe_vocab,
    )
    from gus_spark.operators.chunk import assemble_token_sequences
    from gus_spark.queries import table

    d = table(spark, SF_DIR, "documents").limit(50)
    merges = bpe_fit(d, num_merges=4, merge_batch=2)
    vocab = bpe_vocab(merges, bpe_base_symbols(d))
    packed = spark.createDataFrame(
        [
            (i, 0, f"tok{i} tok{(i + 1) % 5}", 2, i % 2, i // 2)
            for i in range(12)
        ],
        "doc_id long, chunk_index int, chunk_text string, "
        "n_chunk_tokens long, shard long, seq_id long",
    )
    plan = plan_of(
        spark,
        assemble_token_sequences(packed, merges, vocab),
        mode="simple",
    )
    hash_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 1, plan
    assert "shard" in hash_ex[0] and "seq_id" in hash_ex[0], plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Window" not in plan, plan


def test_phrase_match_pushes_terms_no_cartesian(spark):
    """phrase_match_docs: r14 expression form — the short-phrase match
    is pure per-doc column arithmetic over the token array (indexed
    transform + intersect), so the plan has NO exchange of any kind,
    no Generate/posexplode, no join (a fortiori no CartesianProduct),
    and the final top-k is a TakeOrderedAndProject, not a global
    sort. One corpus scan total."""
    plan = plan_of(spark, "phrase_match_docs")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    import re

    # one scan node (formatted output repeats it in the details block)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
