"""Plan-quality regression tests (SURVEY.md §4 / the 100 TB stance):
predicate pushdown reaches the parquet scan, column pruning holds, dimension
joins broadcast instead of shuffling, and aggregations keep map-side partial
aggregation. These assert on .explain output so a plan regression fails CI
even while results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from nilm_data_framework_spark.materialize import recording
from nilm_data_framework_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

SPECS = all_queries()


def _plan(spark, name: str) -> str:
    df = SPECS[name].spark(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _segment_plans(df, cuts) -> list[tuple[str, str, str, list[str]]]:
    """(label, formatted physical plan, analyzed logical string,
    window-walk hits) for a frame and for every frame a checkpoint or pin
    cut while it was built (``cuts``, from ``materialize.recording``): the
    final plan stops at each cut's ``Scan ExistingRDD``, so the guards
    read the segments behind the cuts too."""
    out = []
    for label, seg in [("final", df)] + [(f"segment {i}", c) for i, c in enumerate(cuts)]:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            seg.explain("formatted")
        qe = seg._jdf.queryExecution()
        out.append(
            (
                label,
                buf.getvalue(),
                qe.analyzed().toString(),
                _unbounded_global_windows(qe.sparkPlan()),
            )
        )
    return out


@pytest.fixture(scope="module")
def plan_corpus(spark):
    """ONE build of every registered query, shared by the three all-registry
    guards (cartesian, broadcast-hint, unpartitioned-window). Building a
    query is the expensive part — checkpointing queries run real jobs — and
    the guards used to pay it three times over (r10: 760 s of the driver's
    pytest budget, the VERDICT item-1 tests_ok breach). Each entry is the
    :func:`_segment_plans` list of the query's final frame and of every
    segment its checkpoints hide."""
    corpus = {}
    for name in SPECS:
        with recording() as cuts:
            df = SPECS[name].spark(spark, SF_DIR)
        corpus[name] = _segment_plans(df, cuts)
    return corpus


def test_forecast_revenue_pushes_all_filters(spark):
    plan = _plan(spark, "forecast_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters line — scan not receiving predicates"
    line = pushed[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity", "GreaterThanOrEqual", "LessThan"):
        assert frag in line, f"{frag} missing from PushedFilters: {line}"


def test_forecast_revenue_prunes_columns(spark):
    plan = _plan(spark, "forecast_revenue")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 4 needed columns of 11 — pruning must hold
    assert read.count(":") <= 5, f"scan reads too many columns: {read}"
    assert "l_returnflag" not in read


def test_star_joins_broadcast_not_shuffle(spark):
    # Hinted fixed-size dims must broadcast in the static plan.
    for name in ("metadata_enrichment", "device_type_lookup"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dim join is not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected shuffle join"


def test_unhinted_joins_still_broadcast_at_small_scale(spark):
    # shipping_priority / local_supplier_volume / large_volume_orders carry
    # NO forced broadcast on sf-scaled relations (customer, supplier-derived
    # dims) — the hint would OOM at sf100. At test scale the sides are tiny,
    # so the static threshold or AQE must still pick broadcast joins: assert
    # on the executed (AQE-final) plan.
    for name in ("shipping_priority", "local_supplier_volume", "large_volume_orders"):
        df = SPECS[name].spark(spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
        # section — only the Final Plan reflects runtime join selection.
        final = executed.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final, f"{name}: no broadcast at tiny scale"
        assert "SortMergeJoin" not in final, f"{name}: shuffle join at tiny scale"


# Tables whose row count scales with the scale factor. A forced broadcast
# hint over any of these is a 100 TB OOM; marker columns identify them in
# the analyzed-plan text.
_SF_SCALED_MARKERS = (
    "c_custkey#", "o_orderkey#", "l_orderkey#", "s_suppkey#", "ps_partkey#",
    "p_partkey#", "event_id#", "doc_id#", "vec_id#",
)


def _limit_bounds_subtree(prefix: str) -> bool:
    """A GlobalLimit bounds the hinted side to a query constant (e.g. the
    top-V vocab in oov_rate) — equally scale-safe, but ONLY if every node
    between the hint and the limit is a row-non-increasing unary op: a
    Join/Union/Generate above the limit could re-inflate the hinted side
    past the bound."""
    import re

    for ln in prefix.splitlines():
        mm = re.search(r"\+- (\w+)", ln)
        if not mm:
            continue
        node = mm.group(1)
        if node == "GlobalLimit":
            return True
        if node not in ("Project", "Filter", "Sort", "LocalLimit"):
            return False
    return False


def _sf_scaled_broadcast_hints(analyzed: str) -> list[str]:
    """Leaves of broadcast-hinted subtrees over an sf-scaled relation in an
    analyzed logical plan. For each broadcast ResolvedHint, the hinted
    subtree's leftmost leaf relation must not be an sf-scaled table or a
    derivation of one. Fixed-size dims (nation, region, literal dims,
    centroids) are the only legitimate hint targets."""
    import re

    hits = []
    for chunk in analyzed.split("ResolvedHint")[1:]:
        if "strategy=broadcast" not in chunk.split("\n", 1)[0]:
            continue
        # leftmost leaf of the hinted subtree = first relation mention
        m = re.search(r"(Relation|LocalRelation|LogicalRDD)[^\n]*", chunk)
        leaf = m.group(0) if m else ""
        # A global (groupless) aggregate between hint and leaf bounds the
        # hinted side to one row — safe to broadcast at any scale.
        # (global aggregates print a single expression list — no
        # "], [" grouping/aggregate separator)
        prefix = chunk[: m.start()] if m else ""
        if re.search(r"Aggregate \[(?![^\n]*\], \[)", prefix):
            continue
        if _limit_bounds_subtree(prefix):
            continue
        # A literal primary-key slice (vec_id < 8 — the ANN query-probe
        # pattern) bounds the hinted side to a query constant: dense
        # synthetic ids make `pk < N` an N-row cap. Only the comparison-
        # to-literal form qualifies; joins/ranges over sf-scaled keys
        # don't.
        if re.search(
            r"Filter \(vec_id#\d+L? < (\d+|cast\(\d+ as bigint\))\)", prefix
        ):
            continue
        if any(mk in leaf for mk in _SF_SCALED_MARKERS):
            hits.append(leaf[:200])
    return hits


def test_no_broadcast_hint_over_sf_scaled_relation(spark, plan_corpus):
    # Global guard (VERDICT r1 item 1): walk the analyzed logical plan of
    # every registered query and of every segment behind its checkpoints.
    for name in SPECS:
        for label, _, analyzed, _ in plan_corpus[name]:
            hit = _sf_scaled_broadcast_hints(analyzed)
            assert not hit, (
                f"{name} ({label}): broadcast hint over sf-scaled relation: {hit[0]}"
            )


def test_aggregations_are_partial(spark):
    # partial (map-side) aggregation before the exchange: HashAggregate
    # appears at least twice (partial + final) in grouped-agg plans
    for name in ("pricing_summary", "channel_stats", "resample_300s_mean"):
        plan = _plan(spark, name)
        assert plan.count("HashAggregate") >= 2, f"{name}: no partial aggregation"


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "topk_by_value")
    assert "TakeOrderedAndProject" in plan, "top-k should plan as TakeOrderedAndProject"


def test_whole_stage_codegen_present(spark):
    # AQE hides codegen markers until execution: run the query, then read
    # the executed plan
    for name in ("pricing_summary", "aggregate_from_appliances"):
        df = SPECS[name].spark(spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        # codegen stages print as "*(n) Operator" in the executed plan
        assert "*(" in executed, f"{name}: expression work left interpreted"


@pytest.mark.parametrize("name", ["pricing_summary", "label_filter"])
def test_single_shuffle_for_single_groupby(spark, name):
    plan = _plan(spark, name)
    # one logical shuffle for one groupBy: count Exchange operator headers
    # ("(5) Exchange"), which excludes Reused/Broadcast/AQE mentions
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) <= 1, f"{name}: extra shuffles\n{plan[:800]}"


def test_range_join_broadcasts_interval_dim(spark):
    # the interval side must broadcast (BroadcastNestedLoopJoin), never a
    # cartesian product or a shuffled join
    plan = _plan(spark, "range_join_campaigns")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_never_sort_merge_or_cartesian(spark):
    plan = _plan(spark, "minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "banded self-join should hash/broadcast"


def test_multimodal_is_narrow(spark):
    # mapInPandas decode must not introduce a shuffle beyond the input scan
    import re

    for name in ("multimodal_features", "multimodal_frame_sample"):
        plan = _plan(spark, name)
        exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
        assert len(exchanges) <= 1, f"{name}: decode shuffled\n{plan[:600]}"


def test_asof_join_single_shuffle(spark):
    import re

    plan = _plan(spark, "asof_join_last_purchase")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) <= 1, "as-of should be one shuffle (union+carry-forward)"


def test_no_query_plans_cartesian(spark, plan_corpus):
    # global guard: no registered query may plan a cartesian product, in
    # its final plan or in any segment behind its checkpoints
    for name in SPECS:
        for label, plan, _, _ in plan_corpus[name]:
            assert "CartesianProduct" not in plan, (
                f"{name} ({label}) plans a cartesian product"
            )


def test_oov_vocab_membership_join_broadcasts(spark):
    # the top-V vocab is limit-bounded → its broadcast hint must land as a
    # BroadcastHashJoin; the occurrence side is never shuffled for the
    # membership test
    plan = _plan(spark, "oov_rate")
    assert "BroadcastHashJoin" in plan, "vocab membership join is not broadcast"


def test_incremental_lsh_join_is_equi(spark):
    # Candidate generation must be the (band, bucket) equi-join — a nested
    # loop or cartesian here would be the N² the LSH exists to avoid. The
    # operator checkpoints its result (its .explain is just a Scan
    # ExistingRDD — no join node can appear), so the assertions read every
    # segment the build cut.
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with recording() as cuts:
        out = D.minhash_lsh_join(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
            jaccard_threshold=0.5,
        )
    plans = [plan for _, plan, _, _ in _segment_plans(out, cuts)]
    # the segments must actually contain hash-joinable equi-joins...
    assert any("SortMergeJoin" in p or "BroadcastHashJoin" in p for p in plans), (
        "no LSH-join segment shows an equi-join node — recording missed a cut?"
    )
    # ...and never a quadratic fallback
    for plan in plans:
        assert "BroadcastNestedLoopJoin" not in plan, "incremental LSH join fell back to NLJ"
        assert "CartesianProduct" not in plan, "incremental LSH join plans a cartesian"


def test_segment_guards_catch_a_cartesian_behind_a_checkpoint(spark):
    # the cut hides the cartesian from the final plan; the segment the
    # recording keeps still shows it
    from nilm_data_framework_spark.materialize import checkpoint

    with recording() as cuts:
        out = checkpoint(
            spark.range(3).hint("shuffle_replicate_nl").crossJoin(
                spark.range(3).withColumnRenamed("id", "id2")
            )
        )
    (_, final, _, _), *segments = _segment_plans(out, cuts)
    assert "CartesianProduct" not in final
    assert [label for label, plan, _, _ in segments if "CartesianProduct" in plan] == [
        "segment 0"
    ]


def test_segment_guards_catch_a_broadcast_hint_behind_a_checkpoint(spark):
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.materialize import checkpoint
    from nilm_data_framework_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents", parallelize=True)
    with recording() as cuts:
        out = checkpoint(
            spark.range(3)
            .withColumnRenamed("id", "doc_id")
            .join(F.broadcast(docs), "doc_id")
        )
    (_, _, final, _), *segments = _segment_plans(out, cuts)
    assert not _sf_scaled_broadcast_hints(final)
    assert [label for label, _, analyzed, _ in segments if _sf_scaled_broadcast_hints(analyzed)] == [
        "segment 0"
    ]


def test_registry_contract():
    # every query: unique name (dict guarantees), a survey_ref, and an
    # oracle that is either None (rows-only, must be tagged) or SQL text
    for name, spec in SPECS.items():
        assert spec.survey_ref, f"{name}: missing survey_ref"
        if spec.oracle is None:
            assert "rows_only" in (spec.tags or ()), f"{name}: untagged rows-only"
        else:
            assert "SELECT" in spec.oracle.upper(), f"{name}: oracle not SQL"


def test_entry_module_contract():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 75
    assert all(callable(f) for f in qs.values())


def test_queries_run_on_caller_built_session(spark):
    # the driver passes ITS OWN SparkSession — load_table must self-provision
    # the nanosAsLong + UTC confs rather than assume our session factory.
    # Simulate by clearing them on the shared session and reading events.
    from nilm_data_framework_spark.sources.testdata import load_table
    from tests.conftest import SF_DIR

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, SF_DIR, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_mixture_sample_is_narrow(spark):
    # stratified hash sampling must not move data: a when-chain over an md5
    # fraction is a pure filter+project — a hash/range exchange means someone
    # turned the rate table into a join. (The loader's RoundRobin repartition
    # for tiny single-file scans is a test-harness artifact, not a shuffle
    # the operator asked for.)
    plan = _plan(spark, "mixture_sample")
    assert "Arguments: hashpartitioning" not in plan
    assert "Arguments: rangepartitioning" not in plan


def test_sequence_packing_single_shuffle(spark):
    # one prefix-sum window per shard: exactly one hash-partitioned exchange.
    plan = _plan(spark, "sequence_packing")
    n = plan.count("Arguments: hashpartitioning")
    assert n == 1, f"sequence_packing should shuffle once, saw {n}"
    assert "Arguments: rangepartitioning" not in plan  # no global sort


def test_pq_scan_never_shuffles_corpus(spark):
    # ADC scoring joins the broadcast query side against the coded corpus:
    # the corpus must stream (broadcast NLJ / broadcast hash), never
    # sort-merge — a corpus shuffle defeats the compressed-scan design.
    for name in ("pq_topk", "pq_topk_rerank"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, f"{name} shuffles the corpus"


def test_interpolation_reuses_partitioning(spark):
    # grid build + neighbor-carry windows are all keyed on user_id: the two
    # window passes must not introduce extra hash exchanges beyond the
    # initial bucket agg + grid/bucket join pair.
    plan = _plan(spark, "resample_interpolated")
    n = plan.count("Arguments: hashpartitioning")
    assert n <= 4, f"resample_interpolated shuffles {n}×, expected ≤4"


def test_subquery_shapes_decorrelate(spark):
    # Catalyst must rewrite the subquery family into joins — a surviving
    # per-row subquery node would re-execute the inner query per outer row.
    S = SPECS

    def opt(name):
        df = S[name].spark(spark, SF_DIR)
        return df._jdf.queryExecution().optimizedPlan().toString()

    q17 = opt("small_quantity_revenue")
    # correlated scalar avg → grouped aggregate joined back on the key
    assert "Aggregate [l_partkey" in q17, "Q17 scalar subquery not decorrelated"
    assert "Join Inner" in q17
    assert "Subquery" not in q17, "per-row subquery survived optimization"

    assert "Join LeftSemi" in opt("late_shipment_priority"), "EXISTS not a semi join"
    lapsed = opt("lapsed_rich_customers")
    assert "Join LeftAnti" in lapsed, "NOT EXISTS not an anti join"


def test_boilerplate_aggregates_on_hash(spark):
    # frequency counting happens on the 8-byte gram hash with map-side
    # partial aggregation; the gram strings never cross an exchange.
    plan = _plan(spark, "boilerplate_phrases")
    assert plan.count("HashAggregate") >= 2, "no partial aggregation on gram hash"
    assert "CartesianProduct" not in plan
    cov = _plan(spark, "boilerplate_doc_ratio")
    assert "CartesianProduct" not in cov


def test_semantic_dedup_pairs_form_within_clusters(spark):
    # the pair join must be keyed on cid (k-means blocking) — never a
    # cartesian across the corpus; assignment itself adds no exchange
    # before the pair join's.
    plan = _plan(spark, "semantic_dedup_survivors")
    assert "CartesianProduct" not in plan, "SemDeDup pairs crossed the corpus"


def test_reservoir_single_shuffle(spark):
    # bottom-k per stratum: one hash exchange on the stratum key, then a
    # per-partition rank filter. A range exchange would mean a global sort.
    plan = _plan(spark, "reservoir_per_key")
    n = plan.count("Arguments: hashpartitioning")
    assert n == 1, f"reservoir should shuffle once, saw {n}"
    assert "Arguments: rangepartitioning" not in plan


def _n_nodes(plan: str, node: str) -> int:
    # formatted explain prints each node twice (tree + detail); count the
    # numbered detail headers only.
    import re

    return len(re.findall(rf"\(\d+\) {node}\b", plan))


def test_bpe_pair_counts_single_agg_no_join(spark):
    # Tokenizer pair counting must be explode + ONE partial+final hash agg:
    # no join, no window — reducer skew bounded by map-side combine. (The
    # second exchange is the small-file parallelize repartition, not part of
    # the aggregation shape.)
    plan = _plan(spark, "bpe_pair_counts")
    assert "Join" not in plan and "Window" not in plan
    assert _n_nodes(plan, "Exchange") <= 2, "pair counting should shuffle once post-scan"


def test_unigram_surprisal_broadcasts_only_corpus_total(spark):
    # The 1-row corpus total is the ONLY forced broadcast; the vocab join
    # (grows with the corpus) must stay AQE-decided, not hint-broadcast.
    plan = _plan(spark, "unigram_surprisal_score")
    assert _n_nodes(plan, "BroadcastNestedLoopJoin") == 1  # crossJoin(total)


def test_scd2_single_shuffle_per_key(spark):
    # Both window passes (lag for run starts, lead for valid_to) must share
    # the user_id partitioning: one exchange, not one per window.
    plan = _plan(spark, "scd2_user_intervals")
    assert _n_nodes(plan, "Window") == 2
    assert _n_nodes(plan, "Exchange") == 1, "SCD2 windows should reuse one shuffle"


def test_hard_negatives_corpus_never_shuffled(spark):
    # Anchor side broadcasts; the corpus is scanned once and only shuffles
    # for the per-anchor top-k window (bounded by n_anchors, not corpus).
    plan = _plan(spark, "hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_one_window_no_join(spark):
    # Span dedup = explode + ONE window on span content + final agg: the
    # shuffle bound must match exact whole-doc dedup (no joins anywhere).
    plan = _plan(spark, "span_dedup_summary")
    assert "Join" not in plan
    assert _n_nodes(plan, "Window") == 1


def test_snapshot_diff_moves_only_hashes(spark):
    # The full-outer CDC join must carry (key, 16-byte hash) only — no
    # content column may reach the exchange.
    plan = _plan(spark, "snapshot_diff_orders")
    assert _n_nodes(plan, "SortMergeJoin") + _n_nodes(plan, "ShuffledHashJoin") == 1
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("o_comment" not in l for l in read), "content columns not pruned"


def test_quality_classifier_is_map_only(spark):
    plan = _plan(spark, "quality_classifier")
    assert _n_nodes(plan, "Exchange") <= 1  # only the small-file parallelize
    assert "Join" not in plan and "Window" not in plan


def test_bucketed_range_join_is_equi_join(spark):
    # The scale-path range join must plan as an EQUI join on the grid cell
    # (hash/broadcast-hash), never a nested loop or cartesian — that's its
    # entire reason to exist next to the broadcast-NLJ form.
    plan = _plan(spark, "range_join_campaigns_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_fuzzy_pairs_block_before_verify(spark):
    # Candidates must form via an equi-join on the block key; Levenshtein
    # runs as a post-join filter — never a cross product.
    plan = _plan(spark, "fuzzy_part_names")
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan.lower()


def test_m4_single_exchange_four_sorts(spark):
    # All four role ranks share the (key, bucket) partitioning: ONE hash
    # exchange with the sorts chained — never a 4-branch union re-scanning
    # and re-shuffling the input per role.
    plan = _plan(spark, "m4_downsample")
    assert _n_nodes(plan, "Exchange") == 1
    assert "Union" not in plan


def test_bloom_probe_no_self_join_no_cartesian(spark):
    # The probe joins positions against the <=m-row bit table and the exact
    # screen joins grams — both equi-joins; the corpus must never self-join
    # or plan a nested loop.
    plan = _plan(spark, "bloom_decontamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_no_forced_broadcast_of_rank_vector(spark):
    # The rank/out-degree frames grow with the graph — their joins must be
    # AQE-decided equi-joins; only the 1-row N/dangling aggregates may
    # broadcast-nested-loop (crossJoin of scalars).
    plan = _plan(spark, "pagerank_step")
    assert "CartesianProduct" not in plan
    # 5 BNLJ = the 1-row scalar crossJoins (N appears 3x across the uniform
    # start vector, the final assembly, and the query's xN rescale; dangling
    # mass + its inner N make the rest). Anything above that means a real
    # relation slipped into a nested loop.
    bnlj = _n_nodes(plan, "BroadcastNestedLoopJoin")
    assert bnlj <= 5, f"only scalar crossJoins may be BNLJ, saw {bnlj}"
    # the rank/contribution joins themselves must be equi-joins
    assert (
        _n_nodes(plan, "BroadcastHashJoin")
        + _n_nodes(plan, "SortMergeJoin")
        + _n_nodes(plan, "ShuffledHashJoin")
        >= 2
    )


def test_sweepline_no_range_join(spark):
    # The whole point: interval overlap WITHOUT an interval join. One
    # union of deltas, one agg, one window — no join of intervals at all
    # beyond the final peak+count assembly on the 5-row group dim.
    plan = _plan(spark, "concurrency_peaks")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _n_nodes(plan, "Window") == 1


def test_sign_words_projection_is_narrow(spark):
    # Sign-word packing must not shuffle: the Hamming scan is the corpus
    # scan + broadcast of the query side.
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators import similarity as S
    from nilm_data_framework_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = emb.select(S.sign_words(F.col("embedding"), 64).alias("w"))
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert _n_nodes(plan, "Exchange") == 0


def test_constraint_suite_single_scan_for_agg_metrics(spark):
    # The five single-pass metrics must share ONE aggregation over orders;
    # only the FK check adds a second scan + anti-join.
    plan = _plan(spark, "constraint_suite_report")
    assert plan.count("orders.parquet") <= 2  # one metrics scan + one FK scan
    assert _n_nodes(plan, "BroadcastHashJoin") + _n_nodes(plan, "SortMergeJoin") + _n_nodes(plan, "ShuffledHashJoin") >= 1


# --- round-4 batch 7-9 plan claims (SCALE.md rows) ----------------------------


def test_rolling_hour_sum_single_exchange(spark):
    # the time-RANGE window claim: ONE hash exchange on user_id serves the
    # whole frame; no join, no extra shuffle
    plan = _plan(spark, "rolling_hour_sum")
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, (
        f"rolling_hour_sum should shuffle exactly once (user_id), saw "
        f"{len(shuffles)}"
    )
    assert "Join" not in plan


def test_three_step_funnel_single_window_exchange(spark):
    # three chained conditional window minima must share ONE user_id
    # exchange (the scd2 lag+lead trick) — a second hash exchange before
    # the final 1-row aggregate means Catalyst stopped merging them
    plan = _plan(spark, "three_step_funnel")
    import re

    hash_exchanges = re.findall(r"Arguments: hashpartitioning\(user_id", plan)
    assert len(hash_exchanges) == 1, (
        f"funnel windows should share one user_id exchange, saw "
        f"{len(hash_exchanges)}"
    )
    assert "Join" not in plan, "funnel must not plan step-to-step joins"


def test_association_rules_topk_no_global_sort(spark):
    plan = _plan(spark, "association_rules")
    assert "TakeOrderedAndProject" in plan, "top-k by lift should avoid a global sort"


def test_dataset_manifest_pure_aggregation(spark):
    # one partial+final agg: no sort, no window, no join anywhere
    plan = _plan(spark, "dataset_manifest")
    for bad in ("Sort", "Window", "Join"):
        assert bad not in plan, f"manifest plan contains {bad}"
    assert "HashAggregate" in plan


# --- round-5 plan claims ------------------------------------------------------


def test_seasonal_decompose_trend_single_exchange(spark):
    # the scale-correct shape is exactly TWO exchanges: (event_type, h) for
    # the map-side-combined hourly reduction over raw events, then ONE
    # event_type exchange for the ±12h RANGE trend window — and the final
    # hour-of-day profile agg must REUSE the window's partitioning
    # (hashpartitioning(event_type) clusters (event_type, hod)), adding none
    plan = _plan(spark, "seasonal_decompose_daily")
    import re

    exchanges = re.findall(r"Arguments: hashpartitioning\(([^,)]+)", plan)
    assert [e.split("#")[0] for e in exchanges] == ["event_type", "event_type"], (
        f"expected [agg (event_type,h), window (event_type)] only, saw "
        f"{exchanges}"
    )
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2
    assert "Join" not in plan, "decomposition must not self-join the series"


def test_lsh_reference_corpus_side_never_shuffles(spark, tmp_path):
    # The persisted incremental-LSH layout (operators/dedup.py::
    # write_lsh_reference): bucketed-by-join-key reference tables must feed
    # both per-batch joins WITHOUT an Exchange on the corpus side — the
    # whole point of persisting the layout. Assert per-join with broadcast
    # disabled so bucketing (not AQE smallness) is what saves the shuffle.
    import re

    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators import dedup as D
    from nilm_data_framework_spark.sources.testdata import load_table

    # no .limit() here: GlobalLimit plans its own single-partition Exchange,
    # which would pollute the exchange counts below (sf0.001 docs are small)
    docs = load_table(spark, SF_DIR, "documents")
    prefix = "t_lsh_ref_plan"
    D.write_lsh_reference(
        docs.filter(F.col("doc_id") % 5 != 0), prefix,
        buckets=4, path=str(tmp_path / "ref"),
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ref_banded, ref_hs, meta = D.read_lsh_reference(spark, prefix)
        assert meta["seed"] == 42 and meta["bands"] == 4

        def n_exchanges(df):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return len(re.findall(r"\(\d+\) Exchange\b", buf.getvalue()))

        # corpus-side-only probe: agg on the bucket keys needs NO exchange
        assert n_exchanges(ref_banded.groupBy("band", "bucket").count()) == 0

        # candidate join: exactly ONE exchange — the new batch being
        # repartitioned into the reference's bucketing
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        banded_new = D._banded(D._hashed_shingles(batch))
        cand = banded_new.withColumnRenamed("id", "new_id").join(
            ref_banded, ["band", "bucket"]
        )
        assert n_exchanges(cand) == 1, "corpus side of candidate join shuffled"

        # verify join: the (id, hs) lookup against the reference is also
        # exchange-free on the corpus side (bucketed+aliased by id)
        probe_ids = ref_banded.filter(F.col("band") == 0).select(
            F.col("id").alias("ref_id")
        )
        verify = probe_ids.join(
            ref_hs.select(F.col("id").alias("ref_id"), "hs"), "ref_id"
        )
        assert n_exchanges(verify) == 1, "corpus side of verify join shuffled"

        # end-to-end: the reference-driven screen equals the on-the-fly one
        got = D.minhash_lsh_join_reference(batch, prefix).collect()
        want = D.minhash_lsh_join(
            batch, docs.filter(F.col("doc_id") % 5 != 0)
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        for s in ("buckets", "hs", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def test_grouping_sets_single_scan_expand(spark):
    # the non-hierarchical margins must come from ONE scan + Expand + one
    # partial/final aggregate pair — not a union of per-margin scans
    plan = _plan(spark, "grouping_sets_mix")
    import re

    # formatted explain lists each node in the tree AND the details section;
    # count detail headers only
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, "grouping sets re-scans the fact table"
    assert "Expand" in plan
    assert "Union" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)) == 1


def test_null_safe_join_is_hash_keyed(spark):
    # EqualNullSafe must act as a JOIN KEY (hash/SMJ), never degrade to a
    # nested-loop predicate
    plan = _plan(spark, "null_safe_join_rates")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_disjunctive_revenue_pushes_per_side_predicates(spark):
    # TPC-H Q19 shape: the 3-branch OR references columns of BOTH join
    # sides; Catalyst must extract the per-side implied disjunctions and
    # push them into each parquet scan (not evaluate the whole OR only
    # post-join over full scans).
    plan = _plan(spark, "disjunctive_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), (
        "lineitem scan did not receive the extracted quantity disjunction"
    )
    assert any("p_brand" in l and "Or(" in l for l in pushed), (
        "part scan did not receive the extracted brand/size disjunction"
    )


def test_returned_items_topk_no_global_sort(spark):
    # Q10 shape: ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a
    # global Sort materialization (rangepartitioning exchange).
    plan = _plan(spark, "returned_items_top")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_promotion_suppliers_reuses_partkey_exchange(spark):
    # Q20 shape decorrelated: sp (supp,part) aggregate -> per-part total ->
    # join back on partkey. sp is checkpointed (it feeds both
    # branches), so the lineitem⋈part subtree must appear as checkpoint
    # scans, NOT as re-derived parquet scans — only supplier reads parquet.
    import re

    plan = _plan(spark, "promotion_suppliers")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(scans) == 1, f"expected only the supplier parquet scan, got {len(scans)}"


def test_sole_return_suppliers_single_lineitem_shuffle_key(spark):
    # Q21 decorrelated: the EXISTS/NOT-EXISTS pair is one per-order
    # distinct-count aggregate; the plan must be equi-join only.
    plan = _plan(spark, "sole_return_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_injected(spark):
    # 100 TB scan-reduction showcase: the lineitem side of the urgent-order
    # join must carry an injected might_contain(bloom, xxhash64(l_orderkey))
    # filter (InjectRuntimeFilter), pruning fact rows BEFORE the shuffle.
    # operators/runtime_filters.py scopes the size gates down for exactly
    # this plan; the session confs must come back untouched.
    app_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    bc_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    plan = _plan(spark, "runtime_filter_pruned_join")
    assert "might_contain" in plan, "runtime bloom filter was not injected"
    assert "xxhash64" in plan
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ) == app_thr, "application-side threshold leaked"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == bc_thr, (
        "broadcast threshold leaked"
    )


def test_topk_per_group_uses_window_group_limit(spark):
    # rank <= k must plan as WindowGroupLimit (map-side + final), never a
    # full per-group rank materialization.
    plan = _plan(spark, "topk_per_group_limit")
    assert "WindowGroupLimit" in plan, "rank-limit pushdown missing"


def test_ivf_persisted_scan_partition_pruned(spark):
    # the probed centroid ids must reach the corpus scan as PARTITION
    # filters (the corpus is written partitioned by cid) — probing n_probe
    # of n_centroids lists reads only those directories.
    plan = _plan(spark, "ivf_topk_persisted")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters line — cid partitioning not applied"
    assert any("cid" in l and ("In(" in l or "IN" in l) for l in pf), (
        f"cid probe-set filter missing from partition filters: {pf}"
    )
    # with unique vec_ids every (query_id, match_id) pair meets in exactly
    # one cid, so neither IVF top-k (persisted: ivf_topk_partitioned; in
    # memory: ivf_topk) may run a pair-dedup aggregate in its executed plan
    import re

    for name in ("ivf_topk_persisted", "cosine_topk_ivf"):
        df = SPECS[name].spark(spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        pair_aggs = [
            l
            for l in executed.splitlines()
            if "Aggregate" in l
            and (m := re.search(r"keys=\[([^\]]*)\]", l))
            and "query_id" in m.group(1)
            and "match_id" in m.group(1)
        ]
        assert not pair_aggs, f"{name}: (query_id, match_id) dedup aggregate: {pair_aggs}"


def test_gram_matrix_join_free_single_agg_exchange(spark):
    # the d² expansion must come from two CHAINED Generates on the same
    # row (no self-join), and the only shuffles are the parallelize
    # repartition + ONE aggregation exchange.
    import re

    plan = _plan(spark, "embedding_gram_matrix")
    assert "Join" not in plan, "gram matrix must not self-join"
    assert len(re.findall(r"^\(\d+\) Generate", plan, flags=re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) <= 2


def test_inverted_index_single_agg_exchange(spark):
    # hash-partitioning by tok serves BOTH the (tok, doc) tf agg and the
    # per-term posting agg: exactly one agg exchange (plus the parallelize
    # repartition), and the top-k cut is TakeOrderedAndProject, not a
    # global sort.
    import re

    plan = _plan(spark, "inverted_index_stats")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) <= 2
    assert "TakeOrderedAndProject" in plan


def test_dpp_partition_pruned_join_plan(spark):
    # The deliverable of dpp_partition_pruned_join IS the plan: the fact
    # scan must carry a dynamic-pruning subquery in its PartitionFilters
    # (dim filter arrives at runtime, unprobed partition dirs never read).
    plan = _plan(spark, "dpp_partition_pruned_join")
    low = plan.lower()
    assert "dynamicpruning" in low, "no dynamic partition pruning subquery"
    assert "PartitionFilters" in plan


def test_knn_label_accuracy_broadcasts_queries(spark):
    # Query side is a bounded top-N slice — must broadcast; the corpus is
    # scanned once and never shuffled by pair.
    plan = _plan(spark, "knn_label_accuracy")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# --- global guard: no unpartitioned window over raw sf-scaled rows ------------
# (VERDICT r5 item 3: the scale-killer class. A Window with an empty
# partitionSpec plans Exchange SinglePartition → one task sorts its whole
# input, so its input must be bounded: an aggregate (support-sized), a
# TakeOrdered/limit (shortlist-sized), a WindowGroupLimit (rank-limit
# pushdown caps rows at k·partitions), a checkpointed/local relation, or a
# broadcast side. Walking the pre-AQE physical tree via py4j makes the
# check exact — partition specs, not plan-string heuristics.)

_AGG_BOUNDARY = {
    "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
}
_WINDOW_BOUNDARY = {
    "TakeOrderedAndProjectExec", "GlobalLimitExec", "CollectLimitExec",
    "RDDScanExec", "LocalTableScanExec", "WindowGroupLimitExec",
    "BroadcastExchangeExec",
}
_RAW_SCANS = {"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec"}
# r6 verdict item 5: an aggregate is a SUPPORT boundary only when its
# grouping keys plausibly have bounded domains. Grouping by a row-unique
# (or row-proportional) id column keeps the output sf-scaled — an
# unpartitioned window over THAT aggregate still sorts the corpus in one
# task. These are the fixture tables' id columns; extend when new tables
# land.
_ROW_SCALED_KEYS = {
    "doc_id", "vec_id", "event_id", "o_orderkey", "l_orderkey",
    "c_custkey", "p_partkey", "s_suppkey", "user_id", "query_id",
    "match_id",
    # timestamp-grain keys: a per-timestamp aggregate's support approaches
    # row count on high-resolution streams — the exact class the r7
    # temporal_embargo_split rewrite removed. A BOUNDED per-timestamp
    # support (one bucket's worth, like splits.py's refinement stage) must
    # make its boundedness explicit via a checkpoint boundary.
    "us", "_us", "ts", "_ts",
}


def _unbounded_global_windows(plan) -> list[str]:
    def simple(n):
        return n.getClass().getSimpleName()

    def kids(n):
        ch = n.children()
        return [ch.apply(i) for i in range(ch.size())]

    def agg_is_row_scaled(n) -> bool:
        # grouping keys come back as expression strings like
        # "doc_id#123L"; a row-unique id among them means the agg output
        # scales with the input, so it is NOT a bounded support
        ge = n.groupingExpressions()
        for i in range(ge.size()):
            name = str(ge.apply(i)).split("#")[0].strip().lower()
            if name in _ROW_SCALED_KEYS:
                return True
        return False

    def reaches_raw_scan(n) -> bool:
        cls = simple(n)
        if cls in _WINDOW_BOUNDARY:
            return False
        if cls in _AGG_BOUNDARY and not agg_is_row_scaled(n):
            return False
        if cls in _RAW_SCANS:
            return True
        return any(reaches_raw_scan(k) for k in kids(n))

    hits: list[str] = []

    def walk(n):
        if simple(n) == "WindowExec" and n.partitionSpec().size() == 0:
            if any(reaches_raw_scan(k) for k in kids(n)):
                hits.append(str(n.windowExpression().apply(0))[:80])
        for k in kids(n):
            walk(k)

    walk(plan)
    return hits


def test_window_guard_rejects_row_unique_agg(spark):
    # r6 verdict item 5's done-criterion: an aggregate keyed by a
    # row-unique id (per-doc_id) is NOT a bounded support — a global
    # window over it must trip the guard; a bounded-domain support
    # (per-lang) stays exempt.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents", parallelize=True)
    per_doc = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    bad = per_doc.withColumn(
        "r", F.row_number().over(Window.orderBy("n", "doc_id"))
    )
    assert _unbounded_global_windows(bad._jdf.queryExecution().sparkPlan()), (
        "guard missed an unpartitioned window over a per-doc_id aggregate"
    )
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    ok = per_lang.withColumn(
        "r", F.row_number().over(Window.orderBy("n", "lang"))
    )
    assert not _unbounded_global_windows(ok._jdf.queryExecution().sparkPlan())
    # per-timestamp aggregates are row-scaled on high-resolution streams —
    # the pre-r7 temporal_embargo_split shape must also trip
    ev = load_table(spark, SF_DIR, "events").select(
        F.unix_micros("ts").alias("us")
    )
    per_us = ev.groupBy("us").agg(F.count(F.lit(1)).alias("c"))
    bad_ts = per_us.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("us").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert _unbounded_global_windows(bad_ts._jdf.queryExecution().sparkPlan()), (
        "guard missed an unpartitioned window over a per-timestamp aggregate"
    )


def test_no_unpartitioned_window_over_raw_scan(spark, plan_corpus):
    bad = {}
    for name in SPECS:
        for label, _, _, hits in plan_corpus[name]:
            if hits:
                bad[f"{name} ({label})"] = hits[0]
    assert not bad, (
        f"unpartitioned window sorts raw sf-scaled rows in one task — use "
        f"operators/scale_windows.py (bucketed_global_rank / bucketed_ntile / "
        f"exact_ranks_for_candidates): {bad}"
    )


def test_bm25_indexed_scan_partition_pruned(spark):
    # The deliverable of the persisted BM25 layout IS the plan: the
    # postings scan must carry the query terms as PartitionFilters (only
    # q term directories read) — the lexical twin of the IVF pin above.
    import os
    import tempfile

    from nilm_data_framework_spark.operators.text import (
        bm25_topk_indexed,
        write_bm25_index,
    )
    from nilm_data_framework_spark.sources.testdata import load_table
    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

    docs = load_table(spark, SF_DIR, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_idx_plan"), "idx_"
    )
    write_bm25_index(docs, path)
    df = bm25_topk_indexed(spark, path, ["vector", "join", "stream"], k=20)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("term" in l and "vector" in l for l in part), (
        f"postings scan not partition-pruned on term: {part[:3]}"
    )


def test_rag_persisted_scans_pruned(spark):
    # Judge r6 item 3's done-criterion: the persisted RAG twin's TWO index
    # scans must both be partition-pruned — query terms on the postings
    # scan, probed centroid ids on the IVF corpus scan. The builder
    # exposes the pre-checkpoint probe frames exactly for this pin.
    import contextlib
    import io

    from nilm_data_framework_spark.queries.extra_ops_r7 import (
        build_rag_persisted_frames,
    )

    frames = build_rag_persisted_frames(spark, SF_DIR)

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    bm_part = [
        l for l in fmt(frames["bm25_hits"]).splitlines() if "PartitionFilters" in l
    ]
    assert any("term" in l and "vector" in l for l in bm_part), (
        f"RAG postings scan not partition-pruned on term: {bm_part[:3]}"
    )
    ivf_part = [
        l for l in fmt(frames["ivf_probe"]).splitlines() if "PartitionFilters" in l
    ]
    assert any("cid" in l and ("In(" in l or "IN" in l) for l in ivf_part), (
        f"RAG IVF corpus scan not partition-pruned on cid: {ivf_part[:3]}"
    )


def test_ivf_filtered_scan_prunes_and_pushes(spark):
    # filtered vector search (judge r8 item 2): the metadata predicate and
    # the probe's partition filter must land on the SAME corpus scan — cid
    # isin(...) in PartitionFilters (directories pruned) AND the label
    # equality in PushedFilters (row groups skipped inside survivors).
    plan = _plan(spark, "cosine_topk_ivf_filtered")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("cid" in l and ("In(" in l or "IN" in l) for l in pf), (
        f"cid probe-set filter missing from partition filters: {pf[:3]}"
    )
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("label" in l and "EqualTo" in l for l in pushed), (
        f"label predicate not pushed into the corpus scan: {pushed[:3]}"
    )


def test_filtered_exact_scan_pushes_predicate(spark):
    # the exact filtered baseline reads the whole layout but the predicate
    # must reach the parquet reader (selectivity-scaled scan).
    plan = _plan(spark, "cosine_topk_filtered_exact")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("label" in l and "EqualTo" in l for l in pushed), (
        f"label predicate not pushed into the layout scan: {pushed[:3]}"
    )


def test_bm25_filtered_pushes_lang_predicate(spark):
    # the filter side of the lexical filtered search must reach the
    # documents scan as a pushed predicate (selectivity-scaled metadata
    # read), alongside the postings scan's term partition filter.
    plan = _plan(spark, "bm25_topk_filtered")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("lang" in l and "EqualTo" in l for l in pushed), (
        f"lang predicate not pushed into the documents scan: {pushed[:4]}"
    )
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("term" in l for l in part), (
        f"postings scan not term-partition-pruned: {part[:4]}"
    )


def test_prf_pass2_scan_partition_pruned(spark):
    # pass 2 of the PRF expansion probes exactly the 5 term directories:
    # the (base + voted) term literals must land as partition filters on
    # the postings scan.
    plan = _plan(spark, "bm25_prf_expanded_topk")
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any(
        "term" in l and ("In(" in l or "IN" in l or "EqualTo" in l) for l in part
    ), f"PRF pass-2 postings scan not term-partition-pruned: {part[:4]}"


def test_rag_cands_bound_guards_shortlist_constants():
    # The semantic-no-op limit(_RAG_CANDS_BOUND) in _rag_tail (the r9
    # cartesian fix) is a no-op ONLY while |cand_ids| ≤ bound: two exact
    # top-_RAG_SHORTLIST shortlists plus the persisted twin's
    # ≤_RAG_SHORTLIST-row IVF probe. If a future change raises the
    # shortlist without growing the bound, the limit silently DROPS
    # candidates — wrong fused ranks with no error (VERDICT r9 item 4).
    from nilm_data_framework_spark.queries.extra_ops import (
        _RAG_CANDS,
        _RAG_CANDS_BOUND,
        _RAG_SHORTLIST,
    )

    assert 3 * _RAG_SHORTLIST <= _RAG_CANDS_BOUND
    # the RRF shortlist-completeness proof (a doc outside both exact
    # top-N lists can never reach the fused top-k) must survive any
    # constant change too: 2·(1e6 div (61+N)) < 1e6 div (60+k)
    assert 2 * (10**6 // (61 + _RAG_SHORTLIST)) < 10**6 // (60 + _RAG_CANDS)
