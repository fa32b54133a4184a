"""Physical-plan regression guards: the plan *shapes* PLANS.md documents
are asserted here so a refactor can't silently reintroduce an extra
shuffle, lose filter pushdown, or drop a broadcast."""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark.operators.asof import asof_join
from monotonic_optimal_binning_spark.operators.dedup import decontaminate

SF = os.path.join(
    os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
)


def plan_of(df, mode="formatted") -> str:
    jqe = df._jdf.queryExecution()
    sess = df.sparkSession
    return sess._jvm.PythonSQLUtils.explainString(jqe, mode)


def count_exchanges(df) -> int:
    # count on the SIMPLE plan (formatted mode prints each node twice:
    # tree + details); AQE reuse nodes are not real extra shuffles, and
    # BroadcastExchange is not a shuffle
    plan = plan_of(df, "simple")
    # standalone "Exchange" only: the lookbehind excludes BroadcastExchange
    # (not a shuffle) and ReusedExchange (AQE reuse, not an extra shuffle)
    return len(re.findall(r"(?<![A-Za-z])Exchange\b", plan))


def test_asof_join_single_exchange_and_pushdown(spark):
    from monotonic_optimal_binning_spark.functions.timeutil import (
        epoch_seconds,
        pin_utc,
    )

    pin_utc(spark)
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"]
    )
    plan = plan_of(out)
    # ONE shuffle of |L|+|R| (the window partitioning) — the documented
    # lower bound; a join-based rewrite would show 2+
    assert count_exchanges(out) == 1, plan
    # the fill over the tagged union is one sort and one Window node
    simple = plan_of(out, "simple")
    assert len(re.findall(r"(?<![A-Za-z])Sort\b", simple)) == 1, simple
    assert len(re.findall(r"(?<![A-Za-z])Window\b", simple)) == 1, simple
    # both side filters reach the parquet scans
    assert plan.count("PushedFilters: [IsNotNull(event_type)") >= 2 or (
        "EqualTo(event_type,click)" in plan
        and "EqualTo(event_type,purchase)" in plan
    ), plan
    # no Python in the hot path
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_mob_fit_scan_is_column_pruned(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    df = li.select(
        F.col("l_quantity").alias("x"),
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
    )
    agg = df.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    plan = plan_of(agg)
    # the scan must read exactly the two source columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_discount"}, plan
    # partial (map-side) aggregation before the exchange
    assert re.search(r"partial_count|partial_sum", plan), plan
    assert count_exchanges(agg) == 1, plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(50), "text": [f"doc number {i} words" for i in range(50)]}
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["benchmark words here"]})
    )
    out = decontaminate(corpus, bench, shingle_size=2, shingle_unit="word")
    plan = plan_of(out)
    # the benchmark shingle set must be broadcast — a shuffled corpus-side
    # hash join here would re-shuffle the entire corpus posting list
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_token_budget_mix_has_no_per_group_global_window(spark):
    """The per-source running-token cumsum must be the grouped prefix sum
    (window by (group, hash-bucket) + tiny offsets table), NEVER a window
    partitioned by the source alone over the raw rows — that serializes
    each source's multi-TB slice into one task at corpus scale."""
    from monotonic_optimal_binning_spark.operators.sampling import (
        sample_to_token_budget,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(1000), "source": ["a"] * 500 + ["b"] * 500,
         "n_tok": [10] * 1000}
    )
    df = spark.createDataFrame(pdf)
    out = sample_to_token_budget(df, "source", "doc_id", "n_tok", {"a": 100})
    plan = plan_of(out)
    # the big cumsum window partitions by (source, bucket)
    assert re.search(
        r"windowspecdefinition\(source#\d+, __bkt#\d+, __h#", plan
    ), plan
    # no window over the raw rows keyed by source alone and ordered by the
    # row hash (the single-task-per-source shape); the only source-keyed
    # window is the offsets rollup over the tiny totals, ordered by __bkt
    assert not re.search(
        r"windowspecdefinition\(source#\d+, __h#", plan
    ), plan
    # offsets come back via broadcast, not a shuffled join
    assert "BroadcastHashJoin" in plan, plan


def test_stratified_sample_filters_before_rank_window(spark):
    """The exact row_number window must rank the bounded candidate set
    (hash < per-group threshold), not the raw group — a hot stratum would
    otherwise serialize into one task."""
    from monotonic_optimal_binning_spark.operators.sampling import (
        stratified_sample,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(1000), "source": ["a"] * 500 + ["b"] * 500}
    )
    df = spark.createDataFrame(pdf)
    out = stratified_sample(df, "source", "doc_id", 10)
    plan = plan_of(out, "simple")
    # group counts join back as a broadcast
    assert "BroadcastHashJoin" in plan, plan
    # the hash-threshold predicate sits BELOW the rank window (tree prints
    # children after parents, so its line must come later); Catalyst folds
    # it into the broadcast join condition itself
    win = plan.index("row_number()")
    m = re.search(r"(Filter|BroadcastHashJoin) .*conv\(", plan)
    assert m and m.start() > win, plan
    # Spark's rank-limit pushdown keeps only the top-n per group BEFORE the
    # window shuffle — survivors per task are bounded twice over
    assert "WindowGroupLimit" in plan, plan


def test_broadcast_dim_join_plan(spark):
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(SF, "customer.parquet"))
    out = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_nationkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    # fact side is never shuffled for the join itself: exactly the one
    # aggregate exchange
    assert count_exchanges(out) == 1, plan


def test_topk_windows_get_rank_limit_pushdown(spark):
    """The top-k family's row_number windows must keep Spark's rank-limit
    pushdown (WindowGroupLimit Partial before the shuffle + Final after):
    each map task then ships at most k rows per query, so a query's rank
    never sorts the full corpus in one task. Guards against refactors
    that break the pushdown pattern (e.g. filtering on rank != / adding
    expressions between window and filter)."""
    import numpy as np

    from monotonic_optimal_binning_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {"vec_id": range(100),
         "embedding": [v.tolist() for v in rng.normal(size=(100, 8))]}
    )
    corpus = spark.createDataFrame(pdf)
    q = spark.createDataFrame(
        pdf.head(3).rename(columns={"vec_id": "query_id"})
    )
    plan = plan_of(brute_force_topk(corpus, q, 5), "simple")
    assert plan.count("WindowGroupLimit") == 2, plan  # Partial + Final


def test_bucketed_tables_join_and_agg_without_shuffle(spark, tmp_path):
    """save_bucketed's co-location contract: two tables bucketed the same
    way (same cols, same n_buckets) merge-join with ZERO shuffle Exchange,
    and a groupBy on the bucket column aggregates without one either —
    the layout that amortizes a single bucketed write across every
    downstream key-joined consumer at 100 TB."""
    from monotonic_optimal_binning_spark.sources.tables import save_bucketed

    left = spark.range(10_000).select(
        (F.col("id") % 500).alias("user_id"), F.col("id").alias("event_id")
    )
    right = spark.range(2_000).select(
        (F.col("id") % 500).alias("user_id"), (F.col("id") * 2).alias("value")
    )
    save_bucketed(left, "bkt_left", "user_id", 8,
                  sort_cols="user_id", path=str(tmp_path / "l"))
    save_bucketed(right, "bkt_right", "user_id", 8,
                  sort_cols="user_id", path=str(tmp_path / "r"))
    try:
        lt = spark.table("bkt_left")
        rt = spark.table("bkt_right")
        joined = lt.hint("merge").join(rt, on="user_id")
        plan = plan_of(joined, "simple")
        assert count_exchanges(joined) == 0, plan
        assert "SortMergeJoin" in plan, plan
        # counts agree with the unbucketed plan (1000 right rows per 250
        # user ids x 20 left rows ... just compare against a plain join)
        assert joined.count() == left.join(right, on="user_id").count()

        agg = lt.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        assert count_exchanges(agg) == 0, plan_of(agg, "simple")
        assert agg.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_multi_horizon_single_shuffle_single_window(spark):
    """All trailing horizons ride ONE hash-partition exchange and ONE
    Window operator (shared partitioning + ordering) — adding a horizon
    must not add a shuffle or a sort."""
    from monotonic_optimal_binning_spark.functions.timeutil import pin_utc
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features,
    )

    pin_utc(spark)
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).select(
        "event_id", "user_id", "ts", "value"
    )
    out = multi_horizon_features(
        ev, "user_id", "ts", "value", [3600.0, 86400.0, 7 * 86400.0]
    )
    plan = plan_of(out, "simple")
    assert count_exchanges(out) == 1, plan
    assert plan.count("Window") == 1, plan
    assert plan.count("Sort") == 1, plan


def test_ghost_chunk_ops_scale_linearly_in_horizons(spark):
    """Ghost rows must ride a Generate, not a self-union: a union embeds
    the upstream plan (including every previous horizon's Window) into
    both branches — 3 horizons used to plan 7 Windows and 8 file scans.
    Linear shape: k Windows, k exchanges, ONE scan (left + one right
    scan per horizon for the two-table op)."""
    from monotonic_optimal_binning_spark.functions.timeutil import pin_utc
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_agg_join_bucketed,
    )
    from monotonic_optimal_binning_spark.operators.windows import (
        multi_horizon_features_bucketed,
        time_decayed_features,
    )

    pin_utc(spark)
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).select(
        "event_id", "user_id", "ts", "value"
    )
    out = multi_horizon_features_bucketed(
        ev, "user_id", "ts", "value", [3600.0, 86400.0, 7 * 86400.0]
    )
    plan = plan_of(out, "simple")
    assert plan.count("Window") == 3, plan
    assert plan.count("FileScan") == 1, plan
    assert count_exchanges(out) == 3, plan

    two = asof_agg_join_bucketed(
        ev.select("event_id", "user_id", "ts"),
        ev.select("user_id", "ts", "value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value="value",
        horizons_seconds=[3600.0, 86400.0],
    )
    plan2 = plan_of(two, "simple")
    assert plan2.count("Window") == 2, plan2
    assert plan2.count("FileScan") == 3, plan2

    dec = time_decayed_features(
        ev, "user_id", "ts", "value", [3600.0, 86400.0]
    )
    plan3 = plan_of(dec, "simple")
    assert plan3.count("Window") == 2, plan3
    assert plan3.count("FileScan") == 1, plan3


def test_unweighted_paths_carry_no_weight_plumbing(spark):
    """VERDICT r5 #1 close-out: with weight_col=None the weighted-path
    plumbing must be plan-invisible (the r5 bench drifts on
    woe_transform/bin_fit/asof_join were hypervisor noise — plans at
    HEAD diff byte-identical vs the pre-weighted commit a0ac1d2^ after
    id normalization; this pin keeps it that way)."""
    # patch the CLASSIC subclass: it overrides collect, so patching the
    # base pyspark.sql.DataFrame never fires on Spark 4
    from pyspark.sql.classic.dataframe import DataFrame

    from monotonic_optimal_binning_spark import (
        BinningConstraints,
        SparkMonotonicBinner,
    )

    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    df = li.select(
        F.col("l_quantity").alias("x"),
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
    )
    # capture the fit's stats-scan executed plan via a collect spy
    plans = []
    orig_collect = DataFrame.collect

    def spy(self):
        plans.append(plan_of(self, "simple"))
        return orig_collect(self)

    DataFrame.collect = spy
    try:
        b = SparkMonotonicBinner(
            "x", "y", constraints=BinningConstraints(max_bins=6, min_bins=3)
        ).fit(df)
    finally:
        DataFrame.collect = orig_collect
    scan_plans = [p for p in plans if "HashAggregate" in p]
    assert scan_plans, plans
    for p in scan_plans + [
        plan_of(
            b.transform(df, assign="woe", output_col="woe"), "simple"
        )
    ]:
        # no weight expressions of any kind in the unweighted plan
        assert "__w" not in p, p
        assert "raise_error" not in p, p
    # the stats scan is still the one-Exchange shape
    assert all("Exchange" in p for p in scan_plans)


def _verify_leg_joins(plan: str) -> tuple:
    """(sort-merge id-leg joins, broadcast id-leg joins) in a simple plan.

    Only the verify legs — the inner equi-joins keyed on id_a / id_b that
    re-attach the array-heavy payload (shingles / vectors) to the candidate
    pair set — are counted; the (band, bucket) self-join and the leftsemi
    candidate-id restriction may legitimately pick other strategies."""
    smj = re.findall(r"SortMergeJoin \[id_[ab]#\d+L?\], \[id_[ab]#\d+L?\], Inner", plan)
    bhj = re.findall(r"BroadcastHashJoin \[id_[ab]#\d+L?\], \[id_[ab]#\d+L?\], Inner", plan)
    return smj, bhj


def test_minhash_verify_legs_stay_sort_merge(spark):
    """Round-6 sf1 driver-fatal regression pin: Catalyst's static size
    estimate for the array-heavy shingle cache is far below its real bytes,
    so WITHOUT the .hint('merge') on the verify legs the planner picks a
    BroadcastHashJoin that AQE cannot demote — the driver died building a
    multi-GB broadcast at sf1. The caches are materialized FIRST (count
    action) because un-materialized InMemoryRelations have unknown stats
    and would mask the regression: with computed (small) stats the
    unhinted plan measurably flips to broadcast (probe, 2026-08), so this
    test fails if the hints are dropped."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        minhash_lsh_candidates,
        release_lsh_caches,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(60),
                "text": [
                    f"shared prefix words document {i % 9} body {i}"
                    for i in range(60)
                ],
            }
        )
    )
    kw = dict(num_hashes=16, n_bands=4, shingle_size=3, shingle_unit="word")
    first = minhash_lsh_candidates(docs, "text", "doc_id", **kw)
    first.count()  # materializes the pinned caches -> computed stats
    # second build hits the same caches (canonicalized-plan match), so its
    # static plan sees the small computed sizes — the regression condition
    out = minhash_lsh_candidates(docs, "text", "doc_id", **kw)
    plan = plan_of(out, "simple")
    smj, bhj = _verify_leg_joins(plan)
    assert len(smj) == 2, plan
    assert not bhj, plan
    release_lsh_caches(out)
    release_lsh_caches(first)


def test_embedding_verify_legs_stay_sort_merge(spark):
    """Same pin for embedding_neardup_pairs: the vector table's static
    size undercounts array rows; a statically planned broadcast of it is
    un-demotable. Uses the lazy pre-checkpoint helper (the public entry
    point eagerly localCheckpoints, erasing the plan)."""
    import numpy as np

    from monotonic_optimal_binning_spark.operators.dedup import (
        _embedding_scored_pairs,
    )

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(40),
                "emb": [
                    rng.normal(size=8).astype("float64").tolist()
                    for _ in range(40)
                ],
            }
        )
    )
    scored, banded = _embedding_scored_pairs(
        emb, "emb", "doc_id", 8, n_planes=8, n_bands=2, seed=1,
        max_bucket_size=100,
    )
    try:
        scored.count()  # materializes the banded cache
        scored2, banded2 = _embedding_scored_pairs(
            emb, "emb", "doc_id", 8, n_planes=8, n_bands=2, seed=1,
            max_bucket_size=100,
        )
        plan = plan_of(scored2, "simple")
        smj, bhj = _verify_leg_joins(plan)
        assert len(smj) == 2, plan
        assert not bhj, plan
        banded2.unpersist()
    finally:
        banded.unpersist()


def test_sessionize_single_exchange(spark):
    """r8: session_id_start is computed on the same (key, ts-order) sort
    as the session ids — the operator must plan exactly ONE shuffle (the
    min-over-(key, session) formulation it replaced needed a second
    Exchange + Sort of the full input)."""
    from monotonic_optimal_binning_spark.operators.windows import sessionize

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    out = sessionize(ev, "user_id", "ts", gap_seconds=1800.0,
                     tiebreak=["event_id"])
    assert count_exchanges(out) == 1


def _raw_row_windows_by(plan: str, key: str) -> int:
    """Window nodes of a simple plan partitioned by ``key`` alone whose
    input is raw rows: beneath them (past other windows by ``key``) comes
    a scan, or a differently partitioned Window with no Filter in between
    — not an aggregate or the bucket-end Filter over a (key, bucket)
    Window of the ``*_bucketed`` stitch."""
    def by_key(line):
        m = re.search(r"Window \[.*\], \[([^\[\]]*)\], \[[^\[\]]*\]$", line)
        return m and re.fullmatch(rf"{key}#\d+L?", m.group(1))

    lines = plan.splitlines()
    n = 0
    for i, ln in enumerate(lines):
        if not by_key(ln):
            continue
        filtered = False
        for below in lines[i + 1:]:
            if re.search(r"- \w*Aggregate\b", below):
                break
            filtered = filtered or bool(re.search(r"- Filter\b", below))
            other = bool(re.search(r"- Window \[", below)) and not by_key(below)
            if other or re.search(r"- (File)?Scan\b", below):
                n += not (other and filtered)
                break
    return n


def test_bucketed_twins_window_per_bucket(spark):
    """The skew-safe twins share one stitch: raw rows are windowed per
    (key, time bucket) and only the one-row-per-bucket summaries are
    windowed by the key alone, so a hot key still spreads over its
    buckets. Exchange counts are the stitch's (at most the ones each twin
    planned before it was shared: 3 / 3 / 7 / 5 on this input). The carry
    comes back as carry rows in the rows' one shuffle, so only
    sessionize, whose summary needs the local window, joins. The plain
    twins keep their one raw-row window by the key."""
    from monotonic_optimal_binning_spark.functions.timeutil import (
        epoch_seconds,
        pin_utc,
    )
    from monotonic_optimal_binning_spark.operators.asof import (
        asof_join_bucketed,
    )
    from monotonic_optimal_binning_spark.operators.windows import (
        backfill,
        backfill_bucketed,
        sessionize_bucketed,
        with_lag_lead_bucketed,
    )

    pin_utc(spark)
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", epoch_seconds(ev, "ts").alias("ts")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(ev, "ts").alias("ts"), "value"
    )
    twins = {
        "lag_lead": (with_lag_lead_bucketed(
            ev, ["value"], "user_id", "ts", 3600.0, tiebreak=["event_id"]
        ), 3, 0),
        "backfill": (backfill_bucketed(
            ev, ["value"], "user_id", "ts", 3600.0, tiebreak=["event_id"]
        ), 3, 0),
        "sessionize": (sessionize_bucketed(
            ev, "user_id", "ts", 1800.0, 3600.0, tiebreak=["event_id"]
        ), 3, 1),
        "asof": (asof_join_bucketed(
            left, right, on="user_id", left_ts="ts", value_cols=["value"],
            bucket_seconds=3600.0,
        ), 3, 0),
    }
    for name, (out, exchanges, joins) in twins.items():
        plan = plan_of(out, "simple")
        assert count_exchanges(out) == exchanges, (name, plan)
        assert len(re.findall(r"Join\b", plan)) == joins, (name, plan)
        assert _raw_row_windows_by(plan, "user_id") == 0, (name, plan)
        assert "__b" in plan, (name, plan)
    plain = backfill(ev, ["value"], "user_id", "ts", tiebreak=["event_id"])
    assert _raw_row_windows_by(plan_of(plain, "simple"), "user_id") == 1
    assert _raw_row_windows_by(plan_of(asof_join(
        left, right, on="user_id", left_ts="ts", value_cols=["value"]
    ), "simple"), "user_id") == 1


def test_source_overlap_single_posting_pipeline(spark):
    """r8: source_overlap_matrix derives common counts AND per-source
    sizes from ONE posting pipeline (collect_set per shingle + marker
    rows through a single aggregate + two tiny windows). The r7 join
    formulation planned the documents scan + shingle explode three
    times; the scan must now appear exactly once."""
    from monotonic_optimal_binning_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = source_overlap_matrix(docs, "text", "source", shingle_size=3)
    plan = plan_of(out, "simple")
    assert plan.count("FileScan") == 1
    # no joins at all: sizes attach via windows over the counted table
    assert "Join" not in plan


def _serving_plans(spark):
    """(name, DataFrame) for every serving path, including a 4096-cut
    model and a 200-group model."""
    import datetime

    import numpy as np

    from monotonic_optimal_binning_spark import (
        SparkMonotonicBinner,
        fit_binners_per_group,
    )
    from monotonic_optimal_binning_spark.operators.binning import (
        FittedBins,
        GroupedBins,
    )
    from monotonic_optimal_binning_spark.operators.calibration import (
        isotonic_calibrate,
        isotonic_calibrate_grouped,
    )
    from monotonic_optimal_binning_spark.operators.categorical import (
        fit_categorical_woe,
    )
    from monotonic_optimal_binning_spark.operators.drift import (
        grouped_model_psi,
        model_psi,
    )
    from monotonic_optimal_binning_spark.scorecard import Scorecard
    from monotonic_optimal_binning_spark.streaming.drift import (
        streaming_bucket_counts,
    )
    from monotonic_optimal_binning_spark.streaming.sessions import (
        streaming_woe_lookup,
    )

    rng = np.random.default_rng(0)
    small = FittedBins.from_cuts(
        "x", [1.0, 2.0, 3.0], [0.1, -0.2, 0.3, 0.4], exclude_values=[9.0]
    )
    big = FittedBins.from_cuts(
        "x", list(np.arange(4096, dtype=float)), list(rng.normal(size=4097))
    )
    gb = GroupedBins("g", "x", "y", {"a": small, "b": big})
    gb200 = GroupedBins(
        "g", "x", "y",
        {f"g{i}": FittedBins.from_cuts("x", [1.0, 2.0], [0.1, 0.2, 0.3])
         for i in range(200)},
    )
    df = spark.createDataFrame(
        [(float(i % 7), "a", i % 2, 0.1 * (i % 10), f"c{i % 4}",
          datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i))
         for i in range(60)],
        "x double, g string, y int, s double, c string, ts timestamp",
    )
    cal = isotonic_calibrate(df, "s", "y", prebins="exact")
    gcal = isotonic_calibrate_grouped(df, "s", "y", "g", prebins="exact")
    card = Scorecard({"x": small})
    # PSI reads the training counts of a fitted artifact
    fitted = SparkMonotonicBinner("x", "y").fit(df).model_
    fitted_gb = fit_binners_per_group(df, "g", "x", "y")
    out = []
    for assign in ("interval", "left", "right", "woe"):
        out.append((f"FittedBins {assign}", small.transform(df, assign=assign)))
        out.append((f"4096-cut {assign}", big.transform(df, assign=assign)))
        out.append((f"GroupedBins {assign}", gb.transform(df, assign=assign)))
        out.append((f"200 groups {assign}", gb200.transform(df, assign=assign)))
    out += [
        ("Scorecard.transform", card.transform(df)),
        ("Scorecard.reason_codes", card.reason_codes(df)),
        ("IsotonicCalibration", cal.transform(df)),
        ("GroupedIsotonicCalibration", gcal.transform(df)),
        ("CatBins", fit_categorical_woe(df, "c", "y").transform(df)),
        ("model_psi", model_psi(fitted, df)),
        ("grouped_model_psi", grouped_model_psi(fitted_gb, df)),
        ("streaming_bucket_counts", streaming_bucket_counts(small, df, "ts")),
        ("streaming_woe_lookup", streaming_woe_lookup(df, small, "x")),
    ]
    return out


def test_serving_paths_plan_no_python(spark):
    """Every lookup compiles to Catalyst expressions: no Arrow/batch
    Python evaluation node in any serving plan, at any model size."""
    for label, df in _serving_plans(spark):
        plan = plan_of(df, "simple")
        assert "ArrowEvalPython" not in plan, label
        assert "BatchEvalPython" not in plan, label


def test_simhash_banded_pairs_filters_hamming_before_dedup(spark, monkeypatch):
    """simhash_banded_pairs carries the fingerprint through the banded
    self-join, so the Hamming predicate (a Filter that Catalyst folds
    into the join condition) runs BELOW the dropDuplicates aggregate.
    The ids-only join -> dropDuplicates -> fingerprint re-join -> filter
    shape shuffles and sorts every raw candidate pair first; it must
    not come back."""
    import monotonic_optimal_binning_spark.plans.checkpoint as checkpoint
    from monotonic_optimal_binning_spark.operators.dedup import (
        simhash_banded_pairs,
    )

    # the operator truncates lineage eagerly; keep the planned frame
    monkeypatch.setattr(checkpoint, "truncate_lineage", lambda df, *a, **k: df)
    df = spark.createDataFrame(
        pd.DataFrame({"vid": range(40), "fp": [i * 7 for i in range(40)]})
    )
    out = simhash_banded_pairs(df, "fp", "vid", max_hamming=3)
    lines = plan_of(out, "simple").splitlines()
    dedup = [i for i, ln in enumerate(lines) if "HashAggregate(keys=[id_a" in ln]
    hamming = [
        i for i, ln in enumerate(lines)
        if re.search(r"bit_count\(.*\) <= 3", ln)
    ]
    assert len(dedup) == 2 and hamming, "\n".join(lines)
    # children print below their parents: the predicate sits under both
    # halves of the dedup aggregate
    assert min(hamming) > max(dedup), "\n".join(lines)
