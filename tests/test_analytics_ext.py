from __future__ import annotations

import pytest

from big_data_toolkit_spark.operators import analytics_ext as ax
from pyspark.sql import functions as F
from tests.conftest import SF_ORACLE, SF_SMOKE, jobs_started
from tests.oracle_utils import compare

ORACLE_NAMES = sorted(ax.ORACLE_SQL)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, name):
    df = ax.QUERIES[name](spark, SF_ORACLE)
    compare(df, ax.ORACLE_SQL[name], SF_ORACLE)


def test_every_query_registered_has_oracle_or_is_sketch(spark):
    assert set(ax.QUERIES) - set(ax.ORACLE_SQL) == {
        "event_reach_approx",
        "weekly_reach_from_sketches",
        "audience_overlap_approx",
    }


def test_approx_reach_within_tolerance(spark):
    """HLL distinct (rsd=0.01) and the p50 sketch must track the exact twins."""
    exact = {
        r["event_type"]: r
        for r in ax.event_reach(spark, SF_ORACLE).collect()
    }
    approx = {
        r["event_type"]: r
        for r in ax.event_reach_approx(spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(approx)
    for t, a in approx.items():
        e = exact[t]["n_users"]
        assert abs(a["approx_users"] - e) <= max(2, 0.05 * e), (t, a, e)


def test_anti_join_no_cartesian(spark):
    plan = (
        ax.customers_without_orders(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "LeftAnti" in plan


def test_grouping_sets_single_pass(spark):
    plan = (
        ax.orders_grouping_sets(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") == 1


def test_pivot_no_discovery_scan(spark):
    """Pinned pivot values: the plan must contain exactly one scan of events."""
    plan = (
        ax.user_event_matrix(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1


def test_timeline_single_shuffle(spark):
    """All three window functions share one (custkey) exchange + sort."""
    plan = (
        ax.customer_order_timeline(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1

def test_event_funnel_monotone_and_ordered(spark):
    """A funnel can only narrow: users(view) >= users(click) >= users(purchase),
    rows arrive in stage order, and stage 1 equals the distinct-viewer count."""
    rows = ax.event_funnel(spark, SF_SMOKE).collect()
    assert [r["stage_idx"] for r in rows] == [1, 2, 3]
    users = [r["users"] for r in rows]
    assert users[0] >= users[1] >= users[2]
    from big_data_toolkit_spark.catalog import load_table
    from pyspark.sql import functions as F

    viewers = (
        load_table(spark, SF_SMOKE, "events")
        .where(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert users[0] == viewers


def test_event_funnel_filters_pushed_to_scan(spark):
    """Each stage's event_type filter must reach the parquet scan."""
    plan = (
        ax.event_funnel(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for stage in ax.FUNNEL_STAGES:
        assert stage in plan, f"missing pushed filter for {stage}"
    assert "PushedFilters: [" in plan


def test_retention_cohorts_invariants(spark):
    """Offset 0 is always retention 1.0 (a user is active in their own first
    week), every retention is in (0, 1], and offsets are non-negative."""
    rows = ax.retention_cohorts(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0.0 < r["retention"] <= 1.0
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0


def test_retention_no_window_over_raw_events(spark):
    """The window divisor runs over the cohort aggregate, not raw events:
    the only exchanges are the two key shuffles + the tiny window one."""
    plan = (
        ax.retention_cohorts(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_user_activity_anomalies_are_extreme_days(spark):
    """Every flagged day must exceed the user's own mean by > 3 population-σ,
    recomputed independently here from the daily counts."""
    import statistics

    from pyspark.sql import functions as F

    from big_data_toolkit_spark.catalog import load_table

    flagged = ax.user_activity_anomalies(spark, SF_ORACLE).collect()
    assert flagged  # the distribution must actually produce outliers
    daily = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    by_user: dict[int, list[int]] = {}
    for r in daily:
        by_user.setdefault(r["user_id"], []).append(r["count"])
    for r in flagged:
        counts = by_user[r["user_id"]]
        assert len(counts) >= ax.MIN_ANOMALY_DAYS
        mu = statistics.fmean(counts)
        sigma = statistics.pstdev(counts)
        assert r["n_events"] > mu + ax.ANOMALY_SIGMAS * sigma
        assert r["z"] > ax.ANOMALY_SIGMAS


def test_event_value_histogram_partitions_everything(spark):
    """Bins tile [vmin, vmax]: per-type counts sum to the type's row count,
    bins are in [0, HIST_BINS), and lo < hi everywhere."""
    from pyspark.sql import functions as F

    from big_data_toolkit_spark.catalog import load_table

    rows = ax.event_value_histogram(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bin"] < ax.HIST_BINS
        assert r["lo"] < r["hi"]
    per_type = {}
    for r in rows:
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + r["n"]
    truth = {
        r["event_type"]: r["count"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert per_type == truth


def test_part_affinity_counts_reconcile(spark):
    """Pairs are canonical (a<b), supported (n_ab >= floor), and the top
    pair's count matches a direct recount from the baskets."""
    from big_data_toolkit_spark.catalog import load_table

    rows = ax.part_affinity(spark, SF_ORACLE).collect()
    assert rows and len(rows) <= ax.AFFINITY_TOP_K
    for r in rows:
        assert r["a"] < r["b"]
        assert r["n_ab"] >= ax.AFFINITY_MIN_PAIRS
        assert r["lift"] > 0
    top = rows[0]
    baskets = (
        load_table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .collect()
    )
    n = sum(1 for b in baskets if top["a"] in b["parts"] and top["b"] in b["parts"])
    assert n == top["n_ab"]


def test_integrity_audit_clean_on_testdata(spark):
    """TESTDATA satisfies every constraint: all seven checks report zero."""
    rows = ax.integrity_audit(spark, SF_SMOKE).collect()
    assert len(rows) == 7
    assert all(r["n_violations"] == 0 for r in rows), rows


def test_fuzzy_name_matches_known_pairs(spark):
    """The vocabulary guarantees (cold, old) at distance 1 within every
    shared noun; all matches share a noun and respect the distance band;
    n_pairs reconciles with the group-size product for one pair."""
    from big_data_toolkit_spark.catalog import load_table

    rows = ax.fuzzy_name_matches(spark, SF_ORACLE).collect()
    assert rows
    assert any(
        r["name_a"].startswith("cold ") and r["name_b"].startswith("old ")
        and r["dist"] == 1
        for r in rows
    )
    for r in rows:
        assert r["name_a"].split()[-1] == r["name_b"].split()[-1]
        assert 1 <= r["dist"] <= ax.FUZZY_MAX_DIST
        assert r["n_pairs"] > 0
    counts = {
        r["p_name"]: r["count"]
        for r in load_table(spark, SF_ORACLE, "part").groupBy("p_name").count().collect()
    }
    r0 = rows[0]
    assert r0["n_pairs"] == counts[r0["name_a"]] * counts[r0["name_b"]]


def test_snapshot_diff_statuses_reconcile(spark):
    """Added/removed counts match the membership slices; every 'changed'
    doc is in both slices with case-sensitive text; statuses cover all
    non-unchanged docs."""
    from big_data_toolkit_spark.catalog import load_table

    rows = ax.snapshot_diff(spark, SF_ORACLE).collect()
    by_status: dict[str, set] = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["doc_id"])
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text").collect()
    in_old = {r["doc_id"] for r in docs if r["doc_id"] % ax.DIFF_OLD_MOD != ax.DIFF_OLD_MOD - 1}
    in_new = {r["doc_id"] for r in docs if r["doc_id"] % ax.DIFF_NEW_MOD != ax.DIFF_NEW_MOD - 1}
    assert by_status.get("added", set()) == in_new - in_old
    assert by_status.get("removed", set()) == in_old - in_new
    has_upper = {r["doc_id"] for r in docs if r["text"] != r["text"].lower()}
    assert by_status.get("changed", set()) == (in_old & in_new & has_upper)


def test_dau_wau_invariants(spark):
    """dau <= wau everywhere (a day's actives are inside its trailing
    week), stickiness in (0, 1], and the first observed day has
    dau == wau (no earlier days to widen the window)."""
    rows = sorted(
        ax.dau_wau_stickiness(spark, SF_SMOKE).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    for r in rows:
        assert 0 < r["dau"] <= r["wau"]
        assert 0.0 < r["stickiness"] <= 1.0
    assert rows[0]["dau"] == rows[0]["wau"]
    assert rows[0]["stickiness"] == 1.0


def test_cohort_ltv_reconciles_to_total_revenue(spark):
    """Cohort cells partition all orders: spend sums to total revenue
    cents; cum_spend is non-decreasing within each cohort; offset 0 exists
    for every cohort."""
    from big_data_toolkit_spark.catalog import load_table

    rows = ax.customer_cohort_ltv(spark, SF_SMOKE).collect()
    total = sum(r["spend_cents"] for r in rows)
    truth = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("c")
        )
        .agg({"c": "sum"})
        .collect()[0][0]
    )
    assert total == truth
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    for cells in by_cohort.values():
        cells.sort(key=lambda r: r["month_offset"])
        assert cells[0]["month_offset"] == 0
        cums = [c["cum_spend_cents"] for c in cells]
        assert cums == sorted(cums)


def test_weekly_sketch_merge_tracks_exact(spark):
    """Every weekly estimate from merged daily sketches within 2% of the
    exact weekly distinct; estimates update contract tests too (rows-only
    set grows)."""
    from big_data_toolkit_spark.catalog import load_table

    approx = {
        r["week"]: r["approx_users"]
        for r in ax.weekly_reach_from_sketches(spark, SF_ORACLE).collect()
    }
    exact = {
        r["week"]: r["n"]
        for r in load_table(spark, SF_ORACLE, "events")
        .select(
            F.date_trunc("week", F.to_date("ts")).cast("date").alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for wk, a in approx.items():
        e = exact[wk]
        assert abs(a - e) <= max(2, 0.02 * e), (wk, a, e)


def test_event_value_histogram_degenerate_range(spark, tmp_path):
    """A constant-valued corpus (vmin == vmax) must land entirely in bin 0
    on BOTH engines — not NaN/inf bins from the zero bin width (ADVICE r6)."""
    import os

    from big_data_toolkit_spark.catalog import TABLES, load_table
    from tests.oracle_utils import compare

    import duckdb

    sf = str(tmp_path)
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{sf}/{t}.parquet")
    # flat-file parquet (not a Spark part-dir) so BOTH engines read it
    duckdb.sql(
        "COPY (SELECT event_id, ts, user_id, event_type, 7.25 AS value, "
        f"props FROM '{SF_SMOKE}/events.parquet' LIMIT 50) "
        f"TO '{sf}/events.parquet' (FORMAT PARQUET)"
    )

    rows = ax.event_value_histogram(spark, sf).collect()
    assert rows and all(r["bin"] == 0 for r in rows)
    assert all(r["lo"] == 7.25 and r["hi"] == 7.25 for r in rows)
    assert sum(r["n"] for r in rows) == 50
    compare(ax.event_value_histogram(spark, sf),
            ax.ORACLE_SQL["event_value_histogram"], sf, strict=True)


def test_customer_rfm_tiles_balanced_and_consistent(spark):
    """Each score dimension splits customers into near-equal quartiles;
    segment string always matches the three scores."""
    rows = ax.customer_rfm(spark, SF_SMOKE).collect()
    assert rows
    n = len(rows)
    for dim in ("r", "f", "m"):
        sizes = {}
        for r in rows:
            sizes[r[dim]] = sizes.get(r[dim], 0) + 1
        assert set(sizes) == set(range(1, ax.RFM_TILES + 1))
        assert max(sizes.values()) - min(sizes.values()) <= 1
    assert all(r["segment"] == f"{r['r']}-{r['f']}-{r['m']}" for r in rows)
    assert all(r["recency_days"] >= 1 for r in rows)  # as-of is after max date


def test_order_backlog_conserves_orders(spark):
    """Final open count == orders placed − orders ever completed; the
    balance never dips below zero on this corpus (orders ship after
    placement) and totals reconcile with direct counts."""
    from big_data_toolkit_spark.catalog import load_table

    rows = ax.order_backlog_timeline(spark, SF_SMOKE).orderBy("day").collect()
    assert rows
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    n_completed = (
        load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey").distinct().count()
    )
    assert sum(r["n_placed"] for r in rows) == n_orders
    assert sum(r["n_completed"] for r in rows) == n_completed
    assert rows[-1]["open_orders"] == n_orders - n_completed


def test_audience_overlap_sketch_tracks_exact(spark):
    """Inclusion-exclusion HLL overlap within max(3, 5%) of the exact count
    per type pair; identical pair coverage."""
    exact = {
        (r["type_a"], r["type_b"]): r["n_both"]
        for r in ax.audience_overlap(spark, SF_ORACLE).collect()
    }
    approx = {
        (r["type_a"], r["type_b"]): r["approx_both"]
        for r in ax.audience_overlap_approx(spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(approx)
    for pair, e in exact.items():
        assert abs(approx[pair] - e) <= max(3, 0.05 * e), (pair, approx[pair], e)


def test_dormant_rich_customers_reconciles(spark):
    """Recompute the Q22-shape set directly: above-average positive balance
    and no urgent order — counts and cent totals must match per segment."""
    from big_data_toolkit_spark.catalog import load_table

    cust = load_table(spark, SF_SMOKE, "customer").collect()
    urgent = {
        r["o_custkey"]
        for r in load_table(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .collect()
    }
    cents = lambda x: int(round(x * 100))  # noqa: E731 — 2-decimal data
    pos = [cents(r["c_acctbal"]) for r in cust if r["c_acctbal"] > 0]
    avg_bal = sum(pos) / len(pos)
    want: dict = {}
    for r in cust:
        b = cents(r["c_acctbal"])
        if b > avg_bal and r["c_custkey"] not in urgent:
            n, t = want.get(r["c_mktsegment"], (0, 0))
            want[r["c_mktsegment"]] = (n + 1, t + b)
    got = {
        r["c_mktsegment"]: (r["n_customers"], r["total_bal_cents"])
        for r in ax.dormant_rich_customers(spark, SF_SMOKE).collect()
    }
    assert got == want and got


def test_dormant_rich_customers_warm_build_starts_no_job(spark):
    """Job budget: after one warm-up call, building the Q22 plan starts no
    Spark job (catalog schemas are cached)."""
    ax.dormant_rich_customers(spark, SF_SMOKE)
    _, jobs = jobs_started(
        spark, lambda: ax.dormant_rich_customers(spark, SF_SMOKE)
    )
    assert jobs == 0


def test_scd2_history_consistent_with_diff(spark):
    """The SCD2 history must agree with snapshot_diff's categories:
    changed keys have exactly two rows (closed v1 + current v2), added
    keys one current v2, removed keys one closed v1, and every unchanged
    key one current v1. Exactly one current row per surviving key."""
    from big_data_toolkit_spark.operators import analytics_ext as ax
    from tests.conftest import SF_ORACLE

    diff = {
        r["doc_id"]: r["status"]
        for r in ax.snapshot_diff(spark, SF_ORACLE).collect()
    }
    hist: dict[int, list] = {}
    for r in ax.scd2_history(spark, SF_ORACLE).collect():
        hist.setdefault(r["doc_id"], []).append(r)
    assert hist
    for doc, rows in hist.items():
        status = diff.get(doc)  # None == unchanged
        versions = sorted((r["version"], r["is_current"]) for r in rows)
        if status == "changed":
            assert versions == [(1, False), (2, True)], (doc, versions)
        elif status == "added":
            assert versions == [(2, True)], (doc, versions)
        elif status == "removed":
            assert versions == [(1, False)], (doc, versions)
        else:
            assert versions == [(1, True)], (doc, versions)


def test_gapfill_locf_semantics(spark):
    """Gap-filled rollup: the grid is dense (|types| x |hours| rows, empty
    buckets present with n=0), LOCF carries the latest observed bucket
    average across gaps, and nothing precedes a type's first observation."""
    from pyspark.sql import functions as F

    df = ax.events_gapfill_locf(spark, SF_ORACLE)
    rows = df.collect()
    types = {r["event_type"] for r in rows}
    hours = {r["hour"] for r in rows}
    assert len(rows) == len(types) * len(hours)  # dense grid
    gaps = [r for r in rows if r["n"] == 0]
    assert gaps, "fixture must contain empty hourly buckets"
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r["hour"])
        seen = None
        for r in rs:
            if r["n"] > 0:
                assert r["locf_avg"] is not None, (t, r["hour"])
                seen = r["locf_avg"]
            else:
                assert r["locf_avg"] == seen, (t, r["hour"])
