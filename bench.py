#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced with the noop sink (full plan execution, no disk write /
driver-collect noise). A small warmup query absorbs JVM/codegen start-up cost
so per-query numbers reflect steady-state plan execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_toolkit_spark import registry  # noqa: E402
from big_data_toolkit_spark.plans import materialize  # noqa: E402
from big_data_toolkit_spark.session import build_spark  # noqa: E402

# The artifact-sharing pipeline's bench-only lines (plans/materialize.py):
# artifact builds, timed fresh, and the consumers reading the stored
# artifacts.  Compare each consumer against its in-plan registry twin
# (triangle_count, kcore_subgraph, cross_source_leakage, semantic_dedup,
# knn_ivf_trained, dedup_keep_canonical, leakage_safe_split,
# manifest_ingest_delta, knn_pq, ann_pq_incremental, knn_join_pq) to read
# the recompute saved.  The registered mat_* queries are benched through
# the registry.
ARTIFACT_LINES = {
    "mat_artifact_build": materialize.bench_artifact_build,
    "mat_triangle_count": materialize.bench_triangle_count,
    "mat_kcore_subgraph": materialize.bench_kcore_subgraph,
    "mat_cross_source_leakage": materialize.bench_cross_source_leakage,
    "mat_semantic_dedup": materialize.bench_semantic_dedup,
    "mat_knn_ivf_trained": materialize.bench_knn_ivf_trained,
    "mat_dedup_keep_canonical": materialize.bench_dedup_keep_canonical,
    "mat_leakage_safe_split": materialize.bench_leakage_safe_split,
    "mat_manifest_ingest_delta": materialize.bench_manifest_ingest_delta,
    "mat_pq_build": materialize.bench_pq_build,
    "mat_knn_pq": materialize.bench_knn_pq_stored,
    "mat_ann_pq_incremental": materialize.bench_ann_pq_incremental_stored,
    "mat_knn_join_pq": materialize.bench_knn_join_pq_stored,
}

# Every registered query under its registry name, plus the artifact lines.
# dedup_embedding_cosine is the one registered query not benched: the
# O(n^2) correctness twin of the LSH/IVF paths, quadratic by design.
HEADLINE = {
    **{
        name: fn
        for name, fn in registry.queries().items()
        if name != "dedup_embedding_cosine"
    },
    **ARTIFACT_LINES,
}


# The query set benched since round 1; BASELINE.md's closing totals
# (27.7-32.1 s at sf0.1) were measured over exactly these 45.
BASELINE_QUERIES = frozenset(
    {
        "q1_count_shipped", "q2_orders_shipped", "q3_part_supplier_shipped",
        "q4_orders_by_nation", "word_count", "bigram_relative_frequency",
        "pmi_pairs", "inverted_index", "boolean_mixed", "spam_score",
        "spam_ensemble", "pagerank_top20", "event_count_hourly",
        "region_event_count", "trending_events", "dedup_exact",
        "dedup_minhash_lsh", "dedup_simhash", "knn_brute_force", "knn_lsh",
        "knn_ivf", "quality_score", "token_count", "fingerprint",
        "dedup_embedding_lsh", "asof_purchase_attribution", "error_bursts",
        "orders_rollup", "events_cube", "lineitem_stats",
        "event_count_sliding", "user_sessions", "curated_corpus",
        "customers_without_orders", "daily_activity_full",
        "orders_grouping_sets", "customer_order_timeline",
        "customer_spend_quartiles", "user_event_matrix", "json_props_stats",
        "event_reach", "event_reach_approx", "hash_sample", "source_mix",
        "shard_pack",
    }
)

# Burn-in: JVM + codegen + parquet footer caches.  ONE warmup query is not
# enough — the JIT keeps compiling shared operator code paths (parquet scan,
# hash agg, shuffle, broadcast) for dozens of stage executions, so with a
# single warmup the first timed sweep slots absorb start-up cost later slots
# don't: the r5 driver run showed q1_count_shipped/q2_orders_shipped (slots
# 1-2) at 4.9x/2.6x their baselines with untouched plans while the q3/q4
# lines on the same tables sat at ~1x (adjudicated r6 by same-session
# interleaved trials, BASELINE.md r6 note: 2.62 s first-slot vs 0.33-0.90 s
# once warm).  Two untimed rounds over five plan shapes (scan+filter+count,
# shuffle join+sort, broadcast dim chain, join+agg, text explode+agg) warm
# the shared paths before anything is timed.
BURN_IN = (
    "q1_count_shipped",
    "q2_orders_shipped",
    "q3_part_supplier_shipped",
    "q4_orders_by_nation",
    "word_count",
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def burn_in(spark, sf_dir: str) -> None:
    """Two untimed rounds over the BURN_IN plan shapes."""
    for _ in range(2):
        for name in BURN_IN:
            force(HEADLINE[name](spark, sf_dir))


# Interleaved trials for the BASELINE_QUERIES subset (r11 verdict item 1:
# five consecutive rounds of driver-window drift were adjudicated as
# machine noise via scripts/adjudicate.py's interleaved-median protocol —
# so the bench harness now runs that protocol itself).  The single sweep
# counts as trial 1 (it had its own per-plan warmup); BASELINE_TRIALS - 1
# further passes run round-robin over the subset so no query
# systematically absorbs a contention window, and the reported per-query
# number is the MEDIAN across trials.  Long-tail lines keep the single
# sweep UNLESS flagged by the tail protocol below (r12 verdict item 1).
BASELINE_TRIALS = 3

# Tail-flag protocol (r12 verdict item 1): the baseline subset is
# drift-proof via medians, but the ~150-line long tail kept producing
# spurious >2x "regressions" from the same host-contention windows (five
# tail lines co-inflated in the r12 driver run, four in files untouched
# that round).  So: any tail line whose sweep time exceeds BOTH
# TAIL_FLAG_RATIO x its previous recorded run AND the absolute floor gets
# TAIL_EXTRA_TRIALS interleaved retrials, and its reported number becomes
# the median — bounded extra cost (a handful of lines per run), and a
# flagged line that was pure drift self-adjudicates inside the same JSON.
TAIL_FLAG_RATIO = 1.5
TAIL_FLAG_FLOOR_SEC = 0.2  # below this, ratio flags are timer noise
TAIL_EXTRA_TRIALS = 2


def _interleaved_retrials(
    spark,
    sf_dir: str,
    headline: dict,
    seeds: dict[str, float],
    n_extra: int,
) -> tuple[dict[str, float], dict[str, list[float]], dict[str, str]]:
    """Shared retrial engine: ``n_extra`` round-robin passes over the
    queries named in ``seeds`` (whose values are the trial-1 sweep times),
    returning (medians, raw trials, retrial errors).

    Round-robin, not per-query bursts, so no query systematically absorbs
    a contention window.  A retrial that fails keeps the trials recorded
    so far (one crash must not zero the evidence, matching time_queries'
    isolation contract) but is RECORDED in the errors map — a "median"
    degraded to fewer trials must be distinguishable from a clean one in
    the emitted JSON (ADVICE r12).
    """
    import statistics

    trials: dict[str, list[float]] = {n: [t] for n, t in seeds.items()}
    errors: dict[str, str] = {}
    for _ in range(max(0, n_extra)):
        for name in seeds:
            try:
                t0 = time.perf_counter()
                force(headline[name](spark, sf_dir))
                trials[name].append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — keep earlier trials
                errors[name] = f"retrial: {type(exc).__name__}: {exc}"[:300]
            finally:
                spark.catalog.clearCache()
    medians = {
        n: round(statistics.median(v), 3) for n, v in trials.items()
    }
    return medians, trials, errors


def baseline_retrials(
    spark,
    sf_dir: str,
    headline: dict,
    sweep_timings: dict[str, float],
    n_trials: int = BASELINE_TRIALS,
) -> tuple[dict[str, float], dict[str, list[float]], dict[str, str]]:
    """Median-of-trials timings for the baseline subset.

    Returns (medians, trials, retrial_errors): ``medians`` maps each
    baseline query that timed cleanly in the sweep to the median of
    [sweep, retrial...]; ``trials`` keeps the raw per-trial numbers for
    the record; ``retrial_errors`` names any query whose median was
    degraded by a failed retrial (ADVICE r12 — a 1-trial "median" must
    not masquerade as a 3-trial one).  Queries that errored in the sweep
    are skipped (their error row already carries the evidence).
    """
    seeds = {
        n: sweep_timings[n]
        for n in headline
        if n in BASELINE_QUERIES and n in sweep_timings
    }
    return _interleaved_retrials(
        spark, sf_dir, headline, seeds, max(0, n_trials - 1)
    )


def load_prior_timings(path: str | None = None) -> dict[str, float]:
    """Previous run's per-query map (the committed BENCH_LOCAL_LAST.json),
    read BEFORE this run overwrites it — the tail-flag baseline.  Any
    failure (first run, truncated file) degrades to {} = no tail flags,
    never an error."""
    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_LOCAL_LAST.json",
        )
    try:
        with open(path) as fh:
            prior = json.load(fh).get("queries", {})
        return {
            k: float(v) for k, v in prior.items()
            if isinstance(v, (int, float))
        }
    except (OSError, ValueError, AttributeError):
        return {}


def flag_tail_lines(
    sweep_timings: dict[str, float],
    prior: dict[str, float],
    ratio: float = TAIL_FLAG_RATIO,
    floor_sec: float = TAIL_FLAG_FLOOR_SEC,
) -> dict[str, float]:
    """The tail lines owed retrials this run: NOT in the median-protected
    baseline subset, have a prior recorded value, and the sweep exceeded
    ratio x prior with the excess above the absolute floor (a 0.02 -> 0.04
    line is timer noise, not a regression signal)."""
    return {
        n: t
        for n, t in sweep_timings.items()
        if n not in BASELINE_QUERIES
        and n in prior
        and prior[n] > 0
        and t > ratio * prior[n]
        and t - prior[n] > floor_sec
    }


def time_queries(
    spark, sf_dir: str, headline: dict
) -> tuple[dict[str, float], dict[str, str]]:
    """Steady-state per-query timings with per-query failure isolation.

    JMH-style: execute each query once to pay its one-time plan-analysis +
    whole-stage-codegen class-compilation cost, then time the second full
    execution (the first run of a plan is 3-6x its steady state purely from
    codegen). The warmup run's cached intermediates are dropped before
    timing, so the measured run recomputes every data path — only
    codegen/footer caches stay warm.

    Failure isolation: one broken query must not zero the whole round's
    perf evidence — record an error row for it and keep timing the rest;
    the caller always gets both maps (pinned by tests/test_bench_harness).
    """
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in headline.items():
        phase = "warmup"
        try:
            force(fn(spark, sf_dir))  # per-plan warmup
            spark.catalog.clearCache()
            phase = "timed"
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — isolate, report, continue
            # Tag the phase: a warmup failure means the plan itself is
            # broken; a timed failure after a clean warmup points at state
            # (cache clear, transient) — they debug differently.
            errors[name] = f"{phase}: {type(exc).__name__}: {exc}"[:300]
            spark.catalog.clearCache()
    return timings, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Previous run's per-query numbers — the tail-flag baseline.  Read
    # FIRST: this run rewrites the file at exit.
    prior = load_prior_timings()
    spark = build_spark(app_name="bdts-bench")
    spark.sparkContext.setLogLevel("ERROR")

    burn_in(spark, sf_dir)

    timings, errors = time_queries(spark, sf_dir, HEADLINE)

    # Adjudication built in (r11 verdict item 1): the baseline subset's
    # reported numbers are interleaved-trial MEDIANS, so a host-contention
    # window during the sequential sweep can no longer poison the round's
    # governing subtotal.  The sweep numbers stay in baseline_trials[*][0]
    # for the record.
    medians, baseline_trials, retrial_errors = baseline_retrials(
        spark, sf_dir, HEADLINE, timings
    )
    timings.update(medians)

    # Tail-flag protocol (r12 verdict item 1): long-tail lines that blew
    # past TAIL_FLAG_RATIO x their previous recorded run get the same
    # interleaved-median treatment, so a contention window during the
    # single sweep can no longer manufacture tail "regressions" that cost
    # a round of adjudication.  prior was loaded BEFORE this run rewrites
    # BENCH_LOCAL_LAST.json.
    flagged = flag_tail_lines(timings, prior)
    tail_trials: dict[str, list[float]] = {}
    if flagged:
        tail_medians, tail_trials, tail_errs = _interleaved_retrials(
            spark, sf_dir, HEADLINE, flagged, TAIL_EXTRA_TRIALS
        )
        timings.update(tail_medians)
        retrial_errors.update(tail_errs)

    total = round(sum(timings.values()), 3)
    # The 45 queries benched since round 1 — BASELINE.md's 27.7 s governs
    # THIS subtotal; the full total also counts operators added later and
    # grows whenever the engine's surface does.
    baseline_subset = round(
        sum(v for q, v in timings.items() if q in BASELINE_QUERIES), 3
    )
    baseline_n = sum(1 for q in timings if q in BASELINE_QUERIES)
    out = {
        "metric": "headline_queries_total_seconds",
        "baseline_subset_seconds": baseline_subset,
        "baseline_subset_n": baseline_n,
        "baseline_trials_n": BASELINE_TRIALS,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "baseline_trials": baseline_trials,
        # Tail-flag evidence (r12 verdict item 1): which tail lines blew
        # past TAIL_FLAG_RATIO x their prior run, their prior values, and
        # the retrial series their reported median came from.  Empty on a
        # quiet run — that absence IS the drift adjudication.
        "tail_flagged": {n: prior.get(n) for n in sorted(flagged)},
        "tail_trials": tail_trials,
        # Queries whose median degraded to fewer trials via a retrial
        # failure (ADVICE r12) — distinguishes a true N-trial median
        # from a crashed-retrial one.
        "retrial_errors": retrial_errors,
        "errors": errors,
        "sf": sf_dir,
    }
    if baseline_n < len(BASELINE_QUERIES):
        # An errored baseline member silently shrinks the subtotal; flag it
        # so cross-round comparisons are never made on unequal subsets.
        out["warning"] = (
            f"baseline subset incomplete ({baseline_n}/"
            f"{len(BASELINE_QUERIES)} timed) — baseline_subset_seconds is "
            "NOT comparable to the pinned 45-query baseline"
        )
    print(json.dumps(out))
    # Persist the full result next to the repo as well: the driver artifact
    # keeps only a stdout tail that has truncated away most per-query times
    # two rounds running (r6, r7) — the local file is the durable record
    # bench_trend/adjudications can always read.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL_LAST.json"),
            "w",
        ) as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout still carries everything
    # The driver artifact keeps only the stdout TAIL; the full per-query
    # line above can exceed what survives (the r6 artifact lost its meta
    # fields to front-truncation, VERDICT r6). Emit a compact summary
    # LAST so the governing numbers always survive tail capture.
    #
    # r14 (VERDICT r13 item 6): the driver parses the LAST line inside a
    # 2000-char stdout tail (r1-r5 artifacts parsed the full line while it
    # still fit; the r6 artifact shows parsed=null once it outgrew the
    # window; r7+ parse this summary line). bench_ok has been false since
    # r6 — the one contract field this line can restore within the parse
    # window is the METRIC NAME the r1-r5 lines carried, so it now reports
    # the same "headline_queries_total_seconds" metric (same value/unit —
    # it IS the same measurement). The full queries map cannot fit in the
    # window (194 names ~= 5 KB); it stays on the first line and in
    # BENCH_LOCAL_LAST.json, both unchanged.
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_seconds",
                "value": total,
                "unit": "sec",
                "baseline_subset_seconds": baseline_subset,
                "baseline_subset_n": baseline_n,
                "total_seconds": total,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "slowest": {q: v for q, v in slowest},
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
