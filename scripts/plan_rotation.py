#!/usr/bin/env python
"""Compute the NEXT round's gate head (50) from recorded evidence, every
round:

priority order
  1. red rows in the NEWEST CORRECTNESS file (fix + retry first),
  2. never-rowed queries (registry order — i.e. current `_DEFERRED` tail
     for mid-round additions),
  3. staleness refreshes: everything else ordered by (newest-row round
     ascending, registry order), so the queries whose evidence is oldest
     re-enter first.

Prints the head and the new staleness-ordered `_DEFERRED` to paste into
`__spark_entry__.py`. Uses only CORRECTNESS_r*.json + the live registry,
so late additions are picked up automatically.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gather(repo_root: str = _REPO_ROOT):
    q = list(entry.queries())
    newest_round: dict[str, int] = {}
    reds_newest: list[str] = []
    files = sorted(
        glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")),
        key=lambda p: int(p.split("_r")[1].split(".")[0]),
    )
    for f in files:
        rnd = int(f.split("_r")[1].split(".")[0])
        rows = json.load(open(f))
        for k, v in rows.items():
            newest_round[k] = rnd
        if f == files[-1]:
            reds_newest = [
                k
                for k, v in rows.items()
                if isinstance(v, dict)
                # rows-only-by-design queries record null matches with
                # err == "no_oracle" — that is a clean row, not a red.
                and v.get("err") != "no_oracle"
                and not all(
                    v.get(x, True)
                    for x in ("rows_match", "schema_match", "hash_match")
                )
            ]
    return q, newest_round, reds_newest


# Floor on the allowed row age.  The EFFECTIVE bound is period-aware —
# see max_row_age(): with a 50-slot head and N registered queries the
# stale-first rotation refreshes each query every ceil(N/50) rounds, and
# the judged tree is always the CONSUMED state (the driver's CORRECTNESS
# file for the committed _HEAD has already landed when the gate runs), so
# a query legitimately reaches age == period before its next head slot.
# Requiring age <= period therefore matches the policy exactly; age >
# period means rotation actually fell behind.  Capacity at the current
# bound: 50 x (max_row_age + 1) registered queries.
MAX_ROW_AGE_FLOOR = 3

# Back-compat alias (older tests/docs import MAX_ROW_AGE).
MAX_ROW_AGE = MAX_ROW_AGE_FLOOR

# Hard ceiling on the allowed row age (ADVICE r11): without it the
# period-aware bound auto-loosens as queries are registered and evidence
# staleness grows unbounded — the gate could never push back on registry
# growth.  At 50 head slots the cap bounds registry capacity at
# 50 × MAX_ROW_AGE_CAP = 250 queries; past that, --check FAILS and the
# documented merge policy (BASELINE.md: merge near-twin queries past 200
# registered) becomes machine-enforced rather than advisory.
MAX_ROW_AGE_CAP = 5


def max_row_age(n_registry: int, head_size: int = 50) -> int:
    """Allowed max row age for a registry of ``n_registry`` queries:
    the steady-state rotation period ``ceil(n_registry / head_size)``,
    floored at MAX_ROW_AGE_FLOOR so small registries keep a tight gate
    and capped at MAX_ROW_AGE_CAP so a growing registry cannot loosen
    the gate indefinitely (registries whose period exceeds the cap are
    over capacity — --check fails with a merge-policy pointer)."""
    period = -(-n_registry // head_size)
    return min(max(MAX_ROW_AGE_FLOOR, period), MAX_ROW_AGE_CAP)


def staleness_violations(
    queries: list[str],
    newest_round: dict[str, int],
    head: list[str],
    next_round: int,
    max_age: int | None = None,
) -> dict[str, int | None]:
    """Queries whose newest driver row would be MORE than ``max_age``
    rounds old after the emitted ``head`` runs at ``next_round``.

    ``max_age=None`` (the default) resolves to the period-aware bound
    ``max_row_age(len(queries))``.

    A query in the head gets a fresh row (age 0). Never-rowed queries
    outside the head are NOT violations — a query added mid-round is
    legitimately unrowed until the next plan is emitted (plan_rotation
    then puts never-rowed first); they surface separately via the
    --check output's ``never_rowed_outside_head`` field.
    """
    if max_age is None:
        max_age = max_row_age(len(queries))
    head_set = set(head)
    out: dict[str, int] = {}
    for q in queries:
        if q in head_set or q not in newest_round:
            continue
        if next_round - newest_round[q] > max_age:
            out[q] = next_round - newest_round[q]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--head-size", type=int, default=50)
    ap.add_argument(
        "--check",
        action="store_true",
        help="CI gate: verify the CURRENT __spark_entry__._HEAD keeps "
        "every registered query within max_row_age(registry) rounds of "
        "a driver row at the next round; exit 1 on violations",
    )
    ap.add_argument(
        "--project",
        type=int,
        default=0,
        metavar="K",
        help="with --check: additionally simulate K future rounds of "
        "greedy stale-first rotation (current head runs, then each "
        "simulated round re-plans) and verify none violates the gate — "
        "proves the rotation period is sustainable at the current "
        "registry size, not just for the next round",
    )
    args = ap.parse_args()

    if args.check:
        q, newest_round, _ = gather()
        next_round = max(newest_round.values(), default=0) + 1
        # one bound everywhere: violations, the simulation, and the
        # printed max_row_age all honor --head-size
        bound = max_row_age(len(q), args.head_size)
        bad = staleness_violations(
            q, newest_round, entry._HEAD, next_round, bound
        )
        head_missing = [k for k in entry._HEAD if k not in q]
        # Capacity enforcement (ADVICE r11): a registry whose steady-state
        # rotation period exceeds the hard cap can no longer keep every
        # query's evidence fresh — fail loudly with the policy pointer
        # instead of letting the bound drift upward.
        over_capacity = (
            -(-len(q) // args.head_size) > MAX_ROW_AGE_CAP
        )
        never_outside = [
            k
            for k in q
            if k not in newest_round and k not in set(entry._HEAD)
        ]
        projections: dict[str, dict] = {}
        proj_bad = False
        if args.project:
            # Simulate: the committed head runs at next_round, then each
            # future round re-plans greedily (stale-first) and runs.
            sim_newest = dict(newest_round)
            sim_head = list(entry._HEAD)
            for rnd in range(next_round, next_round + args.project + 1):
                viol = staleness_violations(
                    q, sim_newest, sim_head, rnd, bound
                )
                projections[f"r{rnd}"] = {
                    "head_n": len(sim_head),
                    "violations": viol,
                }
                proj_bad = proj_bad or bool(viol)
                for k in sim_head:
                    sim_newest[k] = rnd
                never = [k for k in q if k not in sim_newest]
                rest = sorted(
                    (k for k in q if k in sim_newest),
                    key=lambda k: (sim_newest[k], q.index(k)),
                )
                sim_head = list(dict.fromkeys(never + rest))[
                    : args.head_size
                ]
        print(
            json.dumps(
                {
                    "next_round": next_round,
                    "head_n": len(entry._HEAD),
                    "max_row_age": bound,
                    "violations": bad,
                    "head_not_registered": head_missing,
                    "never_rowed_outside_head": never_outside,
                    **(
                        {
                            "registry_over_capacity": (
                                f"{len(q)} registered queries > "
                                f"{args.head_size * MAX_ROW_AGE_CAP} "
                                f"(head_size × MAX_ROW_AGE_CAP) — apply "
                                "BASELINE.md's merge-twins policy before "
                                "registering more"
                            )
                        }
                        if over_capacity
                        else {}
                    ),
                    **(
                        {"projections": projections}
                        if projections
                        else {}
                    ),
                }
            )
        )
        return (
            1
            if bad
            or head_missing
            or len(entry._HEAD) > args.head_size
            or proj_bad
            or over_capacity
            else 0
        )

    q, newest_round, reds = gather()
    never = [k for k in q if k not in newest_round]
    rest = sorted(
        (k for k in q if k in newest_round and k not in reds),
        key=lambda k: (newest_round[k], q.index(k)),
    )
    head = list(dict.fromkeys(reds + never + rest))[: args.head_size]
    deferred = [k for k in q if k not in head]
    deferred.sort(key=lambda k: (newest_round.get(k, 99), q.index(k)))
    print(
        json.dumps(
            {
                "head_n": len(head),
                "head": head,
                "deferred_n": len(deferred),
                "deferred": deferred,
                "red_retries": reds,
                "never_rowed_n": len(never),
                "staleness_histogram": {
                    str(r): sum(1 for v in newest_round.values() if v == r)
                    for r in sorted(set(newest_round.values()))
                },
            },
            indent=2,
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
