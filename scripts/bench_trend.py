#!/usr/bin/env python
"""Per-query bench trend across rounds: one command for drift adjudication.

Reads every ``BENCH_r*.json`` in the repo root (driver format: the bench
JSON line under ``"parsed"``; a bare bench.py output line also works) and
prints, for the two newest rounds, every query's r(N-1) -> r(N) ratio,
flagging movers beyond the threshold (default 1.5x either way). Machine
drift between rounds is +/-20-50% on identical code (BASELINE.md), so a
flag here is a *question*, not a verdict — settle it with same-session
interleaved trials (scripts/adjudicate.py) before touching
any plan.

Usage:
    python scripts/bench_trend.py              # newest two rounds
    python scripts/bench_trend.py --threshold 2.0
    python scripts/bench_trend.py --all        # full per-round history table
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Summary fields of a bench line that share the per-query "name": sec form.
_META_KEYS = ("value", "baseline_subset_seconds", "total_seconds")


def bench_registry_keys() -> set[str]:
    """The live bench line names: bench.HEADLINE's keys."""
    sys.path.insert(0, _REPO_ROOT)
    import bench

    return set(bench.HEADLINE)


def load_rounds(repo_root: str) -> dict[int, dict[str, float]]:
    valid_keys = bench_registry_keys()
    rounds: dict[int, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "BENCH_r*.json"))):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            data = json.load(fh)
        parsed = data.get("parsed", data)  # driver wrapper or bare bench line
        queries = parsed.get("queries") if isinstance(parsed, dict) else None
        if not queries and isinstance(data.get("tail"), str):
            # bench.py emits the per-query line FIRST and a compact summary
            # line LAST (so the governing numbers survive tail truncation);
            # if the driver parsed the summary line, recover per-query
            # times from the captured tail text instead.  The tail is
            # FRONT-truncated, so its first key may be chopped
            # ("rpus_shuffle" from "corpus_shuffle"): keep that one only if
            # it is a live bench name or appears in an earlier round.
            pairs = re.findall(
                r'"([a-z0-9_]+)": ([0-9]+\.[0-9]+)', data["tail"]
            )
            known = valid_keys | {q for r in rounds.values() for q in r}
            if pairs and pairs[0][0] not in known:
                pairs = pairs[1:]
            queries = {
                k: float(v) for k, v in pairs if k not in _META_KEYS
            } or None
        if queries:
            rounds[int(m.group(1))] = queries
    return rounds


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--all", action="store_true", help="full history table")
    ap.add_argument("--repo-root", default=_REPO_ROOT)
    args = ap.parse_args()

    rounds = load_rounds(args.repo_root)
    if len(rounds) < 2:
        print("need at least two BENCH_r*.json rounds", file=sys.stderr)
        return 2
    nums = sorted(rounds)

    if args.all:
        names = sorted({q for r in rounds.values() for q in r})
        header = ["query"] + [f"r{n}" for n in nums]
        print("  ".join(f"{h:>22}" if h == "query" else f"{h:>7}" for h in header))
        for q in names:
            cells = [f"{q:>22}"] + [
                f"{rounds[n][q]:>7.2f}" if q in rounds[n] else f"{'-':>7}"
                for n in nums
            ]
            print("  ".join(cells))
        return 0

    prev_n, cur_n = nums[-2], nums[-1]
    prev, cur = rounds[prev_n], rounds[cur_n]
    flagged = []
    print(f"r{prev_n} -> r{cur_n} per-query ratios (flag > {args.threshold}x):")
    for q in sorted(set(prev) & set(cur)):
        if prev[q] <= 0:
            continue
        ratio = cur[q] / prev[q]
        mark = ""
        if ratio > args.threshold or ratio < 1 / args.threshold:
            mark = "  <-- FLAG"
            flagged.append((q, ratio))
        print(f"  {q:>26}  {prev[q]:6.2f} -> {cur[q]:6.2f}  {ratio:5.2f}x{mark}")
    only_prev = sorted(set(prev) - set(cur))
    only_cur = sorted(set(cur) - set(prev))
    if only_prev:
        print(f"  dropped in r{cur_n}: {only_prev}")
    if only_cur:
        print(f"  new in r{cur_n}: {only_cur}")
    print(
        f"\n{len(flagged)} flagged"
        + (": " + ", ".join(f"{q} {r:.2f}x" for q, r in flagged) if flagged else "")
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
