#!/usr/bin/env python3
"""Choose the `etl_queries` subset from recorded per-query times.

    python3 perfbench/select_queries.py

The full ETL read path is 56 registered queries in four tiers (reference,
summary, catalog, and the csv.gz fixture-lake reads). A pass of all of
them takes ~53 s, more than one benchmark run can spend, so a pass runs a
subset chosen by this rule from the per-query seconds `graft.Bench`
recorded in BENCH_QUERIES_r18.json (sf0.1, local[4]):

1. Each tier gets a share of a per-pass budget of BUDGET_S seconds equal
   to its share of the full pass's recorded time.
2. A tier gets n = max(1, round(tier budget / tier mean query time))
   queries.
3. With its queries sorted by time, a tier with n > 1 takes the queries
   at evenly spaced ranks, round((i + 0.5) * N / n - 0.5) for i < n (N
   queries in the tier); a tier with n = 1 takes the query whose time is
   closest to the tier budget.

Prints the chosen queries and how the subset's time splits over the
tiers next to the full pass's split.
"""
import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERIES = os.path.join(ROOT, "src", "main", "scala", "graft", "queries")
BUDGET_S = 8.0
FIXTURE_LAKE = ["q44_lake_overview", "q46_lake_substring_scan",
                "q56_merged_readback", "q66_sidecar_read"]


def tier_queries():
    tiers = {}
    for tier, src in (("reference", "ReferenceQueries"),
                      ("summary", "SummaryQueries"),
                      ("catalog", "CatalogQueries")):
        with open(os.path.join(QUERIES, src + ".scala")) as fh:
            tiers[tier] = re.findall(r'Q\("(q[0-9a-z_]+)"', fh.read())
    tiers["lake_fixture"] = FIXTURE_LAKE
    return tiers


def select(times, tiers, budget=BUDGET_S):
    total = sum(times[q] for qs in tiers.values() for q in qs)
    chosen = {}
    for tier, qs in tiers.items():
        ranked = sorted(qs, key=lambda q: (times[q], q))
        spent = sum(times[q] for q in qs)
        tier_budget = budget * spent / total
        n = max(1, round(tier_budget / (spent / len(qs))))
        if n == 1:
            chosen[tier] = [min(ranked, key=lambda q: abs(times[q] - tier_budget))]
        else:
            chosen[tier] = [ranked[round((i + 0.5) * len(qs) / n - 0.5)]
                            for i in range(n)]
    return chosen, total


def main():
    with open(os.path.join(ROOT, "BENCH_QUERIES_r18.json")) as fh:
        times = json.load(fh)["queries"]
    tiers = tier_queries()
    chosen, total = select(times, tiers)
    sub = sum(times[q] for qs in chosen.values() for q in qs)
    print(f"full pass: {sum(map(len, tiers.values()))} queries, {total:.2f} s; "
          f"subset: {sum(map(len, chosen.values()))} queries, {sub:.2f} s "
          f"({sub / total:.1%} of the full pass)")
    for tier, qs in chosen.items():
        full = sum(times[q] for q in tiers[tier])
        part = sum(times[q] for q in qs)
        print(f"  {tier:13s} {len(qs)}/{len(tiers[tier])} queries, time share "
              f"{part / sub:.1%} of the subset vs {full / total:.1%} of the full pass: "
              + ", ".join(f"{q} ({times[q]:.3f} s)" for q in qs))


if __name__ == "__main__":
    main()
