#!/usr/bin/env python3
"""Apply the query_mix selection rule to tail_survey.json and print the picks.

Usage: python3 perfbench/select_query_mix.py

The rule (perfbench/README.md, "How query_mix was chosen"): order the
sub-second tail by jobs per query, then by sf0.1 time, then by name. Walk
its cumulative sf0.1 time and pick the query that holds the midpoint of
each tenth of it. Each pick stands for a tenth of the tail's time, so the
picks follow the tail's time-weighted spread of jobs per query.

Prints each pick with its survey row and the share of the tail's jobs and
sf0.1 time that the picks cover.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
SAMPLES = 10


def main():
    survey = json.load(open(os.path.join(HERE, "tail_survey.json")))["queries"]
    time = {q: r[0] for q, r in survey.items()}
    jobs = {q: r[1] for q, r in survey.items()}
    order = sorted(survey, key=lambda q: (jobs[q], time[q], q))
    total = sum(time.values())
    picks, cum = [], 0.0
    for q in order:
        lo, cum = cum, cum + time[q]
        picks += [q for i in range(SAMPLES) if lo <= (i + 0.5) / SAMPLES * total < cum]
    for q in picks:
        print(q, dict(zip(["sf0_1_s", "jobs", "build_jobs", "checkpoint_scans"], survey[q])))
    print(f"{len(picks)} of {len(survey)} tail queries; "
          f"{sum(jobs[q] for q in picks) / sum(jobs.values()):.1%} of its jobs, "
          f"{sum(time[q] for q in picks) / total:.1%} of its sf0.1 time")


if __name__ == "__main__":
    main()
