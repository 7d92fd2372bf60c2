"""Seeded request plans for the two workloads.

Everything the seed decides lives here: the order of the analytics
requests (dashboard queries and curation jobs), and so which earlier
request each repeat follows, and the stream's start timestamp.
The program only ever sees the generated tables and these sequences.
"""
import datetime as dt
import random

# Reference-surface GeoMTS queries an analyst issues from the dashboard:
# cohort KPIs through QueryEngine, cohort semi-joins, series windows and
# trajectory operators.
DASHBOARD = [
    "cohort_analysis_e2e", "p3_semi_join_cohort", "a1_kpis",
    "s2_date_range_scan", "w6_trailing_window_kpis", "w8_sessionize",
    "g3_trajectory_assembly", "g7_radius_search",
]
# Heavy training-data curation jobs: trajectory similarity (a Dedup prefix
# self-join), graph iteration, bootstrap statistics (md5 resampling
# kernels) and text decontamination.
CURATION = [
    "traj_similarity_grid", "graph_pagerank", "stats_bootstrap_ci",
    "text_decontaminate",
]
# A pass issues the dashboard queries in 1 + REPEATS rounds, each round
# every query once in its own seeded order: every request after the first
# round repeats one issued at most 2 * len(DASHBOARD) - 1 requests before.
# Each query is issued once in every part of the pass, so its place in the
# seeded order does not decide how warm the JVM is when it runs.
REPEATS = 2


def _rng(seed, stream):
    return random.Random(f"{stream}:{seed}")


def analytics_passes(seed, n_passes):
    """Passes of requests. Each pass is 1 + REPEATS rounds of the dashboard
    queries, each round in its own seeded order, then the curation jobs in
    seeded order. Every pass holds the same requests, so only their order
    depends on the seed.
    """
    rng = _rng(seed, "analytics")
    passes = []
    for _ in range(n_passes):
        dash = []
        for _ in range(1 + REPEATS):
            order = DASHBOARD[:]
            rng.shuffle(order)
            dash += order
        jobs = CURATION[:]
        rng.shuffle(jobs)
        passes.append(dash + jobs)
    return passes


def stream_start(seed, first, days):
    """Seeded replay start: a whole second within the events' time span."""
    rng = _rng(seed, "stream")
    t = first + dt.timedelta(seconds=rng.randrange(days * 86400))
    return t.strftime("%Y-%m-%d %H:%M:%S")
