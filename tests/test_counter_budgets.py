"""Per-check Spark job and stage budgets, read through
``tools/measure.py``: an added barrier (an eager ``collect()``, a new
exchange) fails here instead of hiding in wall-time noise.

Budgets are the larger of the counts measured at ``local[4]`` and
``local[8]`` at sf0.001.  Tasks and bytes are not pinned: they move with
the core count.  ``sessionize_stream`` runs no Python worker: its
Python bytes are pinned at 0."""

from __future__ import annotations

# check: (jobs, stages) of one warm run
BUDGETS = {
    "sort_limit": (2, 2),
    "pipeline_pretrain": (9, 9),
    "dedup_clusters": (13, 19),
    "triangle_count": (13, 13),
    "sessionize_stream": (7, 9),
    "bpe_merges": (11, 19),
    "retrieval_mmr": (10, 10),
    "stream_hourly": (5, 6),
    "stream_join_outer": (6, 8),
    "dedup_stream": (5, 6),
    "pagerank": (6, 13),
    "kcore": (10, 10),
    "random_walks": (15, 15),
    "dedup_clusters_star": (18, 34),
    "stream_join": (5, 7),
    "stream_join_full": (6, 8),
    "stream_enrich": (7, 7),
    "stream_cms": (5, 7),
    "mm_features": (5, 5),
}


def test_checks_stay_within_counter_budgets(spark, sf_dir):
    from tools.measure import profile

    over = {}
    for rec in profile(spark, list(BUDGETS), sf_dir, 1):
        assert "error" not in rec, rec
        jobs, stages = BUDGETS[rec["check"]]
        if rec["check"] == "sessionize_stream":
            assert rec["python_bytes"] == 0, rec
        if rec["jobs"] > jobs or rec["stages"] > stages:
            over[rec["check"]] = {"jobs": (rec["jobs"], jobs),
                                  "stages": (rec["stages"], stages)}
    assert not over, f"(measured, budget) over budget: {over}"
