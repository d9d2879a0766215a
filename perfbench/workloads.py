"""The benchmark's workloads: named, fixed query lists over the bundled
fixtures.

Each list is run as a closed loop with one client: one query at a
time, in the list's order permuted by the run's seed. The lists are
short because every run pays a JVM start and a cold, oracle-checked
warm-up pass before its timed passes, and a run must stay well under
a minute on a 4-core host; the registry holds many more queries of
each family.
"""

from __future__ import annotations

import os

# A copy of the read-only seed=42 sf0.01 fixtures (TESTDATA.md), so a
# run reads nothing outside its checkout. sf0.01, not sf0.1: a full
# pass of each family at sf0.1 is 18-43 s here, which leaves no room
# for a warm-up pass plus several timed passes per run.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Part of the paper's traffic: frames through detect/embed/match/
    # annotate (A4-A7, Python UDFs) and one stateful stream replay. The
    # Kafka decode (A1-A3), the A8 latency replay and the other replays
    # are left out for time.
    "face_stream": (
        "ml_face_pipeline",
        "stream_dedup_replay",
    ),
    # LLM-data curation: exact and ANN top-k (the IVF recall contract
    # and nprobe ladder share the exact top-k memo; the PQ rerank is a
    # filter-and-refine tail) and MinHash dedup. No streaming, no Python.
    "curation": (
        "similarity_topk_cosine",
        "similarity_ivf_recall",
        "similarity_ivf_nprobe_ladder",
        "similarity_topk_pq_rerank",
        "dedup_minhash_lsh",
    ),
    # Short TPC-H-ish queries: Catalyst planning, per-job scheduling
    # and parquet scans, with no memo, no stream and no Python. The
    # bypass workload: streaming and curation changes must read "no
    # change" here, and a leaked session conf would show here.
    "relational": (
        "flagship_purchases_by_nation",
        "join_revenue_by_priority",
        "semi_join_active_customers",
        "anti_join_silent_customers",
        "theta_join_acctbal_dominance",
        "setop_intersect_nations",
        "cube_quantity",
        "window_rank_customers",
        "asof_join_click_before_purchase",
        "correlated_subquery_above_avg",
    ),
}
