"""Physical-plan regression tests: assert each flagship operator
compiles to the plan shape that survives a 100x scale-up — broadcast
where a side is small, pushdown reaching the scan, top-k as
TakeOrdered, no stray cartesian products, salted/banded joins staying
equi. A perf regression here shows up as a plan-shape diff long
before it shows up in a benchmark."""

from __future__ import annotations

import re

import pytest

from eye_of_sauron_spark import plans


def _plan(spark, sf_dir, name: str) -> str:
    df = plans.all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "flagship_purchases_by_nation")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # fact side must not shuffle for dims


def test_pushdown_reaches_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "filter_projection_pushdown")
    assert "PushedFilters: [" in p and "IsNotNull" in p


def test_topk_is_take_ordered(spark, sf_dir):
    p = _plan(spark, sf_dir, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in p  # never a global sort


def test_no_cartesian_outside_cross_join(spark, sf_dir):
    for name in sorted(plans.all_queries()):
        if name in ("cross_join_region_pairs", "theta_join_acctbal_dominance"):
            continue  # intentionally non-equi
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name


def test_match_is_broadcast_nlj(spark, sf_dir):
    # the A6 match: corpus x tiny target set must broadcast the targets
    p = _plan(spark, sf_dir, "ml_match_first_target")
    assert "BroadcastNestedLoopJoin" in p


def test_dedup_joins_stay_equi(spark, sf_dir):
    # banded/bucketed candidate generation must plan as equi joins
    # dedup_minhash_recall: the pair-alignment join on (doc_a, doc_b)
    # must also stay equi (AQE choosing BroadcastHashJoin is fine)
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_minhash_recall",
    ):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_aggregation_is_partial_final(spark, sf_dir):
    # map-side combine before the exchange: shuffle volume O(groups)
    # (AQE's pre-execution string omits WholeStageCodegen wrappers, so
    # assert the aggregate/pushdown structure instead)
    p = _plan(spark, sf_dir, "pricing_summary")
    assert "partial_sum" in p and "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python anywhere


def test_no_row_python_udfs_anywhere(spark, sf_dir):
    # Arrow-vectorized plans only: ArrowEvalPython / FlatMapsInPandas
    # are fine, BatchEvalPython (pickled row UDF) never is
    for name in sorted(plans.all_queries()):
        p = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in p, name


@pytest.mark.parametrize(
    "name",
    ["stream_tumbling_window", "stream_sliding_window", "stream_session_window"],
)
def test_windowed_aggs_are_partial_final(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "HashAggregate" in p or "ObjectHashAggregate" in p or "SortAggregate" in p


def test_asof_join_is_window_not_nested_loop(spark, sf_dir):
    # batch as-of = union + per-key window scan, never a range NLJ
    p = _plan(spark, sf_dir, "asof_join_click_before_purchase")
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_interval_join_keeps_equi_key(spark, sf_dir):
    # the user_id equi component must anchor a hash/SMJ join; the time
    # bounds are post-join predicates, not a nested-loop condition
    p = _plan(spark, sf_dir, "interval_join_activity_before_error")
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    )
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_connected_components_chain_converges_logarithmically(spark):
    # A 400-node chain has label eccentricity 399: one-hop neighbor-min
    # propagation would need 399 rounds, so a 12-round cap only passes
    # if pointer jumping (comp := comp[comp]) is actually halving the
    # remaining distance each round (ADVICE r02: the old fixed 20-round
    # loop silently returned unconverged labels on long chains).
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import connected_components

    n = 400
    edges = spark.range(n - 1).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("d")
    )
    sym = edges.unionAll(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)
    labels = connected_components(sym, max_rounds=12).collect()
    assert len(labels) == n
    assert all(r["comp"] == 0 for r in labels)


def test_connected_components_raises_when_capped(spark):
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import connected_components

    edges = spark.range(63).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("d")
    )
    sym = edges.unionAll(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(sym, max_rounds=2)


def test_embedding_dedup_joins_on_band_signature(spark, sf_dir):
    # the candidate join must key on the hyperplane band signature, not
    # label alone — label-only pruning is O(n^2/labels) at 100 TB
    # (VERDICT r03 "What's wrong #2"); bsig in the join keys is what
    # makes candidate volume O(collisions)
    # The signature must appear in the join's KEY lists, not merely in
    # its line: an ambiguous self-join column ("bsig" unaliased on both
    # sides) resolves to a trivially-true predicate that Catalyst keeps
    # as a post-join condition — the string "bsig" still shows up on
    # the join line while the hashed keys silently shrink to label
    # alone (measured 4.7x slower at sf0.1; O(n^2/labels) at scale).
    # The aliased ba/bb columns are the fix; require them as paired
    # equi keys.
    p = _plan(spark, sf_dir, "dedup_embedding_cosine")
    joins = [
        ln
        for ln in p.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]
    assert any(
        re.search(r"\[[^\]]*\bba#\d+[^\]]*\], \[[^\]]*\bbb#\d+[^\]]*\]", ln)
        for ln in joins
    ), joins


def test_ngram_df_cutoff_drops_stop_shingles_keeps_neardups(spark):
    # A stop-shingle shared by m docs emits O(m^2) pairs; the df-cutoff
    # must drop it from the postings index BEFORE pair emission
    # (VERDICT r04 #4) while true near-dups (low-df shingles) survive.
    from pyspark.sql import functions as F  # noqa: F401

    from eye_of_sauron_spark.plans.dedup import (
        _NGRAM_DF_CAP,
        ngram_dropped_shingle_count,
        ngram_jaccard_pairs,
    )

    n_stop = _NGRAM_DF_CAP + 16  # hot shingles exceed the cap
    rows = [
        # every doc shares "alpha beta gamma delta" (3 hot shingles of
        # width 3 over 4 shared words... actually 2: abc,bcd) plus a
        # unique tail so stop docs are not near-dups of each other
        (i, f"alpha beta gamma delta unique{i} tail{i} words{i} end{i}")
        for i in range(n_stop)
    ]
    # planted near-dup pair: long shared low-df shingle run
    near = "planted shingle run that repeats across exactly two documents "
    rows.append((10_000, near * 4 + "variant one"))
    rows.append((10_001, near * 4 + "variant two"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    diag = ngram_dropped_shingle_count(docs).collect()[0]
    assert diag["dropped_shingles"] > 0  # the cap actually engaged
    assert diag["max_df"] == n_stop

    got = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs).collect()
    }
    assert got == {(10_000, 10_001)}


def test_minhash_bands_must_divide_k(spark):
    # a band count that does not divide the minhash count would drop
    # trailing minhashes; it must fail while the plan is built
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import _MINHASH_K, _band_sigs

    _band_sigs(F.col("hs"), _MINHASH_K)  # dividing counts build fine
    with pytest.raises(AssertionError, match="do not divide"):
        _band_sigs(F.col("hs"), 3)


def test_simhash_no_degenerate_bands(spark, sf_dir):
    # Degenerate-band detector: with a 32-bit token hash, bits 32-63 of
    # the "64-bit" signature were constant 0, so the upper 4 of 8 bands
    # shared one value across every document and their band joins were
    # all-pairs self-joins (VERDICT r04 "What's wrong #2"). Every band
    # must take >1 distinct value on the real corpus.
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import (
        _SIMHASH_BAND_BITS,
        _SIMHASH_BANDS_PER_HALF,
        simhash_signatures,
    )
    from eye_of_sauron_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sims = simhash_signatures(docs)
    exprs = []
    for half_col in ("slo", "shi"):
        for b in range(_SIMHASH_BANDS_PER_HALF):
            exprs.append(
                F.count_distinct(
                    F.expr(
                        f"({half_col} div {2 ** (_SIMHASH_BAND_BITS * b)})"
                        f" % {2 ** _SIMHASH_BAND_BITS}"
                    )
                ).alias(f"{half_col}_{b}")
            )
    counts = sims.agg(*exprs).collect()[0].asDict()
    assert all(v > 1 for v in counts.values()), counts


def test_simhash_finds_all_planted_close_pairs(spark, sf_dir):
    # Pigeonhole completeness, end to end: plant exact duplicates
    # (hamming 0 — must collide on all 8 bands) on top of the real
    # corpus, compute exact ground truth (all pairs at hamming <=
    # _HAMMING_MAX of the collected signature set), and require the
    # banded candidate join to surface exactly that set.
    from pyspark.sql import functions as F

    from eye_of_sauron_spark.plans.dedup import (
        _HAMMING_MAX,
        simhash_pairs,
        simhash_signatures,
    )
    from eye_of_sauron_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    docs = base.unionAll(planted)

    sigs = {
        r["doc_id"]: (r["slo"], r["shi"])
        for r in simhash_signatures(docs).collect()
    }
    ids = sorted(sigs)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
                sigs[a][1] ^ sigs[b][1]
            ).count("1")
            if h <= _HAMMING_MAX:
                expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()
    }
    assert got == expected
    assert expected  # the planted duplicates guarantee a non-empty set


def test_embedding_dedup_banding_has_full_recall(spark, sf_dir):
    # banded sub-bucketing must find EVERY pair the exact all-pairs
    # scan finds at the 0.9 threshold (recall 100% on the fixture);
    # precision is structural (candidates are cosine-verified)
    import duckdb

    from eye_of_sauron_spark.plans.dedup import (
        _COSINE_NEARDUP,
        _DRIFT_DUCK,
        _EMB_COPY_OFFSET,
    )
    from eye_of_sauron_spark.functions.vector import cosine_duck

    banded = {
        (r["vec_a"], r["vec_b"])
        for r in plans.all_queries()["dedup_embedding_cosine"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    exact = con.execute(
        f"""
        WITH corpus AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            UNION ALL
            SELECT vec_id + {_EMB_COPY_OFFSET}, label, {_DRIFT_DUCK}
            FROM embeddings WHERE vec_id % 5 = 0
        )
        SELECT a.vec_id, b.vec_id FROM corpus a JOIN corpus b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {cosine_duck('a.emb', 'b.emb')} >= {_COSINE_NEARDUP}
        """
    ).fetchall()
    assert banded == {(a, b) for a, b in exact}
    assert len(banded) > 0


def test_verify_first_names_are_registered():
    # every name the driver-priority list emits first must be a real
    # registered query — ghost entries starve the rotation silently
    # (VERDICT r03/r04); and priority names must be unique
    from eye_of_sauron_spark.plans.registry import _REGISTRY, _VERIFY_FIRST

    ghosts = [n for n in _VERIFY_FIRST if n not in _REGISTRY]
    assert not ghosts, f"ghost _VERIFY_FIRST entries: {ghosts}"
    assert len(set(_VERIFY_FIRST)) == len(_VERIFY_FIRST)
    # ordering contract: all_queries() leads with the priority names
    first = list(plans.all_queries())[: len(_VERIFY_FIRST)]
    assert first == list(_VERIFY_FIRST)


def test_tfidf_vocab_join_degrades_to_shuffle(spark, sf_dir):
    # the tf⋈df vocabulary join must NOT carry an explicit broadcast
    # hint: at web scale the distinct-term table is GBs and a forced
    # broadcast OOMs (VERDICT r05 #2). With the auto-broadcast
    # threshold disabled (simulating a vocab side too large to
    # broadcast) the join must degrade to a shuffle join — a hint
    # would override the threshold and keep BroadcastHashJoin.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        p = _plan(spark, sf_dir, "tfidf_top_terms")
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )


def test_decontam_broadcasts_eval_spans(spark, sf_dir):
    # the eval-span set is a fixed benchmark (corpus-independent size):
    # the corpus-side match must be a broadcast hash join so the
    # training corpus never shuffles on span
    p = _plan(spark, sf_dir, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_substring_spans_is_join_free(spark, sf_dir):
    # one exchange on (lang, span) for the df window; no join at all
    p = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "Join" not in p
    assert "Window" in p


def test_mixture_prefilters_before_window(spark, sf_dir):
    # the per-source cutoff table (one row per source) broadcasts, and
    # the hv < cut pre-filter must sit below the row_number window so
    # the sort only sees ~margin*cap survivors per source
    p = _plan(spark, sf_dir, "mixture_cap_per_source")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    filter_pos = p.index("(hv")
    window_pos = p.index("row_number")
    assert filter_pos > window_pos  # executedPlan prints top-down: the
    # window sits above (earlier in the string than) the filter


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # both sides bucketed+sorted on the join key, one file per bucket:
    # the merge join must consume the bucketed scans directly — zero
    # Exchange anywhere in the join subtree (the whole point of paying
    # the shuffle at write time)
    from eye_of_sauron_spark.plans.storage import bucketed_join_plan

    p = bucketed_join_plan(spark, sf_dir)
    assert "SortMergeJoin" in p
    assert "Exchange" not in p


def test_registered_storage_queries_localcheckpoint(spark, sf_dir):
    # round-trip queries delete their temp inputs before returning;
    # the result must stay collectable afterwards (pinned rows)
    from eye_of_sauron_spark import plans

    for name in ("jsonl_roundtrip_ingest", "csv_roundtrip_ingest",
                 "join_bucketed_colocated"):
        df = plans.all_queries()[name](spark, sf_dir)
        assert df.count() > 0  # collect AFTER the temp dirs are gone


def test_salted_join_spreads_keys(spark, sf_dir):
    # the join must key on (user key, salt) — salt present in BOTH key
    # lists — and be a shuffle join (salting a broadcast join is
    # pointless); the dim replication must be in-plan (explode), not a
    # union of scans
    p = _plan(spark, sf_dir, "join_salted_skew")
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p
    join_line = next(
        ln for ln in p.splitlines()
        if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln
    )
    assert join_line.count("_salt") == 2, join_line
    assert "Generate explode" in p


# Queries whose hot expressions (shingling folds, hyperplane
# signatures) sit above a spread exchange. Catalyst's
# InferFiltersFromGenerate (non-outer explode) and join-key
# isnotnull inference would clone those expressions into a Filter and
# push them below the exchange onto the scan's single input split —
# serializing the most expensive work on one core and evaluating it
# twice (measured 2-4x per query before the explode_outer /
# non-nullable-key fixes). Pin the absence of heavy expressions in
# ANY Filter node for the whole family.
_HEAVY_FILTER_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_incremental_corpus",
    "decontaminate_ngram_overlap",
    "dedup_substring_spans",
    "similarity_topk_lsh",
    "similarity_lsh_recall",
)


@pytest.mark.parametrize("name", _HEAVY_FILTER_QUERIES)
def test_no_heavy_exprs_in_filters(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    for m in re.finditer(r"Filter (.*)", p):
        line = m.group(1)
        assert "transform(" not in line and "aggregate(" not in line, (
            f"{name}: heavy expression cloned into a Filter "
            f"(pushdown below the spread exchange): {line[:200]}"
        )


def test_cdc_snapshot_is_partial_agg_not_window(spark, sf_dir):
    # last-writer-wins must plan as a combine-first hash aggregate
    # (O(partitions) shuffled rows per hot key), never the textbook
    # row_number window (full-history sort-shuffle)
    # (struct-valued max_by plans as SortAggregate — the sorts are
    # per-partition on the group key, spillable, not a global sort)
    p = _plan(spark, sf_dir, "cdc_latest_snapshot")
    assert "Window" not in p
    assert "partial_max_by" in p  # map-side combine before the shuffle
    assert p.count("Exchange hashpartitioning") == 1


def test_scd2_merge_single_dim_join(spark, sf_dir):
    # ONE join touches the dimension (the full outer merge); the
    # 1-or-2-version expansion is a narrow explode, and the cutoff is
    # a broadcast single-row aggregate — never a repeated dim scan
    p = _plan(spark, sf_dir, "scd2_merge_customers")
    assert "CartesianProduct" not in p
    # the DIMENSION is scanned exactly once (the 3-branch UNION MERGE
    # scans it three times); orders twice — main branch + the 1-row
    # cutoff aggregate, which is column-pruned to o_orderdate alone
    assert p.count("customer.parquet") == 1
    assert p.count("FileScan parquet") == 3
    assert "ReadSchema: struct<o_orderdate:timestamp>" in p
    assert "FullOuter" in p
    assert "Generate explode" in p


def test_bigram_lm_two_exchanges(spark, sf_dir):
    # one O(tokens) combine-first shuffle for the pair counts, then a
    # single exchange on lang shared by BOTH window passes (marginal
    # sum + top-k rank) via the partitioning-subset rule
    p = _plan(spark, sf_dir, "text_bigram_lm")
    assert p.count("Exchange hashpartitioning") == 2


def test_keyless_range_join_is_banded_equi(spark, sf_dir):
    # the 60 s window with NO equi key must plan as a bucket hash join
    # (band expansion), never the nested-loop Catalyst would pick for
    # a raw theta join
    p = _plan(spark, sf_dir, "range_join_time_buckets")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_single_exchange_rank_operators(spark, sf_dir):
    # winsorize / equi-depth: all windows + the final shape share ONE
    # hash exchange on the group key
    for name in ("winsorize_values_by_type", "histogram_equi_depth_value"):
        p = _plan(spark, sf_dir, name)
        assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, name
        assert "SortMergeJoin" not in p, name


def test_zscore_broadcasts_moments(spark, sf_dir):
    # the tiny per-type moments table must broadcast back onto the scan
    p = _plan(spark, sf_dir, "anomaly_zscore_events")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_skyline_has_no_unpartitioned_big_window(spark, sf_dir):
    # the only unpartitioned window runs over the per-month aggregate
    # (tiny); every window over order rows is bucket-partitioned, and
    # the frontier never self-joins
    p = _plan(spark, sf_dir, "skyline_pareto_orders")
    assert "BroadcastHashJoin" in p  # later_min joins back via broadcast
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_edit_distance_reuses_band_exchange(spark, sf_dir):
    # at scale (no broadcast) the band self-join's right side must be a
    # ReusedExchange of the cap-window's shuffle: ONE text shuffle total
    from eye_of_sauron_spark.session import get_spark  # noqa: F401

    df = plans.all_queries()["dedup_edit_distance"](spark, sf_dir)
    with _no_broadcast(spark):
        df2 = plans.all_queries()["dedup_edit_distance"](spark, sf_dir)
        p = df2._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in p
    # and the Levenshtein DP must live in the aggregate, not a filter
    # (a pushed filter would clone it — the SCALE.md double-eval trap)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"Filter [^\n]*levenshtein", opt)


class _no_broadcast:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev_thr = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev_thr)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev_aqe)


def test_ivf_assignment_is_narrow_no_window_shuffle(spark, sf_dir):
    # r09: cell assignment / probe selection fold the broadcast
    # centroid array per-row (argmax via array_sort comparator) — the
    # corpus side must touch exactly TWO exchanges (_spread + the
    # final ranking window) and ONE Window (the final per-query
    # top-k, with its map-side WindowGroupLimit). A regression to the
    # crossJoin+window assignment shape doubles both counts and
    # shuffles corpus x cells rows.
    import re

    p = _plan(spark, sf_dir, "similarity_topk_ivf")
    assert len(re.findall(r"\bWindow\b", p)) == 1
    assert "WindowGroupLimit" in p
    n_shuffle = len(re.findall(r"\bExchange hashpartitioning", p))
    assert n_shuffle <= 2, p


def test_span_coverage_single_pass_no_span_join(spark, sf_dir):
    # r09: duplicated-span detection must be the SINGLE (lang, span)
    # window pass (dense_rank-then-max distinct-doc frequency) — the
    # first cut self-joined occurrences against a distinct dup set
    # and paid the span string build twice (~5 s vs ~1.4 s at sf0.1).
    # A span-keyed join reappearing means the expensive relation is
    # being computed twice again. The doc_id island-merge window must
    # stay partitioned (no global sort), and no collect_set may hold
    # a hot span's doc set in window state.
    import re

    p = _plan(spark, sf_dir, "dedup_span_coverage")
    assert not re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[lang#\d+, span#\d+\]", p
    ), p
    assert re.search(r"windowspecdefinition\(lang#\d+, span#\d+", p), p
    assert re.search(r"Window .*windowspecdefinition\(doc_id#\d+L", p), p
    assert "collect_set" not in p, p


def test_span_rewrite_single_pass_and_rebuild_is_narrow(spark, sf_dir):
    # same single-pass discipline as the coverage operator, plus: the
    # island arrays must come back to the corpus through a doc_id
    # equi-join, and the rebuild itself is a narrow array filter (no
    # extra exchange for reconstruction).
    import re

    p = _plan(spark, sf_dir, "dedup_span_rewrite")
    assert not re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[lang#\d+, span#\d+\]", p
    ), p
    assert re.search(r"windowspecdefinition\(lang#\d+, span#\d+", p), p
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[doc_id#\d+L\]", p
    ), p
    assert re.search(r"Window .*windowspecdefinition\(doc_id#\d+L", p), p
