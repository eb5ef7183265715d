"""Physical-plan property tests: the scale claims in SCALE.md are
asserted against `.explain` output, not just documented — filter
pushdown reaches the parquet scan, projections prune the read schema,
dimension joins broadcast, kNN never plans a cartesian product, and
narrow stages stay shuffle-free."""

from __future__ import annotations

import collections
import random

import pytest
from pyspark.sql import functions as F

from data_ingestion_task_spark.functions.cache import ReleaseHandle
from data_ingestion_task_spark.plans import registry


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = registry.queries_dict()

    def explain(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return explain


def test_filter_pushed_to_scan(plans):
    plan = plans("pricing_summary")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_projection_prunes_scan(plans):
    # doc_ingest_profile needs text+source only; doc_id/lang/n_chars
    # must not be read from parquet
    plan = plans("doc_ingest_profile")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "source" in read_schema
    assert "n_chars" not in read_schema and "doc_id" not in read_schema


def test_dim_join_broadcasts(plans):
    plan = plans("dim_join_rollup")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_knn_has_no_cartesian_product(plans):
    for q in ("knn_cosine_topk", "ann_lsh_topk", "ann_ivf_topk"):
        plan = plans(q)
        assert "CartesianProduct" not in plan, q


def test_chunk_explode_is_shuffle_free(plans):
    plan = plans("chunk_explode")
    # narrow map + generate only; the single orderBy for output
    # determinism is the one allowed exchange
    assert plan.count("Exchange") <= 1
    assert "Generate" in plan  # posexplode, not a Python UDTF


def test_normalizers_stay_jvm_side(plans):
    # §2.7 normalization must not plan any Python evaluation
    # (WholeStageCodegen spans only materialize once AQE finalizes the
    # plan, so the checkable static property is the absence of Python.)
    for q in ("money_normalization", "date_sanity", "acct_last4"):
        plan = plans(q)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
        assert "MapInPandas" not in plan, q


def test_extraction_python_stage_is_single(plans):
    # one Arrow-batched mapInPandas stage, no row-at-a-time Python
    plan = plans("w2_extraction_e2e")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_sequence_packing_prunes_and_bounds_shuffles(plans):
    plan = plans("sequence_packing")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema
    # bucket window + pack agg/order — never a global (single-partition)
    # window over the corpus
    assert "SinglePartition" not in plan.split("Window")[0]


def test_mixture_sample_is_narrow_until_agg(plans):
    plan = plans("mixture_weighted_sample")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "doc_id" in read_schema and "source" in read_schema
    assert "text" not in read_schema
    # hash-residue filter is pure expression work: agg + order only
    assert plan.count("Exchange") <= 2


def test_contamination_broadcasts_benchmark_side(plans):
    # the benchmark shingle side is small by nature — it must broadcast,
    # and nothing may plan a cartesian product
    plan = plans("benchmark_contamination")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _driver_labels(pairs: list[tuple[int, int]]) -> dict[int, int]:
    import numpy as np

    from data_ingestion_task_spark.plans.dedup_plans import _driver_components

    a = np.array([p[0] for p in pairs], dtype="int64")
    b = np.array([p[1] for p in pairs], dtype="int64")
    out = _driver_components(a, b)
    sizes = collections.Counter(out["cluster_id"].tolist())
    assert out["cluster_size"].tolist() == [sizes[c] for c in out["cluster_id"]]
    return dict(zip(out["doc_id"].tolist(), out["cluster_id"].tolist()))


def _star_labels(spark, pairs: list[tuple[int, int]]) -> dict[int, int]:
    from data_ingestion_task_spark.functions.cache import release_frame
    from data_ingestion_task_spark.plans.dedup_plans import _star_components

    sym = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    labels, cached = _star_components(spark.createDataFrame(sym, "a long, b long"))
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    for dep in cached:
        release_frame(dep)
    return got


def test_star_components_converges_on_long_chain(spark):
    """A 60-node chain (diameter 59) — the shape that defeats any
    per-round O(diameter) propagation. Large-star/small-star contracts
    it in O(log n) rounds (SCALE.md's above-cap route, dedup_cluster_star)
    and labels every node with the component minimum; the driver
    kernel agrees."""
    n = 60
    chain = [(i, i + 1) for i in range(n - 1)]
    # a second, disjoint chain offset by 1000 — labels must not bleed
    chain += [(1000 + i, 1001 + i) for i in range(9)]
    want = {**{i: 0 for i in range(n)}, **{1000 + i: 1000 for i in range(10)}}
    assert _star_labels(spark, chain) == want
    assert _driver_labels(chain) == want


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """Disjoint random components (spanning tree plus extra edges,
    shuffled ids), a star whose hub is not its min, and isolated
    pairs — each family in its own id block."""
    rng = random.Random(seed)
    pairs = []
    for blk in range(rng.randint(3, 6)):
        nodes = rng.sample(range(blk * 100, blk * 100 + 100), rng.randint(2, 15))
        pairs += [(nodes[i], nodes[rng.randrange(i)]) for i in range(1, len(nodes))]
        pairs += [tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(0, len(nodes)))]
    hub = 1000 + rng.randint(5, 15)
    pairs += [(hub, 1000 + i) for i in range(20) if 1000 + i != hub]
    pairs += [(2000 + 2 * i, 2001 + 2 * i) for i in range(rng.randint(1, 5))]
    return pairs


@pytest.mark.parametrize("seed", [3, 11])
def test_driver_kernel_matches_star_components(spark, seed):
    pairs = _random_graph(seed)
    assert _driver_labels(pairs) == _star_labels(spark, pairs)


def test_star_cluster_query_matches_driver_query(spark, sf_dir):
    """dedup_cluster_star and dedup_cluster_canonical implement the
    same contract — identical output row-for-row on the same corpus."""
    qs = registry.queries_dict()
    a = sorted(map(tuple, qs["dedup_cluster_canonical"](spark, sf_dir).collect()))
    b = sorted(map(tuple, qs["dedup_cluster_star"](spark, sf_dir).collect()))
    assert a == b


def test_cluster_route_forced_to_star_is_row_identical(spark, sf_dir, monkeypatch):
    """A zero pair cap sends dedup_cluster_canonical down the star
    route; its rows must equal the default (driver) route's."""
    from data_ingestion_task_spark import api
    from data_ingestion_task_spark.plans import dedup_plans

    q = registry.queries_dict()["dedup_cluster_canonical"]
    a = q(spark, sf_dir)
    assert not any(isinstance(d, ReleaseHandle) for d in a._cached_deps)
    driver_rows = list(map(tuple, a.collect()))
    monkeypatch.setattr(dedup_plans, "_DRIVER_CC_MAX_PAIRS", 0)
    b = q(spark, sf_dir)
    assert any(isinstance(d, ReleaseHandle) for d in b._cached_deps)
    assert list(map(tuple, b.collect())) == driver_rows
    api.release(a)
    api.release(b)


def test_kmeans_broadcasts_codebook_no_cartesian(plans):
    plan = plans("ivf_kmeans_refine")
    assert "CartesianProduct" not in plan
    # codebook joins are broadcast nested-loop (crossed with a
    # broadcast side), never a shuffled product
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_random_sample_is_take_ordered(plans):
    # seeded hash-order sample must plan as partial top-k per partition
    # + n-row merge (TakeOrderedAndProject), never a global
    # row_number() window (single-reducer at scale)
    plan = plans("random_sample_n")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def _global_windows(df) -> list[str]:
    """Logical-plan walk: class names of Window nodes with an EMPTY
    partitionSpec (the single-reducer shape — every row moves to one
    partition before the window function runs).

    Walks the ANALYZED plan, not the optimized one: cache substitution
    runs before optimization, so in the optimized plan every persisted
    subtree is an InMemoryRelation LEAF and anything beneath it is
    invisible — mixture_temperature's global rate-table window hid
    there until a runtime WindowExec warning exposed the blind spot."""
    hits: list[str] = []

    def walk(node):
        if node.getClass().getSimpleName() == "Window" and node.partitionSpec().isEmpty():
            hits.append(node.getClass().getSimpleName())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().analyzed())
    return hits


# Every entry here must carry a justification — a global window is only
# acceptable over an already-aggregated, provably tiny input.
GLOBAL_WINDOW_WHITELIST = {
    # 10 post-aggregation bin rows (plans/eval_plans.py): the window
    # runs AFTER the groupBy collapsed the corpus to <=10 rows.
    "ece_calibration",
    # <=7 post-aggregation taxonomy rows (plans/extract_plans.py): the
    # share denominator runs over the groupBy output; the alternative
    # (driver count()) would re-run the render+extract subtree.
    "feedback_error_clusters",
    # ~20 post-aggregation source rows (plans/corpus_plans.py): the
    # weight/corpus_n denominators window over the per-source rate
    # table, hidden under its persist() until the analyzed-plan walk.
    "mixture_temperature",
}


def test_no_unpartitioned_windows_registry_wide(spark, sf_dir):
    """The lint VERDICT r4 asked for, and two siblings in the same
    sweep: for EVERY registered query, (a) no logical Window with an
    empty partition spec outside the justified whitelist (the
    single-reducer shape — random_sample_n's global row_number
    survived two rounds because nothing mechanical caught it), (b) no
    CartesianProduct anywhere (shuffled all-pairs product; gated
    broadcast paths plan BroadcastNestedLoopJoin, which is allowed),
    (c) no BatchEvalPython (row-at-a-time Python UDF — the §2.13
    policy is Arrow-batched stages only)."""
    qs = registry.queries_dict()
    windows, cartesian, row_python = [], [], []
    for name in sorted(qs):
        df = qs[name](spark, sf_dir)
        if _global_windows(df) and name not in GLOBAL_WINDOW_WHITELIST:
            windows.append(name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_python.append(name)
        # construction-time caches (facade routing counts, retrieval
        # persists) — release per the _cached_deps contract so the
        # sweep doesn't accumulate a cache entry per query
        for dep in getattr(df, "_cached_deps", []):
            dep.unpersist()
    assert windows == [], f"unpartitioned Window in: {windows}"
    assert cartesian == [], f"CartesianProduct in: {cartesian}"
    assert row_python == [], f"row-at-a-time Python UDF in: {row_python}"


def test_window_lint_catches_seeded_regression(spark, sf_dir):
    """Prove the lint has teeth: rebuild the exact pre-r5
    random_sample_n shape (global row_number) and assert the walker
    flags it, while the landed TakeOrderedAndProject shape passes."""
    from pyspark.sql.window import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    bad = d.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    ).filter(F.col("rn") <= 25)
    assert _global_windows(bad)
    good = registry.queries_dict()["random_sample_n"](spark, sf_dir)
    assert not _global_windows(good)


def test_bucketed_query_plans_zero_hash_exchanges(spark, sf_dir):
    """SCALE.md §8.1 flipped on end-to-end: after bucketed_doc_join's
    bucketed writes, the chunk⋈doc join and the doc_id-keyed rollup
    plan with NO hash exchange (broadcast disabled so the join can't
    sidestep the property); the only movement left is the final
    presentation sort (one range exchange)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.queries_dict()["bucketed_doc_join"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the orderBy range exchange only


def test_lsh_topk_ranks_without_window(plans):
    # the top-1 + candidate count come from ONE aggregate with
    # map-side partial combine (the exchange carries one row per
    # query, not the full pair set); a Window over the pairs must not
    # reappear
    plan = plans("ann_lsh_topk")
    assert "Window" not in plan
    assert "partial_max" in plan  # map-side combine before the shuffle


def test_ivf_cent_mod_matches_duckdb_formula():
    # ann_ivf_topk derives cent_mod = max(25, n // isqrt(n)) on the
    # driver; its oracle re-derives it in SQL with an EXACT integer
    # sqrt (float-sqrt candidate corrected by +/-1 — its only possible
    # error for BIGINT n). The two must agree for EVERY index
    # cardinality or the certified parity silently depends on n —
    # sweep perfect squares +/-1 (small AND past the ~2^52 double
    # precision bound, where plain FLOOR(SQRT(n)) diverges from
    # isqrt), plus a log sweep to 2^62 (ADVICE r5 #4).
    import duckdb
    from math import isqrt

    ns = set()
    for k in range(1, 2000):
        ns.update((k * k - 1, k * k, k * k + 1))
    # boundary region of double precision: k near isqrt(2^53) and the
    # largest k whose square fits BIGINT headroom for (k+1)^2
    for k in (2**26, 2**26 + 1, 94906265, 94906266, 2**31 - 2, 10**9 + 7):
        ns.update((k * k - 1, k * k, k * k + 1))
    n = 1
    while n <= 2**62:
        ns.update((n, n + 7))
        n *= 3
    ns = sorted(x for x in ns if x >= 1)
    con = duckdb.connect()
    idiom = (
        "n // (s0 + CASE WHEN (s0+1)*(s0+1) <= n THEN 1 "
        "WHEN s0*s0 > n THEN -1 ELSE 0 END)"
    )
    rows = con.execute(
        f"SELECT n, GREATEST(25, {idiom}) FROM ("
        "SELECT n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS s0 "
        "FROM (SELECT UNNEST(?::BIGINT[]) AS n))",
        [ns],
    ).fetchall()
    for n, duck_mod in rows:
        assert duck_mod == max(25, n // isqrt(n)), n


def test_interval_join_is_binned_broadcast_hash(plans):
    # events_interval_join's whole point is that a range-containment
    # join plans as a bin equi-join, never a nested-loop compare
    # (plans/interval_plans.py module docstring).
    plan = plans("events_interval_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Generate" in plan  # interval → ≤2 bins explode


def test_bpe_pair_merge_shape(plans):
    plan = plans("bpe_pair_merge")
    # global top-k via per-partition heaps, not a full sort
    assert "TakeOrderedAndProject" in plan
    # SCALE.md generator trap: the tokenizer expression must be
    # materialized in a Project BELOW each Generate; if it leaks into
    # the Generate itself the regex re-runs per exploded token row
    # (142s vs 6s at sf1 on the identical retrieval frame).
    for line in plan.splitlines():
        if "Generate" in line:
            assert "regexp_replace" not in line, line


def test_multires_rollup_single_scan_one_shuffle(plans):
    # hypertable rollup: all three grains from ONE scan and ONE hash
    # exchange (Expand feeds a partial agg that collapses map-side);
    # the only other exchange is the cosmetic range partition for the
    # presentation orderBy.
    plan = plans("events_multires_rollup")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("hashpartitioning") == 1
