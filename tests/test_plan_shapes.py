"""Physical-plan shape regression tests.

PLANS.md documents WHY each plan scales; these tests pin the
load-bearing properties (predicate pushdown, column pruning, broadcast
joins, shuffle counts) so an operator change that silently degrades a
plan — a filter that stops reaching the scan, a broadcast that becomes
a sort-merge join, a narrow transform that grows a shuffle — fails CI
instead of surfacing as a 100x slowdown at scale.
"""

import pytest

from dask_ml_spark.plans.queries import build_catalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog():
    qs, _ = build_catalog()
    return qs


def _plan(spark, catalog, name: str) -> str:
    # the assertions target the COLD parquet-scan plan (pushdown,
    # pruning); cached fixtures from earlier tests would otherwise make
    # Spark resolve the identical scan to InMemoryTableScan and hide
    # PushedFilters entirely
    spark.catalog.clearCache()
    df = catalog[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_pricing_summary_pushdown_and_pruning(spark, catalog):
    plan = _plan(spark, catalog, "pricing_summary")
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan schema must not include unreferenced
    # wide columns like l_comment
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_comment" not in read_schema
    # two-phase aggregate: partial + final HashAggregate around one Exchange
    assert plan.count("HashAggregate") >= 2


def test_top_revenue_nations_broadcasts_dimensions(spark, catalog):
    plan = _plan(spark, catalog, "top_revenue_nations")
    # all dimension joins broadcast at this SF — no sort-merge join
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_standard_scaler_transform_is_narrow(spark, catalog):
    plan = _plan(spark, catalog, "standard_scaler_transform")
    # fitted state folds into a Project over the scan: no shuffle, no UDF
    assert "Exchange" not in plan
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython


def test_exact_dedup_single_shuffle(spark, catalog):
    plan = _plan(spark, catalog, "exact_dedup")
    # exactly ONE hash-partitioned shuffle (on the content hash); the
    # only other allowed exchange is ensure_min_partitions' round-robin
    # spread of the tiny test input (a no-op at real scale)
    assert plan.count("hashpartitioning") == 1


def test_embedding_near_dup_dedups_narrow_rows(spark, catalog):
    plan = _plan(spark, catalog, "embedding_near_dup")
    # the pair-dedup exchange must carry only (id_a, id_b, cosine) —
    # never the embedding vectors (cosine + threshold applied BEFORE
    # the shuffle); locate the dedup HashAggregate's output columns
    seg = plan.split("Exchange", 1)[0]
    # upstream of the exchange: join + cosine projection; the exchange
    # input schema appears in the (16) HashAggregate detail section
    import re

    m = re.search(r"HashAggregate[^\n]*\n[^\n]*Input \[\d+\]: \[([^]]*)\]", plan)
    assert m, plan[:500]
    agg_inputs = re.findall(r"Input \[\d+\]: \[([^]]*)\]", plan)
    dedup_inputs = [s for s in agg_inputs if "id_a" in s]
    assert dedup_inputs and all("embedding" not in s for s in dedup_inputs)


def test_predict_paths_stay_jvm(spark, catalog):
    """Model predict folds into codegen expressions — no Python in the
    lineitem-scoring plans."""
    from pyspark.sql import functions as F

    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.sources.io import load_table

    li = load_table(spark, SF_DIR, "lineitem").withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double"))
    m = LogisticRegression(max_iter=5).fit(li, ["l_quantity", "l_tax"])
    plan = m.predict(li)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "Python" not in plan
    assert "Exchange" not in plan


def test_asof_join_has_no_join_node(spark, catalog):
    """asof_purchase_attribution compiles to union + window — the
    point-in-time join contributes ZERO join operators and exactly one
    hash partition on the by-key (plus the final aggregate's)."""
    plan = _plan(spark, catalog, "asof_purchase_attribution")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "Window" in plan
    assert "Union" in plan


def test_interval_join_is_equi_hash_join(spark, catalog):
    """The BETWEEN containment must plan as an equi join on the time
    bucket — never a nested-loop/cartesian range join."""
    plan = _plan(spark, catalog, "interval_session_clicks")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_semantic_dedup_no_cartesian(spark, catalog):
    """The SemDeDup pair join keys on the cluster id — an equi join,
    not an all-pairs product."""
    plan = _plan(spark, catalog, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_corpus_dedup_is_anti_join(spark, catalog):
    plan = _plan(spark, catalog, "cross_corpus_dedup")
    assert "LeftAnti" in plan


def test_shuffle_shards_is_narrow(spark, catalog):
    # the permutation itself is a pure projection — the only Exchange
    # is the final 8-row stats aggregate, never a row-level shuffle
    from dask_ml_spark.datapipe.sampling import shuffle_shards
    from dask_ml_spark.sources.io import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    plan = shuffle_shards(docs, n_shards=8)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_normalize_text_jvm_only_without_form(spark, catalog):
    from dask_ml_spark.datapipe.text_stats import normalize_text
    from dask_ml_spark.sources.io import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    plan = normalize_text(docs, form=None)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "Exchange" not in plan and "Python" not in plan


def test_boilerplate_removal_no_self_join_no_cartesian(spark, catalog):
    plan = _plan(spark, catalog, "boilerplate_removal")
    # frequency rule = count-distinct aggregate + hash join back on the
    # line hash; never a cartesian/self-join of the lines table
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1
    assert plan.count("Generate") >= 1  # the one posexplode


def test_min_cost_supplier_broadcasts_dims(spark, catalog):
    plan = _plan(spark, catalog, "min_cost_supplier")
    # part + supplier(+nation) broadcast; the only big exchange is the
    # pair aggregate
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_part_supplier_variety_anti_join_broadcasts(spark, catalog):
    plan = _plan(spark, catalog, "part_supplier_variety")
    assert "BroadcastHashJoin" in plan
    # the blocklist NOT IN renders as LeftAnti, not a full join+filter
    assert "LeftAnti" in plan


def test_view_click_attribution_no_cartesian(spark, catalog):
    plan = _plan(spark, catalog, "view_click_attribution")
    # equi join on user_id with the time range as post-condition
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_take_ordered(spark, catalog):
    plan = _plan(spark, catalog, "weighted_doc_sample")
    # the n-smallest-keys selection must be TakeOrderedAndProject
    # (per-partition top-n + driver merge), never a global Sort+Exchange
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")
    # the A-ES key is a pure column expression: no Python anywhere
    assert "Python" not in plan


def test_heavy_hitters_recount_broadcasts_candidates(spark):
    # the candidate recount must semi-join via broadcast: the corpus
    # side never shuffles on the value key. heavy_hitters itself
    # returns certified collected rows (an ExistingRDD scan), so pin
    # the INTERNAL recount plan it executes
    from pyspark.sql import functions as F
    from dask_ml_spark.datapipe.sketches import (_candidate_recount,
                                                 _mg_summaries)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    cand = (_mg_summaries(toks, "token", 64)
            .where(F.col("value").isNotNull()).select("value").distinct())
    df = _candidate_recount(toks, "token", cand, 10)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_winsorizer_transform_is_narrow(spark, catalog):
    plan = _plan(spark, catalog, "winsorized_prices")
    # bounds fold into literals: the clip projection adds no shuffle
    # beyond the final groupBy's single Exchange, and no Python
    assert "Python" not in plan
    assert plan.count("Exchange") <= 2  # partial/final agg only


def test_image_dhash_is_narrow_jvm_only(spark, catalog):
    plan = _plan(spark, catalog, "image_dhash_bands")
    # the stub hash is pure JVM expressions: no Python worker, and the
    # only exchange permitted is the deliberate round-robin spread of
    # an under-split input
    assert "Python" not in plan
    # formatted explain lists a node in the tree AND the details block,
    # so one physical Exchange (the round-robin spread) = 2 mentions
    assert plan.count("RoundRobinPartitioning") <= 2
    assert "hashpartitioning" not in plan.lower()


def test_image_near_dup_no_cartesian(spark, catalog):
    plan = _plan(spark, catalog, "image_near_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidates come from the banded equi-join on (band, val)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_gopher_quality_is_narrow_jvm_only(spark, catalog):
    plan = _plan(spark, catalog, "gopher_quality")
    # the whole rule battery is one narrow projection over the scan:
    # no Python, no hash shuffle (the only exchange permitted is the
    # deliberate round-robin spread of an under-split input — a no-op
    # at real scale), and only doc_id + text are read
    assert "Python" not in plan
    assert plan.count("RoundRobinPartitioning") <= 2
    assert "hashpartitioning" not in plan.lower()
    read_schema = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "text" in read_schema and "source" not in read_schema


def test_url_dedup_single_shuffle_keep_one(spark, catalog):
    plan = _plan(spark, catalog, "url_dedup")
    # canonical keep-one = groupBy + join back: the aggregate's
    # exchange (+AQE join exchanges) — and no cartesian/sort-merge
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_kcenter_rounds_are_take_ordered(spark):
    """Each greedy round must plan as TakeOrderedAndProject over a
    narrow projection — not a global sort, not a shuffle."""
    from dask_ml_spark.datapipe.sampling import kcenter_sample  # noqa: F401
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # replicate one round's frame: dist-to-center projection + top-1
    vec = [0.0] * len(emb.select("embedding").first()[0])
    lit = F.array(*[F.lit(v) for v in vec])
    d = F.aggregate(F.zip_with(F.col("embedding"), lit,
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, x: a + x)
    round_df = (emb.select("vec_id", d.alias("__d"))
                .orderBy(F.desc("__d"), F.asc("vec_id")).limit(1))
    plan = round_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_dbscan_pair_join_repartitions_on_cell(spark):
    """The grid-cell candidate join must shuffle on the cell key via
    the EXPLICIT user repartition (AQE-exempt — the exploding-join
    lesson) and never degrade to a cartesian product."""
    import numpy as np

    from dask_ml_spark.operators.cluster import DBSCAN

    rng = np.random.RandomState(0)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(rng.randn(50, 2))],
        ["doc_id", "x0", "x1"])
    out = DBSCAN(eps=0.5, min_pts=3).fit_predict(df, ["x0", "x1"])
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join's keyed repartition lives ABOVE the lazy
    # localCheckpoint, so pin it on the pre-checkpoint fragment
    from dask_ml_spark.operators.cluster import _dbscan_pairs

    _, pairs = _dbscan_pairs(df, ["x0", "x1"], 0.5, "doc_id")
    pplan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "hashpartitioning(__cell" in pplan
    assert "CartesianProduct" not in pplan


def test_copurchase_triangles_pushdown_and_repartition(spark, catalog):
    """The final plan sits on the oriented-edge localCheckpoint (an
    ExistingRDD — lineage truncated by design), so the two properties
    are pinned on their own sides of the cut: the shipdate window must
    push into the EDGE-building scan, and the post-checkpoint plan
    must shuffle via the explicit oriented-source repartition with no
    cartesian degradation."""
    from pyspark.sql import functions as F

    from dask_ml_spark.operators.frequent_patterns import _pairs_hof

    spark.catalog.clearCache()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").where(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1995-07-01"))
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__arr"))
    edges = (arrs.select(F.explode(_pairs_hof(F.col("__arr"))).alias("__p"))
             .select(F.col("__p.a").alias("src"),
                     F.col("__p.b").alias("dst")).distinct())
    eplan = edges._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "PushedFilters" in eplan
    assert "l_shipdate" in eplan.split("PushedFilters", 1)[1][:400]

    plan = _plan(spark, catalog, "copurchase_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both wedge-join inputs carry the explicit AQE-exempt keyed
    # repartition on the oriented source (the checkpoint erased
    # partitioning, and AQE sizing by the small edge input would
    # coalesce the exploding join into a handful of tasks)
    assert plan.count("REPARTITION_BY_NUM") >= 2
    assert "hashpartitioning(a" in plan


def test_time_fill_events_narrow_scan_no_python(spark, catalog):
    """time_fill is pure JVM (windows + sequence explode) and the
    events scan must read only the three referenced columns."""
    plan = _plan(spark, catalog, "time_fill_events")
    assert "Python" not in plan
    # two scans: the observed branch reads (ts, user_id, value); the
    # span/grid branch is pruned all the way down to (ts, user_id)
    schemas = [chunk.split("\n", 1)[0]
               for chunk in plan.split("ReadSchema")[1:]]
    assert any("value" in s for s in schemas)
    assert all("props" not in s and "event_type" not in s
               for s in schemas)


def test_gmm_em_iteration_is_single_aggregate(spark):
    """One EM round = a pure NARROW projection (parameters literal-
    folded — r9 measured the literal plan 2.4x cheaper to build than
    the r8 broadcast-1-row-frame round, execution being ~60ms either
    way) + ONE partial+final aggregate: no join of any kind, no extra
    shuffle, no Python."""
    import numpy as np

    from dask_ml_spark.operators.mixture import GaussianMixture
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in np.random.RandomState(0)
         .randn(100, 2)], ["x", "y"])
    gm = GaussianMixture(n_components=2, max_iter=1, tol=0.0,
                         init_means=[[0.0, 0.0], [1.0, 1.0]],
                         init_weights=[0.5, 0.5],
                         init_variances=[[1.0, 1.0], [1.0, 1.0]])
    captured = {}
    orig_agg = type(df).agg

    def spy(self, *a, **k):
        out = orig_agg(self, *a, **k)
        captured["plan"] = out._jdf.queryExecution().executedPlan().toString()
        return out

    type(df).agg = spy
    try:
        gm.fit(df, ["x", "y"])
    finally:
        type(df).agg = orig_agg
    plan = captured["plan"]
    assert "Join" not in plan                   # literals, not a join
    assert "BroadcastExchange" not in plan
    assert "Python" not in plan
    assert plan.count("HashAggregate") == 2     # partial + final only


# ---------------------------------------------------------------------------
# Whole-stage-codegen compilation pins for the WIDE aggregate/projection
# family. The r12 cov_drift regression was SILENT-but-correct: per-pair
# unrolling of the A&S normal-tail polynomial blew Janino's 64 KB
# per-method bytecode limit at d≈12, Spark fell back to the interpreted
# projection (25x slower, found only by timing — SCALING.md r12). With
# spark.sql.codegen.fallback=false that exact failure THROWS instead, so
# these tests execute the widest supported shapes under strict codegen:
# a future edit that reintroduces per-pair expression unrolling (or a
# per-category CASE chain in categorical_drift) fails loudly here.


from contextlib import contextmanager


@contextmanager
def _strict_codegen(spark):
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def _pseudo_numeric_df(spark, d, n=200):
    from pyspark.sql import functions as F

    df = spark.range(n)
    for k in range(d):
        # deterministic, pairwise non-degenerate pseudo-noise
        df = df.withColumn(
            f"x{k}", (F.xxhash64("id", F.lit(k)) % 1000).cast("double"))
    # spread the rows across exactly two 1-hour windows (base epoch
    # hour-aligned: 1699999200 = 1700000000 - 800)
    return df.withColumn(
        "ts", F.timestamp_seconds(
            F.lit(1699999200) + (F.col("id") * (7200 // n)) % 7200))


@pytest.mark.parametrize("d", [12, 30])
def test_cov_drift_codegen_compiles_wide(spark, d):
    # d=12: where the r12 per-pair unroll first fell over. d=30: the
    # documented cap (streaming/drift.py) — 435 pairs, the widest plan
    # a user can build; codegen must hold all the way to it.
    from dask_ml_spark.streaming.drift import cov_drift

    df = _pseudo_numeric_df(spark, d)
    cols = [f"x{k}" for k in range(d)]
    # synthetic reference (the monitor only reads cols/corr) — skips
    # the fit aggregate, which is not what this test pins
    pairs = [(i, j) for i in range(d) for j in range(i + 1, d)]
    ref = {"n": 200.0, "cols": cols,
           "corr": [((i * 31 + j * 17) % 13 - 6) / 20.0 for i, j in pairs]}
    out = cov_drift(df, cols, "ts", ref, window="1 hour")
    with _strict_codegen(spark):
        rows = out.collect()  # Janino failure would THROW here
    # the AQE FINAL plan (post-execution) must carry codegen'd stages;
    # in the simple plan string a codegen'd node is printed with a
    # "*(n)" stage prefix (the literal WholeStageCodegen wrapper only
    # appears in the formatted mode, which AQE hides pre-execution)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "*(" in plan
    assert len(rows) == 2 * len(pairs)  # 2 windows x all pairs
    assert all(r["q_value"] is not None for r in rows)


def test_categorical_drift_codegen_compiles_at_cap(spark):
    # 512 reference categories = 512 conditional-sum aggregate columns,
    # the documented cap (streaming/drift.py): one column per category
    # plus the OTHER bucket; the K-branch CASE-chain shape this module
    # replaced with array HOFs recompiled whole-stage codegen per
    # category and is exactly what this pin guards against.
    from pyspark.sql import functions as F

    from dask_ml_spark.streaming.drift import categorical_drift

    n_cats = 512
    df = (spark.range(2000)
          .withColumn("cat", F.format_string("c%03d",
                                             (F.col("id") % 520)))
          .withColumn("ts", F.timestamp_seconds(
              F.lit(1699999200) + (F.col("id") * 3) % 7200)))
    ref = {"cats": [f"c{i:03d}" for i in range(n_cats)],
           "counts": [10.0] * n_cats, "n": 10.0 * n_cats}
    out = categorical_drift(df, "cat", "ts", ref, window="1 hour")
    with _strict_codegen(spark):
        rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "*(" in plan
    assert len(rows) == 2
    # ids 512..519 fall outside the reference's 512 categories
    assert all(r["other_frac"] > 0.0 for r in rows)


def test_r13_one_aggregate_tests_have_no_extra_shuffle(spark, catalog):
    """The r13 lazy single-aggregate statistics must stay ONE
    partial+final aggregate pair over the scan — a second Exchange
    would mean somebody added a distributed round-trip to what is a
    one-pass statistic. (jarque_bera/welch_anova assemble driver-side
    — their catalog plan is a local relation, asserted instead.)"""
    for name, max_exchanges in (("cohens_d_price", 1),
                                ("exponential_fit_conversion", 2),
                                ("zipf_token_fit", 2)):
        plan = _plan(spark, catalog, name)
        # formatted mode prints each node twice (tree + detail):
        # count tree entries only
        assert plan.count("Exchange (") <= max_exchanges, name
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
    for name in ("jarque_bera_value", "welch_anova_event_value"):
        plan = _plan(spark, catalog, name)
        assert ("LocalTableScan" in plan or "ExistingRDD" in plan), name


def test_mood_median_is_two_aggregates_one_broadcast(spark, catalog):
    """mood_median: percentile aggregate + conditional-count aggregate
    joined by a 1-row broadcast — the broadcast must not degrade to a
    sort-merge join, and no Python task may appear."""
    plan = _plan(spark, catalog, "mood_median_price")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_ad_and_ewma_drift_window_aggregates(spark, catalog):
    """ad_drift keeps the ks_drift shape (one windowed aggregation,
    array-HOF projection, no Python); ewma_drift's distributed part is
    the one windowed aggregation — the recursion is bounded driver
    state, so the PLAN must show just the aggregate."""
    plan = _plan(spark, catalog, "addrift_daily")
    assert plan.count("HashAggregate") <= 4   # ref fit + window agg
    assert "Python" not in plan
    from dask_ml_spark.streaming.drift import ewma_drift  # noqa: F401
    # ewmadrift_daily materializes driver-side; assert on the module
    # contract instead: the catalog query returns a local relation
    df = catalog["ewmadrift_daily"](spark, SF_DIR)
    plan2 = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert ("LocalTableScan" in plan2 or "LocalRelation" in plan2
            or "ExistingRDD" in plan2)


def test_smooth_scores_checkpoints_only_between_rounds(spark):
    """smooth_scores truncates lineage (localCheckpoint -> ExistingRDD
    scan) ONLY where a cut buys reuse: the edge table when several
    rounds read it, and the score state between rounds (the next round
    reads it twice). A single-round call has exactly one consumer of
    each — its plan must be fully pipelined with NO materialization
    cut, so the edge table is never stored an extra time."""
    from pyspark.sql import functions as F

    from dask_ml_spark.datapipe.graph import smooth_scores

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scores = docs.select("doc_id",
                         F.col("n_chars").cast("double").alias("score"))
    edges = docs.select(F.col("doc_id").alias("src"),
                        (F.col("doc_id") + 1).alias("dst"))

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    p1 = plan(smooth_scores(edges, scores, iters=1))
    assert "ExistingRDD" not in p1
    p2 = plan(smooth_scores(edges, scores, iters=2))
    assert "ExistingRDD" in p2


def test_frequency_levels_checkpoint_pruned_only_for_triples(spark, monkeypatch):
    """_frequency_levels cuts lineage only where a cut buys reuse: the
    frequent-item-pruned (basket, item) table feeds BOTH the pair and
    the triple explodes at max_len=3, but at max_len=2 (the
    association_rules path) it has exactly one consumer — a checkpoint
    there pays build-time planning plus a full materialization of the
    table for zero reuse. Same rule for f2 (r14): a plain
    frequent_itemsets(max_len=2) consumes f2 once (no cut); only
    association_rules (which cuts f2 itself — both rule directions) or
    the triple level justify cutting it. Pin the cut count per shape:
    max_len=2 cuts exploded/f1 (2), association_rules adds f2 (3),
    max_len=3 cuts exploded/f1/pruned/f2 (4)."""
    # patch the concrete class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract facade and instance lookups resolve on the classic class
    from pyspark.sql.classic.dataframe import DataFrame

    from dask_ml_spark.operators.frequent_patterns import (
        _frequency_levels, association_rules)

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a")],
        "basket_id int, item string")
    calls = []
    orig = DataFrame.localCheckpoint

    def counting(self, eager=True):
        calls.append(1)
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    _frequency_levels(df, "basket_id", "item", 2, 2, 300)
    n_pairs = len(calls)
    calls.clear()
    association_rules(df, "basket_id", "item", 2)
    n_pairs_reused = len(calls)
    calls.clear()
    _frequency_levels(df, "basket_id", "item", 2, 3, 300)
    n_triples = len(calls)
    assert n_pairs == 2
    assert n_pairs_reused == 3
    assert n_triples == 4


@pytest.mark.parametrize("name,budget", [("grid_search_best", 12),
                                         ("pipeline_grid_search", 18)])
def test_grid_search_best_job_budget(spark, catalog, name, budget):
    """The search queries' job budgets: their GLM grids are fitted by
    the batched Newton pass (one job per iteration for every
    (candidate, fold) model; the pipeline's scaler prefix once per
    fold) and scored by one aggregate. Per-(candidate, fold) fits took
    66 jobs in grid_search_best and 56 in pipeline_grid_search; a
    regression back to them fails here. Counted on a warm run (the
    parquet schema cache filled)."""
    tracker = spark.sparkContext.statusTracker()

    def run():
        spark.catalog.clearCache()
        before = set(tracker.getJobIdsForGroup(None) or [])
        catalog[name](spark, SF_DIR).write.mode(
            "overwrite").format("noop").save()
        return len(set(tracker.getJobIdsForGroup(None) or []) - before)

    run()
    assert run() <= budget


def test_spearman_distributed_branch_cuts_ranks_once(spark, monkeypatch):
    """spearman_rho's distributed branch (MAX_DRIVER_ROWS=0) cuts the
    ranked cumsum before splitting it per column: the final plan reads
    the materialized ranks, so prefix_sum's Python cumsum pass
    (MapInPandas) does not run once per rank frame. Values match the
    driver path."""
    from dask_ml_spark import utils
    from dask_ml_spark.functions.stats import spearman_rho

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 0)
        dist = spearman_rho(li, "l_quantity", "l_discount")
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 0
    assert dist.collect() == spearman_rho(li, "l_quantity", "l_discount").collect()


def test_ensure_min_partitions_decides_without_jobs(spark):
    """A broadcast join keeps its streamed side's partitioning, so a
    few-split scan under one is still under-partitioned: it is spread,
    and the decision reads the scan's split count off the plan instead
    of probing df.rdd (which would run the broadcast as a discarded
    job). A frame behind a shuffle is left as it is, also with no job."""
    from pyspark.sql import functions as F

    from dask_ml_spark.utils import ensure_min_partitions

    tracker = spark.sparkContext.statusTracker()

    def jobs_run_by(fn):
        before = set(tracker.getJobIdsForGroup(None) or [])
        out = fn()
        return out, len(set(tracker.getJobIdsForGroup(None) or []) - before)

    dp = spark.sparkContext.defaultParallelism
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert li.rdd.getNumPartitions() < dp
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    joined = li.join(F.broadcast(nation), li.l_suppkey == nation.n_nationkey)
    out, jobs = jobs_run_by(lambda: ensure_min_partitions(joined))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == dp

    grouped = li.groupBy("l_suppkey").count()
    out, jobs = jobs_run_by(lambda: ensure_min_partitions(grouped))
    assert jobs == 0
    assert out is grouped
