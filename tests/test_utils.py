"""Public utility surface (reference dask_ml/utils.py exports)."""

import numpy as np
import pytest

from dask_ml_spark.utils import (
    assert_estimator_equal,
    check_random_state,
    ensure_min_partitions,
    handle_zeros_in_scale,
)


def test_handle_zeros_in_scale():
    assert handle_zeros_in_scale(0.0) == 1.0
    assert handle_zeros_in_scale(2.5) == 2.5
    out = handle_zeros_in_scale(np.array([0.0, 3.0]))
    np.testing.assert_array_equal(out, [1.0, 3.0])


def test_check_random_state():
    assert check_random_state(7).randint(100) == np.random.RandomState(7).randint(100)
    rs = np.random.RandomState(1)
    assert check_random_state(rs) is rs
    assert isinstance(check_random_state(None), np.random.RandomState)
    with pytest.raises(TypeError):
        check_random_state("nope")


def test_assert_estimator_equal():
    class E:
        pass

    a, b = E(), E()
    a.mean_ = np.array([1.0, 2.0])
    b.mean_ = np.array([1.0, 2.0 + 1e-10])
    a.classes_ = np.array(["x", "y"])
    b.classes_ = np.array(["x", "y"])
    assert_estimator_equal(a, b, atol=1e-8)
    b.mean_ = np.array([1.0, 3.0])
    with pytest.raises(AssertionError):
        assert_estimator_equal(a, b)


def test_ensure_min_partitions_noop_when_enough(spark):
    df = spark.range(1000).repartition(64)
    assert ensure_min_partitions(df).rdd.getNumPartitions() == 64
    wide = spark.range(0, 1000, 1, 64)  # 64 splits, no exchange
    assert ensure_min_partitions(wide) is wide
    small = spark.range(10).coalesce(1)
    assert ensure_min_partitions(small).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_cut_is_idempotent(spark, monkeypatch):
    # patch the concrete class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract facade and instance lookups resolve on the classic class
    from pyspark.sql.classic.dataframe import DataFrame

    from dask_ml_spark.utils import cut, local_frame

    calls = []
    orig = DataFrame.localCheckpoint

    def counting(self, eager=True):
        calls.append(1)
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    x = spark.range(10).selectExpr("id * 2 AS v")
    once = cut(x)
    assert cut(once) is once
    assert len(calls) == 1
    # a driver-built frame is already materialized: no checkpoint job
    local = local_frame(spark, [(1.0,)], "v double")
    assert cut(local) is local
    assert len(calls) == 1


@pytest.mark.parametrize("rows, ddl, want_rows", [
    ([(float("nan"), 1.0), (None, 2.0)], "a double, b double", None),
    ([], "a long, b double", None),
    ([(1, 2)], "a double, b long", [(1.0, 2)]),
    ([([1.0, float("nan")], "x", True), ([], None, None)],
     "v array<double>, s string, f boolean", None),
])
def test_local_frame_matches_list_path(spark, rows, ddl, want_rows):
    """local_frame equals createDataFrame from a list in schema and
    values (NaN stays NaN, None becomes NULL), with a LocalRelation
    plan. The list path rejects an int in a double column, so that
    case is checked against the float row."""
    from dask_ml_spark.utils import local_frame

    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(want_rows or rows, ddl)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())
    assert (got._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LocalRelation")


def test_plan_inspection_has_one_owner():
    """Each engine idiom has its owner files (none: no file may name
    it). utils.py alone reads Spark plans: the plan walker, the
    materialized-frame check and the bounded probe live there. It also
    alone turns driver results into frames (``local_frame``);
    streaming/drift.py is exempt, because the Arrow path would read its
    naive datetimes in the session zone. functions/stats.py alone
    writes the closed-form p-value tails, each once, rendered per
    engine, so no module keeps a hand copy. No module calls
    ``F.signum(``: the rank tests' sign is ``_signum`` inside their
    written-once z formula. A bounded driver collect goes through
    ``bounded_head`` or ``collect_capped``: no module but utils.py
    hand-rolls a ``limit(<cap> + 1)`` probe (a pattern, not a word).
    Connected components have one engine, ``dedup.duplicate_clusters``,
    gated by ``MAX_DRIVER_EDGES``: the retired second engine and its
    per-call gate stay gone."""
    import pathlib
    import re

    import dask_ml_spark

    owners = [
        (("utils.py",),
         ("queryExecution()", "executedPlan()", "getSimpleName()")),
        ((), ("_is_checkpoint_scan", "_behind_exchange", "_bounded_head")),
        ((), ("normal_sf_expr", "_normal_sf_sql", "ks_p_expr",
              "_ks_p_sql", "_ad_poly", "ad_p_expr", "_ad_p_sql",
              "_pois1_weight_expr", "_pois1_weight_sql", "_chi2_sf_sql")),
        (("functions/stats.py",), ("0.2316419", "_KS_TERMS")),
        ((), ("F.signum(",)),
        (("utils.py", "streaming/drift.py"), ("createDataFrame(",)),
        (("utils.py",), (re.compile(r"limit\([^()]*\+ *1\)"),)),
        ((), ("connected_components_star", "local_edges")),
    ]
    root = pathlib.Path(dask_ml_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel, text = path.relative_to(root).as_posix(), path.read_text()
        offenders += [f"{rel}: {word}" for owner, words in owners
                      if rel not in owner for word in words
                      if (word.search(text) if isinstance(word, re.Pattern)
                          else word in text)]
    assert offenders == []


def test_collect_capped_boundary(spark):
    """Exactly ``cap`` rows come back as rows; ``cap + 1`` raises the
    caller's message verbatim."""
    import pytest

    from dask_ml_spark.utils import collect_capped

    msg = "f: more than max_x=3 things (a) [b] — bin first"
    assert [r.id for r in collect_capped(spark.range(3), 3, msg)] == [0, 1, 2]
    with pytest.raises(ValueError) as err:
        collect_capped(spark.range(4), 3, msg)
    assert str(err.value) == msg


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join without a shuffle."""
    from pyspark.sql import functions as F

    from dask_ml_spark.sources.io import write_bucketed

    a = spark.range(0, 10000).withColumnRenamed("id", "k").withColumn("x", F.rand(1))
    b = spark.range(0, 10000).withColumnRenamed("id", "k").withColumn("y", F.rand(2))
    write_bucketed(a, "bk_a", 8, "k", sort_cols="k", path=str(tmp_path / "a"))
    write_bucketed(b, "bk_b", 8, "k", sort_cols="k", path=str(tmp_path / "b"))
    joined = (
        spark.table("bk_a").hint("merge").join(spark.table("bk_b"), "k")
    )
    plan = joined._sc._jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan, plan
    assert joined.count() == 10000
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from dask_ml_spark.utils import salted_join

    # skewed left: 90% of rows share key 7
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    want = left.join(right, "k").groupBy("k").count().toPandas()
    want = want.sort_values("k").reset_index(drop=True)
    # every hot_keys mode must match the plain join byte-for-byte:
    # auto-detection (fair-share threshold finds key 7), an explicit
    # hot list, the no-hot-keys degenerate, and the replicate-all
    # demonstration form
    for mode in ({"hot_keys": "auto"}, {"hot_keys": [7]},
                 {"hot_keys": []}, {"hot_keys": "all"},
                 {"hot_keys": "auto", "hot_threshold": 100}):
        got = (salted_join(left, right, "k", n_salt=8, **mode)
               .groupBy("k").count().toPandas()
               .sort_values("k").reset_index(drop=True))
        assert got.equals(want), mode


def test_salted_join_hot_key_replication(spark):
    """Hot-key-only salting must NOT replicate cold right rows: the
    salted branch carries only the hot key's right rows, the cold
    branch joins unsalted (the r8-verdict fix — the naive form
    multiplied right shuffle volume n_salt x for every key)."""
    import pytest
    from pyspark.sql import functions as F

    from dask_ml_spark.utils import salted_join

    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"))
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    out = salted_join(left, right, "k", n_salt=8, hot_keys=[7])
    # answer identity incl. row multiplicity
    assert out.count() == left.join(right, "k").count()
    # the plan's salted branch explodes ONE right row (k=7), not 50:
    # total right-side rows entering joins = 49 cold + 8 replicas
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "Union" in plan  # hot + cold branches really both exist
    # left join keeps null-key left rows exactly once (cold branch)
    left_n = left.withColumn(
        "k", F.when(F.col("v") == 0, None).otherwise(F.col("k")))
    lj = salted_join(left_n, right, "k", n_salt=8, hot_keys=[7], how="left")
    assert lj.count() == 2000
    assert lj.where(F.col("k").isNull()).count() == 1
    # the driver-collected hot list is bounded
    with pytest.raises(ValueError, match="max_hot_keys"):
        salted_join(left, right, "k", hot_keys="auto", hot_threshold=0,
                    max_hot_keys=5)


def test_check_array_validates_schema(spark):
    import pytest

    from dask_ml_spark.utils import check_array

    df = spark.range(10).selectExpr("cast(id as double) x", "cast(id as string) s")
    assert check_array(df, ["x"]) is df
    assert check_array(df) is df  # auto-resolves numeric columns
    with pytest.raises(ValueError, match="Non-numeric|numeric"):
        check_array(df, ["s"])
    with pytest.raises(TypeError):
        check_array([[1, 2]], None)


def test_check_array_finite_scan(spark):
    import pytest

    from dask_ml_spark.utils import check_array

    df = spark.sql("SELECT * FROM VALUES (1.0), (double('nan')) t(x)")
    with pytest.raises(ValueError, match="NaN"):
        check_array(df, ["x"], ensure_all_finite=True)
    ok = spark.sql("SELECT * FROM VALUES (1.0), (2.0) t(x)")
    check_array(ok, ["x"], ensure_all_finite=True)


def test_check_X_y(spark):
    import pytest

    from dask_ml_spark.utils import check_X_y

    df = spark.range(10).selectExpr("cast(id as double) x", "cast(id % 2 as double) label")
    assert check_X_y(df, "label", ["x"]) is df
    with pytest.raises(ValueError, match="Label column"):
        check_X_y(df, "nope", ["x"])


def test_check_chunks():
    import pytest

    from dask_ml_spark.utils import check_chunks

    assert check_chunks(1000, 5, chunks=4) == (250, 5)
    assert check_chunks(100, 5, chunks=50) == (100, 5)  # 100-row floor
    assert check_chunks(0, 3, chunks=(10, 3)) == (10, 3)
    with pytest.raises(AssertionError):
        check_chunks(10, 2, chunks=(1, 2, 3))


def test_copy_learned_attributes():
    from dask_ml_spark.utils import copy_learned_attributes

    class A:
        pass

    src, dst = A(), A()
    src.mean_ = [1.0]
    src.n_features_in_ = 3
    src.param = "not copied"
    src._private_ = "not copied"
    copy_learned_attributes(src, dst)
    assert dst.mean_ == [1.0] and dst.n_features_in_ == 3
    assert not hasattr(dst, "param") and not hasattr(dst, "_private_")


def test_random_date():
    from datetime import datetime

    import numpy as np

    from dask_ml_spark.datasets import random_date

    np.random.seed(0)
    start, end = datetime(2020, 1, 1), datetime(2021, 1, 1)
    for _ in range(5):
        d = random_date(start, end)
        assert start <= d < end


def test_salted_join_rejects_right_outer(spark):
    """right/full outer would replicate unmatched right rows once per
    salt — the join must refuse rather than silently duplicate."""
    import pytest

    from dask_ml_spark.utils import salted_join

    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, "k", n_salt=4, how=how)
    # left join still supported: unmatched left rows survive exactly once
    out = salted_join(left, right, "k", n_salt=4, how="left")
    assert out.count() == 10


def test_prefix_sum_does_not_mutate_input_schema(spark):
    from dask_ml_spark.datapipe.packing import prefix_sum

    df = spark.range(100).selectExpr("id AS k", "cast(1 as double) AS v")
    before = [f.name for f in df.schema.fields]
    out = prefix_sum(df, "k", "v", out_col="run")
    after = [f.name for f in df.schema.fields]
    assert before == after == ["k", "v"]  # input schema untouched
    pdf = out.orderBy("k").toPandas()
    assert pdf["run"].tolist() == [float(i) for i in range(100)]  # exclusive cumsum


def _tail_grid():
    """DOUBLE inputs for the closed-form tails, with every branch edge:
    ad_p at 0, just below 2 and at 2; each Poisson(1) threshold ±1 ulp;
    chi2_sf's x <= 0 branch."""
    import math

    from dask_ml_spark.functions.stats import _POIS1_CDF

    return ([-1.7, 0.0, 1e-3, 0.05, 0.3, 0.5, 1.0, 1.2345,
             math.nextafter(2.0, 0.0), 2.0, 3.3, 7.5]
            + [v for c in _POIS1_CDF
               for v in (math.nextafter(c, 0.0), c, math.nextafter(c, 1.0))])


def _tail_formulas():
    from dask_ml_spark.functions import stats as S

    return [(S.normal_sf, ()), (S.normal_p2, ()), (S.ks_p, ()),
            (S.ad_p, ()), (S.chi2_sf, (2,)), (S.chi2_sf, (4,)),
            (S.chi2_sf, (8,)), (S.pois1_weight, ())]


def test_tail_formulas_render_bit_exact_in_duckdb():
    """Each closed-form tail rendered as DuckDB SQL returns its Python
    value bit for bit: DOUBLE literals (a bare 2.5066282746310002 types
    as DECIMAL and casts to another double) and Python's operation
    order, every binary op parenthesized."""
    import duckdb

    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    xs = _tail_grid()
    con = duckdb.connect()
    bad = []
    for f, params in _tail_formulas():
        rows = con.execute(
            f"SELECT x, {duckdb_sql(f, 'x', *params)} "
            "FROM (SELECT unnest(?::DOUBLE[]) AS x)", [xs]).fetchall()
        assert len(rows) == len(xs)
        bad += [(f.__name__, params, x, got) for x, got in rows
                if got != f(x, *params)]
    assert bad == []
    with pytest.raises(ValueError, match="even dof"):
        duckdb_sql(chi2_sf, "x", 3)


def test_hash_bucket_engine_portability(spark):
    """The Knuth bucket expression must equal its plain-Python
    rendering on arbitrary int64 keys — this arithmetic is the contract
    every deterministic-sampling oracle (hash_split, stratified/mixture
    sampling) relies on, so it must never silently overflow or wrap
    differently in the JVM. The closed-form tails' Spark renderings
    equal their Python forms to 1e-15 relative (the JVM's exp may differ
    from libm's by an ulp or two)."""
    import math

    from pyspark.sql import functions as F

    from dask_ml_spark.functions.stats import spark_sql
    from dask_ml_spark.plans.model_selection import _hash_bucket_expr

    M, P, NB, SALT = 2654435761, 1 << 31, 10_000, 7
    keys = [0, 1, -1, 2**31 - 1, -2**31, 2**62, -2**62, 123456789012345]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["k"]: r["b"] for r in df.select(
        "k", _hash_bucket_expr("k", NB, SALT, df=df).alias("b")).collect()}
    for k in keys:
        expect = (((SALT % P + k) % P) * M % P) % NB
        assert got[k] == expect, (k, got[k], expect)

    xs = _tail_grid()
    tails = _tail_formulas()
    rows = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", *[F.expr(spark_sql(f, "x", *params)) for f, params in tails]
    ).collect()
    assert len(rows) == len(xs)
    bad = [(f.__name__, params, r[0], r[i + 1]) for r in rows
           for i, (f, params) in enumerate(tails)
           if not math.isclose(r[i + 1], f(r[0], *params), rel_tol=1e-15)]
    assert bad == []

    # the test statistics' formulas, over several argument columns:
    # each output's Spark rendering equals its Python value, zeros
    # with their sign
    bad = []
    for f, grid in _statistic_formulas():
        k = len(grid[0])
        cols = [f"a{j}" for j in range(k)]
        outs = len(f(*grid[0]))
        df = spark.createDataFrame(
            grid, ", ".join(f"{c} double" for c in cols))
        got = df.select(*[
            F.expr(spark_sql(lambda *a, i=i: f(*a)[i], *cols))
            for i in range(outs)]).collect()
        for args, r in zip(grid, got):
            want = f(*args)
            bad += [(f.__name__, args, i, r[i], want[i])
                    for i in range(outs)
                    if not (math.isclose(r[i], want[i], rel_tol=1e-15)
                            and math.copysign(1.0, r[i])
                            == math.copysign(1.0, want[i]))]
    assert bad == []


def _statistic_formulas():
    """(formula returning a tuple, argument rows) for each test
    statistic written once in functions/stats.py and metrics.py. The
    rows cover a variance <= 0 (all tied, constant groups), stat == mu
    at +0 and -0 and inside the 0.5 continuity shift, a zero count,
    and n = 2."""
    from dask_ml_spark.functions import metrics as M
    from dask_ml_spark.functions import stats as S

    def rank_normal(stat, mu, var):
        z = S._rank_z(stat, lambda m, v: (m, v), mu, var)
        return z, S._rank_p(z, lambda m, v: (m, v), mu, var)

    def log_rank(wilcoxon):
        def terms(d1, d2, r1, r2):
            return S._log_rank_terms(d1, d2, r1, r2, wilcoxon)
        return terms

    def one(f):
        def g(*a):
            return (f(*a),)
        g.__name__ = f.__name__
        return g

    return [
        (rank_normal, [(0.0, 0.0, 1.0), (-0.0, 0.0, 1.0), (0.3, 0.0, 2.0),
                       (-0.3, 0.0, 2.0), (5.0, 1.0, 4.0), (-5.0, 1.0, 4.0),
                       (1.0, 2.0, 0.0), (1.0, 2.0, -1.0)]),
        (S._mwu_moments, [(3.0, 4.0, 0.0), (2.0, 2.0, 60.0),
                          (0.0, 3.0, 24.0), (1.0, 1.0, 0.0)]),
        (S._wsr_moments, [(2.0, 0.0), (2.0, 6.0), (5.0, 6.0), (0.0, 0.0)]),
        (one(S._rank_biserial), [(3.0, 2.0, 4.0), (0.0, 1.0, 1.0)]),
        (one(S._ks_gap), [(0.0, 0.0, 1.0, 1.0), (3.0, 1.0, 5.0, 2.0),
                          (5.0, 2.0, 5.0, 2.0)]),
        (one(S._ks_lambda), [(0.3, 5.0, 7.0), (0.0, 2.0, 2.0)]),
        (S._welch, [(2.0, 3.0, 5.0, 3.0, 6.0, 14.0),
                    (2.0, 2.0, 2.0, 2.0, 2.0, 2.0),
                    (3.0, 6.0, 13.5, 4.0, 2.0, 3.0)]),
        (S._km_factor, [(0.0, 5.0), (2.0, 5.0), (3.0, 3.0)]),
        (one(S._km_survival), [(0.0, -0.5), (1.0, -0.5), (0.0, 0.0)]),
        (log_rank(False), [(1.0, 0.0, 3.0, 2.0), (0.0, 0.0, 3.0, 2.0),
                           (1.0, 0.0, 1.0, 0.0), (1.0, 1.0, 1.0, 1.0)]),
        (log_rank(True), [(1.0, 0.0, 3.0, 2.0), (0.0, 0.0, 3.0, 2.0),
                          (2.0, 1.0, 4.0, 3.0)]),
        (S._na_terms, [(0.0, 4.0), (2.0, 5.0)]),
        (S._na_band, [(0.1, 0.04, 1.96), (0.0, 0.0, 1.96)]),
        (one(M._u_term), [(2.0, 3.0, 1.0), (0.0, 4.0, 2.0)]),
    ]


def test_estimator_save_load_roundtrip(spark, lineitem, tmp_path):
    """save/load preserves fitted state across estimator families and
    the transform output is identical; subclass load type-checks."""
    import numpy as np
    import pytest

    from dask_ml_spark.base import BaseEstimator
    from dask_ml_spark.operators.cluster import KMeans
    from dask_ml_spark.operators.preprocessing import StandardScaler

    cols = ["l_quantity", "l_extendedprice"]
    sc = StandardScaler().fit(lineitem, cols)
    p = sc.save(str(tmp_path / "scaler.pkl"))
    sc2 = StandardScaler.load(p)
    a = sc.transform(lineitem.select(*cols)).toPandas()
    b = sc2.transform(lineitem.select(*cols)).toPandas()
    np.testing.assert_allclose(a.to_numpy(), b.to_numpy())
    # generic load works, wrong-subclass load raises
    assert isinstance(BaseEstimator.load(p), StandardScaler)
    with pytest.raises(TypeError):
        KMeans.load(p)


def test_assert_scalable_flags_and_waives(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dask_ml_spark.utils import ScalabilityError, assert_scalable

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")

    # clean equi-join passes and chains
    ok = a.join(b, a.id == b.id2)
    assert assert_scalable(ok) is ok

    # a broadcastable Cross BNLJ is the bounded scalar-stats pattern
    # and passes; a genuine big-big cartesian (broadcast disabled)
    # plans CartesianProduct and is flagged
    assert_scalable(a.crossJoin(b.agg(F.count("*").alias("n"))))
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cross = a.crossJoin(b)
        with _pytest.raises(ScalabilityError, match="CartesianProduct"):
            assert_scalable(cross)
        assert_scalable(cross, allow_cartesian=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # row-at-a-time Python UDF flagged; Arrow pandas UDF is fine
    slow = F.udf(lambda x: x + 1, "long")
    with _pytest.raises(ScalabilityError, match="BatchEvalPython"):
        assert_scalable(a.select(slow("id")))

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fast(s):
        return s + 1

    _fast.__annotations__ = {"s": pd.Series, "return": pd.Series}
    fast = pandas_udf(_fast, "long")
    assert_scalable(a.select(fast("id")))

    # non-equi join flagged, also against a grouped (unbounded) aggregate
    noneq = a.join(b, a.id < b.id2)
    with _pytest.raises(ScalabilityError, match="BroadcastNestedLoopJoin"):
        assert_scalable(noneq)
    grouped = F.broadcast(b.groupBy("id2").count())
    with _pytest.raises(ScalabilityError, match="BroadcastNestedLoopJoin"):
        assert_scalable(a.join(grouped, a.id < grouped.id2))
    # the 1-row scalar broadcast whose filter Spark pushes into the BNLJ
    # condition (idle_customers, important_parts) is bounded and passes
    avg = F.broadcast(b.agg(F.avg("id2").alias("m")))
    assert_scalable(a.crossJoin(avg).where(F.col("id") > F.col("m")))


def test_assert_scalable_accepts_library_pipelines(spark):
    # the lint must not flag the library's own scalar-broadcast
    # patterns — pagerank crossJoins a 1-row dangling-mass aggregate
    from dask_ml_spark.datapipe.graph import pagerank
    from dask_ml_spark.utils import assert_scalable

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    assert_scalable(pagerank(edges, iters=2))

    # smooth_scores: equi joins + degree-bounded aggregates only
    from dask_ml_spark.datapipe.graph import smooth_scores
    scores = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], ["doc_id", "score"])
    assert_scalable(smooth_scores(edges, scores, iters=2))


def test_sql_scalar_lit_legacy_parser_refuses_only_escapes(spark):
    """Under spark.sql.parser.escapedStringLiterals=true a string with
    no quote or backslash parses the same as under the default parser,
    so it is accepted; one with a quote would mis-parse and is
    refused."""
    from pyspark.sql import functions as F

    from dask_ml_spark.utils import sql_scalar_lit

    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        lit = sql_scalar_lit("doc_42")
        assert spark.range(1).select(F.expr(lit).alias("v")).first()["v"] == "doc_42"
        with pytest.raises(ValueError, match="quote or backslash"):
            sql_scalar_lit("it's")
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    assert sql_scalar_lit("it's") == "'it\\'s'"


def test_get_spark_master_defaults_to_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the local master is sized by the cores
    this process may run on; the variable still overrides it."""
    import os

    from dask_ml_spark import _session

    class Recorder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            self.conf["master"] = master
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setattr(_session.SparkSession, "builder", Recorder())
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    conf = _session.get_spark()
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _session.get_spark()["master"] == "local[3]"
