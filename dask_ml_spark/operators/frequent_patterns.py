"""Frequent-itemset mining and association rules.

Beyond the reference (dask/dask-ml have no pattern-mining module;
the single-node analog is mlxtend's apriori). MLlib ships FPGrowth,
but it collects the frequent-item list and builds per-partition
FP-trees in Scala; this implementation keeps everything declarative
DataFrame ops so Catalyst owns the plan and the oracle can replay it.

Algorithm (apriori, levels 1-3):
  baskets   = groupBy(basket).collect_set(item)        -- 1 shuffle
  F1        = explode -> count per item >= min_count   -- 1 shuffle
  prune     = semi-join items back to F1 members       -- AQE picks
              broadcast when F1 is small; stays a hash join when a
              100 TB corpus has millions of frequent items (no
              driver collect anywhere)
  F2        = per-basket combination explode of the PRUNED, sorted
              item array (a HOF over the array -- no self-join, no
              basket x basket shuffle), count >= min_count
  F3        = same with items additionally pruned to F2 participants

Member pruning cannot change the result set (support(X) <=
support(x) for every x in X, so an itemset with an infrequent member
can never reach min_count) -- it only bounds the combination explode.

Skew contract: the explode is C(m, len) per basket, so one
pathological basket with thousands of distinct items would dominate;
fits with > max_basket_items distinct frequent items fail fast with
raise_error (the fuzzy_join max_key_len precedent) instead of
silently running a quadratic/cubic task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import cut


def _pairs_hof(arr):
    """All (a < b) combinations of a sorted array, via slices — cost
    C(m,2), not m²."""
    return F.flatten(F.transform(
        arr, lambda x, i: F.transform(
            F.slice(arr, i + 2, F.size(arr)),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))


def _triples_hof(arr):
    """All (a < b < c) combinations via nested slices — cost C(m,3)."""
    return F.flatten(F.transform(
        arr, lambda x, i: F.flatten(F.transform(
            F.slice(arr, i + 2, F.size(arr)), lambda y, j: F.transform(
                F.slice(arr, i + j + 3, F.size(arr)),
                lambda z: F.struct(x.alias("a"), y.alias("b"),
                                   z.alias("c")))))))


def _guarded_arrays(items: DataFrame, basket_col: str, item_col: str,
                    max_basket_items: int):
    arr = F.sort_array(F.collect_set(item_col)).alias("__arr")
    guarded = F.when(
        F.size("__arr") > max_basket_items,
        F.raise_error(F.concat(
            F.lit(f"basket exceeds max_basket_items={max_basket_items} "
                  "distinct frequent items (combination explode is "
                  "C(m, len) per basket): basket "),
            F.col(basket_col).cast("string")))
    ).otherwise(F.col("__arr"))
    return (items.groupBy(basket_col).agg(arr)
            .select(basket_col, guarded.alias("__arr")))


def _frequency_levels(df: DataFrame, basket_col: str, item_col: str,
                      min_count: int, max_len: int,
                      max_basket_items: int):
    """(f1, f2, f3, n_baskets_df) support tables; f3 None if max_len<3."""
    if max_len not in (1, 2, 3):
        raise ValueError("max_len must be 1, 2, or 3")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    # distinct (basket, item) rows — exactly what collect_set-per-basket
    # then explode produced (collect_set also dropped NULL items), but
    # as one codegen hash aggregate with no array build/teardown.
    # NOTE the level frames below reference each other repeatedly (f1
    # in the semi-join AND the output union; pruned under both the pair
    # and triple explodes): without lineage truncation each reference
    # re-evaluates the whole upstream — the plan for levels 1-3 scanned
    # the source 18 times (measured, sf0.1). localCheckpoint
    # (lazy, ContextCleaner-reclaimed — the dedup-module convention)
    # caps each subtree at one evaluation; sizes are bounded by the
    # distinct pair set and the frequent-item tables.
    n_baskets_df = df.select(basket_col).distinct()
    exploded = (df.select(basket_col, item_col)
                .where(F.col(item_col).isNotNull())
                .distinct())
    if max_len > 1:
        exploded = exploded.localCheckpoint(eager=False)
    f1 = (exploded.groupBy(item_col)
          .agg(F.count(F.lit(1)).alias("support"))
          .where(F.col("support") >= min_count))
    if max_len == 1:
        return f1, None, None, n_baskets_df
    f1 = f1.localCheckpoint(eager=False)
    pruned = exploded.join(f1.select(item_col), item_col, "semi")
    if max_len == 3:
        # only the triple level re-reads pruned (the pair explode AND
        # the F2-member prune); at max_len=2 it has exactly one
        # consumer and a cut would pay its build-time planning plus a
        # full materialization for zero reuse (the smooth_scores
        # lesson). Its own inputs are already checkpointed, so the
        # uncut plan is two ExistingRDD reads deep.
        pruned = pruned.localCheckpoint(eager=False)
    arrs = _guarded_arrays(pruned, basket_col, item_col, max_basket_items)
    f2 = (arrs.select(F.explode(_pairs_hof(F.col("__arr"))).alias("__p"))
          .groupBy(F.col("__p.a").alias("item_a"),
                   F.col("__p.b").alias("item_b"))
          .agg(F.count(F.lit(1)).alias("support"))
          .where(F.col("support") >= min_count))
    # f2 gets a cut only when something downstream reads it twice: the
    # triple level (member prune + output union) or association_rules
    # (both rule directions — it cuts f2 itself). A plain
    # frequent_itemsets(max_len=2) consumes f2 exactly once, and a cut
    # there pays a full materialization for zero reuse (the same
    # single-consumer rule applied to `pruned` above).
    if max_len == 2:
        return f1, f2, None, n_baskets_df
    f2 = f2.localCheckpoint(eager=False)
    # prune to F2 participants before the cubic explode (an actual
    # frequent triple has every sub-pair frequent, so its members all
    # appear in F2 — nothing is lost)
    f2_members = (f2.select(F.col("item_a").alias(item_col))
                  .unionByName(f2.select(F.col("item_b").alias(item_col)))
                  .distinct())
    pruned3 = pruned.join(f2_members, item_col, "semi")
    arrs3 = _guarded_arrays(pruned3, basket_col, item_col, max_basket_items)
    f3 = (arrs3.select(F.explode(_triples_hof(F.col("__arr"))).alias("__t"))
          .groupBy(F.col("__t.a").alias("item_a"),
                   F.col("__t.b").alias("item_b"),
                   F.col("__t.c").alias("item_c"))
          .agg(F.count(F.lit(1)).alias("support"))
          .where(F.col("support") >= min_count))
    return f1, f2, f3, n_baskets_df


def frequent_itemsets(df: DataFrame, basket_col: str = "basket_id",
                      item_col: str = "item", min_count: int = 2,
                      max_len: int = 3,
                      max_basket_items: int = 300) -> DataFrame:
    """Itemsets of size 1..max_len (<=3) occurring in >= min_count
    distinct baskets. Output: (items sorted array, size, support)."""
    f1, f2, f3, _ = _frequency_levels(
        df, basket_col, item_col, min_count, max_len, max_basket_items)
    out = f1.select(F.array(item_col).alias("items"),
                    F.lit(1).alias("size"), "support")
    if f2 is not None:
        out = out.unionByName(f2.select(
            F.array("item_a", "item_b").alias("items"),
            F.lit(2).alias("size"), "support"))
    if f3 is not None:
        out = out.unionByName(f3.select(
            F.array("item_a", "item_b", "item_c").alias("items"),
            F.lit(3).alias("size"), "support"))
    return out


def association_rules(df: DataFrame, basket_col: str = "basket_id",
                      item_col: str = "item", min_count: int = 2,
                      min_confidence: float = 0.0,
                      max_basket_items: int = 300) -> DataFrame:
    """Size-2 rules a→b and b→a from the frequent pairs:
    confidence = support(ab)/support(a), lift = confidence * N /
    support(b) with N = number of baskets. Output: (antecedent,
    consequent, support, antecedent_support, consequent_support,
    confidence, lift)."""
    f1, f2, _, baskets = _frequency_levels(
        df, basket_col, item_col, min_count, 2, max_basket_items)
    f2 = cut(f2)  # read by both rule directions
    # basket count as a broadcast one-row cross join, not a blocking
    # .count() action: the count rides the same job as the rules plan
    # (one fewer full pass; the literal it replaced was the same double)
    n_df = baskets.agg(
        F.count(F.lit(1)).cast("double").alias("__n_baskets"))
    directed = f2.select(F.col("item_a").alias("antecedent"),
                         F.col("item_b").alias("consequent"), "support") \
        .unionByName(f2.select(F.col("item_b").alias("antecedent"),
                               F.col("item_a").alias("consequent"),
                               "support"))
    # F1 is an aggregate output — AQE broadcasts it when small; at
    # corpus scale it stays a hash join keyed on the item
    rules = (directed
             .join(f1.select(F.col(item_col).alias("antecedent"),
                             F.col("support").alias("antecedent_support")),
                   "antecedent")
             .join(f1.select(F.col(item_col).alias("consequent"),
                             F.col("support").alias("consequent_support")),
                   "consequent")
             .crossJoin(F.broadcast(n_df))
             .withColumn("confidence",
                         F.col("support") / F.col("antecedent_support"))
             .withColumn("lift",
                         F.col("confidence") * F.col("__n_baskets")
                         / F.col("consequent_support")))
    if min_confidence > 0.0:
        rules = rules.where(F.col("confidence") >= min_confidence)
    return rules.select("antecedent", "consequent", "support",
                        "antecedent_support", "consequent_support",
                        "confidence", "lift")
