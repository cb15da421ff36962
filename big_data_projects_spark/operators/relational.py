"""Relational primitives re-expressed Spark-first (SURVEY.md §2.2-2.6).

Covers the reference's projection / rename / cast / filter / fillna /
dedup / join / group-count / window surface, plus the helpers that make
aggregate results *deterministic* so they can hash-match a DuckDB oracle:
floating-point SUM is order-dependent under parallelism, so money-style
aggregates go through an exact DECIMAL accumulator and only the final
value is cast back to double (order-independent, engine-independent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact intermediate type for double aggregation. DECIMAL(38,6) sums are
# order-independent; the final cast back to double is deterministic.
_DEC = "decimal(38,6)"


def dsum(expr: str, alias: str) -> Column:
    """Order-independent SUM over doubles: sum(cast decimal) → double.

    ``expr`` is SQL text (a plain column name is SQL text): the whole
    aggregate reaches Catalyst as one ``F.expr``, not a Column chain of
    a py4j round trip per call."""
    return F.expr(f"CAST(sum(CAST(({expr}) AS {_DEC})) AS DOUBLE) AS `{alias}`")


def davg(expr: str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, as double.
    ``expr`` is SQL text, as for ``dsum``."""
    return F.expr(
        f"CAST(sum(CAST(({expr}) AS {_DEC})) AS DOUBLE) / count({expr}) AS `{alias}`"
    )


def project_rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """select + withColumnRenamed chains (transform-data.py:100-106) in
    one select: ``{old: new}`` → SELECT old AS new, ..."""
    return df.select(*[F.col(o).alias(n) for o, n in mapping.items()])


def fill_defaults(df: DataFrame, defaults: dict) -> DataFrame:
    """Per-column null replacement (transform-data.py:97-98)."""
    return df.fillna(defaults)


def dedup_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """dropDuplicates (transform-data.py:100,106,138,177). Physically a
    hash aggregate over the subset columns — shuffles on those keys."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def grouped_count(df: DataFrame, keys: list[str], alias: str = "count") -> DataFrame:
    """groupBy(keys).count() (transform-data.py:144-147 A1). Catalyst
    plans partial (map-side) + final hash aggregation automatically."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def star_join(fact: DataFrame, dims: list[tuple[DataFrame, Column]]) -> DataFrame:
    """Chained inner equi-joins of one fact against its dims (J3,
    transform-data.py:276-285). The caller wraps a provably bounded dim
    in ``F.broadcast`` (at 100 TB the fact then never shuffles for that
    join: each task streams its fact partition against an in-memory
    hash map of the dim); an unwrapped dim is left to AQE, which
    broadcasts it at runtime when it fits."""
    out = fact
    for dim, cond in dims:
        out = out.join(dim, cond, "inner")
    return out


def surrogate_key(df: DataFrame, name: str = "num", order_by: str | None = None) -> DataFrame:
    """Surrogate key assignment (W1+F4, transform-data.py:287-298).

    The reference's ``row_number() over (order by "idx")`` ordered by a
    string *literal* — a single-partition exchange plus nondeterministic
    numbering (SURVEY.md §2.5 bug). Two intent-faithful modes:

    - order_by=None (scale path): monotonically_increasing_id — unique,
      non-consecutive, no shuffle, safe at any scale.
    - order_by=col (small results): consecutive row_number over a real
      ordering. Still a global window; only for post-aggregation outputs
      that are already small.
    """
    if order_by is None:
        return df.withColumn(name, F.monotonically_increasing_id())
    w = Window.orderBy(F.col(order_by))
    return df.withColumn(name, F.row_number().over(w).cast("long"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_unique_col: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating salted equi-join.

    A shuffle join hashes rows to reducers by join key, so one hot key
    = one straggler task no matter how many executors exist. Salting
    splits each key across ``n_salt`` reducers: the fact side gets a
    deterministic salt hashed from a unique column (deterministic so
    retried tasks re-produce the same salt — never use rand() here),
    the dim side is exploded n_salt× so every (key, salt) pair exists,
    and the join key becomes (key, salt). Output equals the unsalted
    join exactly; cost is n_salt× the dim shuffle volume, which is the
    right trade when dim ≪ fact (if dim fits in memory, broadcast and
    skip salting entirely — this is for the mid-size dim that can't
    broadcast but joins a skewed fact).

    ``how`` is restricted to inner/left/left_semi/left_anti: the
    exploded dim side would emit each UNMATCHED dim row n_salt times
    under right/full outer joins, breaking the output-equivalence
    guarantee above.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports only {sorted(allowed)} (got {how!r}): "
            "the n_salt-exploded dim side duplicates unmatched dim rows "
            "under right/full outer joins"
        )
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(fact_unique_col), F.lit(n_salt))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return out.drop("__salt")


def top_k_per_group(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-K per group via a partitioned window — the scalable form of
    ranking (each group ranks inside its own partition; no global sort).
    Pass a deterministic ``order`` (include a tiebreaker key)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: list[str] | None = None,
) -> DataFrame:
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN NOT MATCHED
    INSERT) as a pure DataFrame transform: full outer join on the key,
    matched rows take the source's update columns, unmatched target
    rows pass through, unmatched source rows insert.

    This is the table-format-free upsert: the result is a new snapshot
    to write out (on Delta/Iceberg the same logic runs in-place). The
    join shuffles both sides on the key once; at scale, bucket the
    target on the key so recurring merges co-locate (q_bucketed_join).
    Source must be unique per key (enforce upstream) — duplicate source
    keys would fan out like any join.
    """
    update_cols = update_cols or [
        c for c in source.columns if c != key and c in target.columns
    ]
    src = source.select(
        F.col(key).alias("__mk"),
        *[F.col(c).alias(f"__s_{c}") for c in update_cols],
    )
    joined = target.join(src, target[key] == src["__mk"], "full_outer")
    out_cols = []
    for c in target.columns:
        if c == key:
            out_cols.append(F.coalesce(F.col(key), F.col("__mk")).alias(key))
        elif c in update_cols:
            out_cols.append(
                F.when(F.col("__mk").isNotNull(), F.col(f"__s_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def sharded_row_number(
    df: DataFrame,
    order: list[Column | str],
    out_col: str = "rn",
    n_shards: int = 32,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order)`` without a global
    sort — the distributed prefix-sum shape shared by q_sequence_packing
    and q_quality_percentile, factored out.

    A plain global-window row_number funnels every row through ONE
    partition: O(N) wall on a single task at 100 TB. Here
    ``repartitionByRange`` totally orders shards on the sort key, each
    shard ranks locally inside its own partition, and the only
    single-partition window runs over the ``n_shards``-row shard-totals
    relation (already aggregated — one row per shard crosses the
    exchange) to produce per-shard global offsets, broadcast back.

    ``order`` must be a TOTAL order (include a unique tiebreaker):
    range boundaries are sampled, so equal keys split across shard
    boundaries would otherwise rank nondeterministically.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    sharded = df.repartitionByRange(n_shards, *cols).withColumn(
        "__shard", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__shard").orderBy(*cols)
    local = sharded.withColumn("__lrk", F.row_number().over(w_local))
    totals = local.groupBy("__shard").agg(F.max("__lrk").alias("__cnt"))
    w_off = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__shard",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__shard")
        .withColumn(out_col, (F.col("__lrk") + F.col("__off")).cast("long"))
        .drop("__shard", "__lrk", "__off")
    )
