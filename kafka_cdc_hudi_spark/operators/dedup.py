"""Latest-per-key deduplication (reference O15: "Merge the same primary key
data in a batch", /root/reference/glue/cdc_hudi.py:143-163).

Two physical strategies for the same logical op:

- ``latest_per_key``: ``row_number()`` over ``Window.partitionBy(keys)`` —
  the reference's shape. On Spark >= 3.5 Catalyst inserts a
  ``WindowGroupLimit`` (rank-limit pushdown) so each partition keeps only the
  running top-1 before the sort — already far better than a full sort.
- ``latest_per_key_agg``: ``max_by(struct(*), ordering_struct)`` — a hash
  aggregate with map-side partial aggregation. At 100 TB this is usually the
  winner: the combiner collapses duplicates BEFORE the shuffle, so shuffle
  volume is ~unique-keys instead of ~events, and no sort is needed.

Both are deterministic given tiebreakers that make the ordering key unique.
The reference orders by ``mtime`` alone (ties nondeterministic); we add
explicit tiebreakers (SURVEY §7 M2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str = "mtime",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the newest row per (composite) key — window strategy."""
    order = [F.col(order_col).desc_nulls_last()] + [F.col(t).desc_nulls_last() for t in tiebreakers]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def struct_sql(cols: Sequence[str]) -> str:
    """SQL text of ``struct(<cols>)`` over top-level column names. Parsed
    by one ``F.expr`` it costs one JVM call; ``F.struct(*map(F.col, cols))``
    costs one per column, and on a micro-batch's small data those calls
    are a large share of the merge's driver time."""
    return "struct(" + ", ".join("`" + c.replace("`", "``") + "`" for c in cols) + ")"


def latest_per_key_agg(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str = "mtime",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Keep the newest row per key — max_by aggregate strategy (map-side
    combine; preferred at scale for high-duplication streams). Skew-immune
    for top-1: the partial aggregate collapses every hot key to one row per
    input partition before the shuffle."""
    latest = F.expr(
        f"max_by({struct_sql(df.columns)}, {struct_sql([order_col, *tiebreakers])})"
    )
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(latest.alias("__row"))
    return agg.select("__row.*")


def pairs_within_groups_salted(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    n_salt: int = 1,
) -> DataFrame:
    """All ordered pairs (``out_a`` < ``out_b``) of rows sharing
    ``group_cols`` — the candidate-generation self-join of every LSH-style
    blocking scheme (MinHash bands, SRP buckets, shingle blocks).

    ``n_salt > 1`` is the HOT-GROUP scale path (VERDICT r7 item 4): a
    group holding m rows pins one task with m^2 pair work in the plain
    self-join, because the whole group hashes to a single shuffle
    partition. Salting splits it: the probe side keeps one deterministic
    salt per row (hash of the id), the build side replicates each row
    ``n_salt`` times (once per salt value), and the join key becomes
    (group, salt) — the hot group's pair work spreads across ``n_salt``
    tasks (m/n_salt x m each) at the cost of replicating the build side
    ``n_salt``x. Each qualifying pair still meets EXACTLY once (the build
    replica whose salt equals the probe row's salt), so no distinct is
    needed beyond what the caller already does. Output is identical for
    every ``n_salt``; pick ~4-16 when a blocking key can go hot (boilerplate
    template families), 1 when groups are provably tiny."""
    a = df.select(*group_cols, F.col(id_col).alias(out_a))
    b = df.select(*group_cols, F.col(id_col).alias(out_b))
    if n_salt <= 1:
        return a.join(b, list(group_cols)).filter(F.col(out_a) < F.col(out_b)).select(out_a, out_b)
    a = a.withColumn("__salt", F.pmod(F.xxhash64(F.col(out_a)), F.lit(n_salt)).cast("int"))
    b = b.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        a.join(b, [*group_cols, "__salt"])
        .filter(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b)
    )
