"""Market-basket pair counting with a mega-basket guard.

Co-purchase pair generation is an equi self-join on the basket key, so
its cost is Σ_basket |items|² — per-basket quadratic, never
corpus-quadratic. That bound is only safe if no single basket is
pathological: one synthetic-feed glitch producing a 100k-item "order"
turns into 5×10⁹ pairs from a single key, a straggler task that can
stall a 1000-executor job (the same failure mode the shingle-frequency
cap in ``operators/dedup.py:jaccard_pairs`` guards against on the
document side).

``copurchase_pair_counts`` bounds every basket to its
``MAX_BASKET_SIZE`` smallest items BEFORE pairing. The cap is
deterministic (ordered by the item key), so an oracle reproduces it
exactly with ``ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item)
<= MAX_BASKET_SIZE``.

Reference parity: the reference has no basket analytics at all — this
is part of the X10 commerce-analytics extension surface (the
"customers also bought" primitive behind silver_to_gold.py:748's gold
marts' downstream consumers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# items kept per basket; the oracles' ROW_NUMBER filters read it too
MAX_BASKET_SIZE = 64


def copurchase_pair_counts(
    items: DataFrame, basket_col: str, item_col: str, min_baskets: int = 2
) -> DataFrame:
    """Count, for every unordered item pair, the number of baskets
    containing both — the support table of association-rule mining.

    ``items`` may contain duplicates; they are collapsed first so a
    basket contributes each pair at most once. Output columns:
    ``(item_a, item_b, n_baskets)`` with ``item_a < item_b`` and
    ``n_baskets >= min_baskets``. NULL baskets and NULL items are
    dropped (the self-join formulation below never matched them; the
    explicit filter documents the contract and pushes to the scan).

    Scale shape (r16 optimization round, guide §2.3): ONE basket-keyed
    exchange — ``collect_set`` dedups and groups in the same partial
    aggregate, the sorted array's ``MAX_BASKET_SIZE``-item prefix is
    the deterministic cap (identical to the previous
    ``distinct → row_number ≤ cap`` pair of exchanges), and pairs are
    generated MAP-SIDE from the capped array (the array is sorted, so
    pairing each element with its suffix yields exactly the
    ``item_a < item_b`` pairs) — then one partial-aggregated rollup on
    (item_a, item_b). The previous shape paid a (bk, it)-keyed distinct
    exchange, a bk-keyed window exchange, and read that shuffle TWICE
    through the equi self-join. With the cap, no basket emits more than
    C(MAX_BASKET_SIZE, 2) pairs, exactly as before.
    """
    grouped = (
        items.filter(
            F.col(basket_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .groupBy(F.col(basket_col).alias("bk"))
        .agg(
            F.slice(
                F.sort_array(F.collect_set(item_col)), 1, MAX_BASKET_SIZE
            ).alias("arr")
        )
    )
    arr = F.col("arr")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(
                    arr,
                    i + F.lit(2),
                    F.greatest(F.size(arr) - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_baskets)
    )
