"""Blocked self-joins: the one candidate generator behind the near-dup,
kNN, containment and co-occurrence operators.

A blocked self-join pairs the rows that share a blocking key (an LSH
bucket, a shingle, a winnowing fingerprint, a k-means cell, a
conversation) — an equi-join, never all-pairs.  A block of k rows emits
k² pair rows, so one hot key (a stopword shingle, a degenerate bucket, a
hub conversation) is a quadratic blowup at scale.  ``drop_hot_keys`` is
that guard, written once: blocks of more than ``max_block`` rows are
dropped before the join.  What the cap costs in recall is part of each
operator's contract; the guard itself lives only here, so a better skew
strategy (splitting hot blocks into sub-blocks instead of dropping them)
is an edit to this module.

Block sizes are a ``count(*) OVER (PARTITION BY key)`` window, not a
groupBy-count joined back: the window's key exchange is the one the
self-join needs, so sizing costs no aggregate exchange and no extra
join, and no key list is collected or broadcast.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.similarity import hamming1_probes


def _filter_by_block_size(rows: DataFrame, key: str, keep: Column) -> DataFrame:
    """``rows`` where ``keep`` holds; ``keep`` reads the block size as ``__k``."""
    k = F.count('*').over(Window.partitionBy(key))
    return rows.withColumn('__k', k).filter(keep).drop('__k')


def drop_hot_keys(rows: DataFrame, key: str, max_block: int) -> DataFrame:
    """``rows`` without the blocks of more than ``max_block`` rows (same
    columns).  The size counts rows, so the cap counts members when each
    member holds one row per key."""
    return _filter_by_block_size(rows, key, F.col('__k') <= max_block)


def blocked_pairs(
    rows: DataFrame,
    key: str,
    max_block: Optional[int] = None,
    probe_bits: int = 0,
    directed: bool = False,
) -> DataFrame:
    """Pairs of ``rows`` (which must carry an ``id`` column) that share
    ``key``: DataFrame[key, id_a, id_b, c_a, c_b for every other column c].

    ``max_block``: ``drop_hot_keys`` first; ``None`` plans no guard at all.
    On an exact-key join the same window also prunes blocks of one, which
    have no partner.

    ``probe_bits``: the b side also probes every key at Hamming distance 1
    in its low ``probe_bits`` bits (``hamming1_probes``, so the b side
    grows ×(probe_bits+1)).  A pair whose keys differ in one probed bit
    meets exactly once, where b's flipped key equals a's.  A block of one
    still has Hamming-1 partners, so probing keeps singletons.

    ``directed``: every ordered pair (``id_a != id_b``); otherwise each
    unordered pair once (``id_a < id_b``)."""
    if max_block is not None:
        k = F.col('__k')
        keep = (k <= max_block) if probe_bits else (k >= 2) & (k <= max_block)
        rows = _filter_by_block_size(rows, key, keep)
    cols = ['id'] + [c for c in rows.columns if c not in (key, 'id')]
    b_src = rows
    if probe_bits:
        b_src = rows.select(*cols, F.explode(hamming1_probes(F.col(key), probe_bits)).alias(key))
    a = rows.select(key, *[F.col(c).alias(f'{c}_a') for c in cols])
    b = b_src.select(key, *[F.col(c).alias(f'{c}_b') for c in cols])
    order = F.col('id_a') != F.col('id_b') if directed else F.col('id_a') < F.col('id_b')
    return a.join(b, key).filter(order)
