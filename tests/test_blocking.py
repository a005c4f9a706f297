"""The blocked self-join primitive (``operators/blocking.py``) and its
Hamming-1 probe helper (``functions/similarity.hamming1_probes``).

Pins: undirected vs directed pair order, ``_a``/``_b`` payload suffixes,
the hot-key guard dropping whole blocks, and the probe-under-guard trap —
a block of one is pruned only on an exact-key join, because under probe
expansion it still pairs with its Hamming-1 neighbours.
"""
from __future__ import annotations

import math

from pyspark.sql import functions as F

# key 5 is a block of three, key 7 a block of two, key 6 a block of one
# whose only Hamming-1 neighbour in the data is key 7 (bit 0)
_ROWS = [(1, 5, 'x'), (2, 5, 'y'), (3, 5, 'z'), (4, 7, 'u'), (5, 7, 'v'), (6, 6, 'w')]


def _rows(spark):
    return spark.createDataFrame(_ROWS, 'id long, key int, p string')


def _pairs(df) -> set:
    return {(r['id_a'], r['id_b']) for r in df.collect()}


def test_hamming1_probes_flips_each_low_bit_once(spark):
    from dgraphpandas_spark.functions.similarity import hamming1_probes

    row = spark.range(1).select(hamming1_probes(F.lit(5), 3).alias('p')).collect()[0]
    assert row['p'] == [5, 4, 7, 1]


def test_blocked_pairs_undirected_directed_and_payload(spark):
    from dgraphpandas_spark.operators.blocking import blocked_pairs

    out = blocked_pairs(_rows(spark), 'key')
    assert sorted(out.columns) == ['id_a', 'id_b', 'key', 'p_a', 'p_b']
    assert _pairs(out) == {(1, 2), (1, 3), (2, 3), (4, 5)}
    assert {(r['p_a'], r['p_b']) for r in out.filter('key = 7').collect()} == {('u', 'v')}
    directed = _pairs(blocked_pairs(_rows(spark), 'key', directed=True))
    assert directed == {(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2), (4, 5), (5, 4)}


def test_blocked_pairs_guard_drops_whole_hot_blocks(spark):
    from dgraphpandas_spark.operators.blocking import blocked_pairs, drop_hot_keys

    assert _pairs(blocked_pairs(_rows(spark), 'key', max_block=2)) == {(4, 5)}
    kept = {r['id'] for r in drop_hot_keys(_rows(spark), 'key', 2).collect()}
    assert kept == {4, 5, 6}  # the guard alone keeps blocks of one


def test_blocked_pairs_probe_keeps_singletons_under_the_guard(spark):
    from dgraphpandas_spark.operators.blocking import blocked_pairs

    # a cap of 2 drops key 5; the block of one (id 6) still meets key 7
    # through the bit-0 probe, so it must survive the guard
    probed = _pairs(blocked_pairs(_rows(spark), 'key', max_block=2, probe_bits=1))
    assert probed == {(4, 5), (4, 6), (5, 6)}


def _lsh_bucket(vec, planes) -> int:
    b = 0
    for i, plane in enumerate(planes):
        d = 0.0
        for x, y in zip(vec, plane):
            d += x * y
        b += (1 << i) if d > 0 else 0
    return b


def _straddling_pair(planes):
    """Two unit vectors 0.1 rad apart whose sign-LSH buckets differ in
    exactly one bit, each at least 0.05 rad from every plane boundary."""
    step = 0.01
    prev = _lsh_bucket([1.0, 0.0], planes)
    for i in range(1, 629):
        b = _lsh_bucket([math.cos(i * step), math.sin(i * step)], planes)
        if b != prev:
            lo, hi = (i - 6) * step, (i + 5) * step
            va, vb = [math.cos(lo), math.sin(lo)], [math.cos(hi), math.sin(hi)]
            ba, bb = _lsh_bucket(va, planes), _lsh_bucket(vb, planes)
            assert bin(ba ^ bb).count('1') == 1
            return va, vb, ba, bb
        prev = b
    raise AssertionError('no bucket boundary found')


def test_lsh_neardup_multiprobe_pairs_singletons_under_a_small_cap(spark):
    """Two close vectors, each alone in neighbouring (Hamming-1) buckets,
    plus a hot bucket of two: with ``max_bucket=1`` the multi-probe join
    still emits the straddling pair (a singleton prune would lose it) and
    drops the hot pair; without probing the straddling pair never meets."""
    from dgraphpandas_spark.functions.similarity import hyperplanes
    from dgraphpandas_spark.operators.dedup import embedding_neardup_pairs_lsh

    planes = hyperplanes(3, 2, 42)
    va, vb, ba, bb = _straddling_pair(planes)
    hot = [-va[0], -va[1]]  # every sign flipped: ≥ 2 bits from both buckets
    hb = _lsh_bucket(hot, planes)
    assert min(bin(hb ^ ba).count('1'), bin(hb ^ bb).count('1')) >= 2
    df = spark.createDataFrame(
        [(1, va), (2, vb), (3, hot), (4, [hot[0] * 2, hot[1] * 2])],
        'vec_id long, embedding array<double>',
    )

    def run(multi_probe):
        out = embedding_neardup_pairs_lsh(df, threshold=0.9, n_planes=3, dim=2, seed=42,
                                          max_bucket=1, multi_probe=multi_probe)
        return {(r['id_a'], r['id_b']) for r in out.collect()}

    assert run(True) == {(1, 2)}
    assert run(False) == set()
    uncapped = embedding_neardup_pairs_lsh(df, threshold=0.9, n_planes=3, dim=2, seed=42,
                                           max_bucket=None, multi_probe=True)
    assert {(r['id_a'], r['id_b']) for r in uncapped.collect()} == {(1, 2), (3, 4)}
