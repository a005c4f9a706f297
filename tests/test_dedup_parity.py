"""Parity of the near-dup verify and clustering operators
(``dedup.jaccard_for_pairs``, ``dedup.connected_components``) and of the
hot-key-guarded pair generators (``dedup.ngram_jaccard_pairs``,
``dedup.containment_pairs``) against tiny pure-Python references, plus the
HOF shape of ``similarity.unit``.

Pins: zero-overlap and too-short pairs are absent from the Jaccard output,
shingles count as a set, the 6-dp rounding; components on a chain, a star
and isolated ids, the ``max_iter`` error, and the contract for an edge
endpoint that is not in ``ids``; with the guard firing, Jaccard is taken
over the retained shingles and containment's ``n_a`` counts the retained
fingerprints.
"""
from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

# ASCII words and single spaces, so the normal form is lower() + split(' ')
_DOCS = {
    1: 'a b c d e',
    2: 'A b c d f',              # case-folded: shares 2 of 4 shingles with 1
    3: 'x y z w',                # no shingle in common with 1
    4: 'a b',                    # shorter than n: empty shingle set
    5: 'a b c a b c a b c',      # repeats abc/bca/cab: a 3-element set
    6: 'p q r s t u v',
    7: 'p q r s t u w',          # 4 of 6 shared with 6: 0.666667
}
_PAIRS = [(1, 2), (1, 3), (1, 4), (1, 5), (2, 5), (6, 7), (4, 5), (1, 99)]


def _shingle_set(text: str, n: int = 3) -> set:
    toks = text.lower().split(' ')
    return {' '.join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _ref_jaccard(pairs, docs, n: int = 3) -> dict:
    out = {}
    for a, b in pairs:
        if a not in docs or b not in docs:
            continue
        sa, sb = _shingle_set(docs[a], n), _shingle_set(docs[b], n)
        inter = len(sa & sb)
        if inter:
            out[(a, b)] = round(inter / (len(sa) + len(sb) - inter), 6)
    return out


def test_jaccard_for_pairs_matches_set_reference(spark):
    from dgraphpandas_spark.operators.dedup import jaccard_for_pairs

    docs = spark.createDataFrame(list(_DOCS.items()), 'doc_id long, text string')
    pairs = spark.createDataFrame(_PAIRS, 'id_a long, id_b long')
    got = {(r['id_a'], r['id_b']): r['jaccard'] for r in jaccard_for_pairs(pairs, docs).collect()}
    assert got == _ref_jaccard(_PAIRS, _DOCS)
    assert got == {(1, 2): 0.5, (1, 5): 0.2, (2, 5): 0.2, (6, 7): 0.666667}


def _ref_components(ids, edges) -> dict:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _components(spark, ids, edges, **kw) -> dict:
    from dgraphpandas_spark.operators.dedup import connected_components

    id_df = spark.createDataFrame([(i,) for i in ids], 'id long')
    edge_df = spark.createDataFrame(edges, 'id_a long, id_b long')
    return {r['id']: r['cluster_id'] for r in connected_components(id_df, edge_df, **kw).collect()}


# a chain of diameter 4 (mixed edge orientation), a star whose centre is
# not its min id, and two isolated ids
_IDS = list(range(1, 13))
_EDGES = [(3, 4), (2, 1), (4, 5), (3, 2), (10, 7), (10, 8), (9, 10), (10, 11)]


def test_connected_components_match_union_find(spark):
    got = _components(spark, _IDS, _EDGES)
    assert got == _ref_components(_IDS, _EDGES)
    assert got[5] == 1 and got[11] == 7 and got[6] == 6 and got[12] == 12


def test_connected_components_raise_past_max_iter(spark):
    with pytest.raises(RuntimeError, match='did not converge'):
        _components(spark, _IDS, _EDGES, max_iter=1)


def test_connected_components_no_edges_gives_singletons(spark):
    assert _components(spark, [1, 2, 3], []) == {1: 1, 2: 2, 3: 3}


def test_connected_components_endpoint_outside_ids(spark):
    # documented contract: an endpoint outside ``ids`` propagates labels
    # like any node (99 links 1 and 3; 0 labels 5) but gets no output row
    got = _components(spark, [1, 2, 3, 5], [(1, 99), (99, 3), (0, 5)])
    assert got == {1: 1, 2: 2, 3: 1, 5: 0}


def _top_level_args(expr: str) -> list:
    """Top-level comma-separated arguments of the outermost call."""
    body = expr[expr.index('(') + 1:expr.rindex(')')]
    args, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        depth += {'(': 1, ')': -1}.get(ch, 0)
        if ch == ',' and depth == 0:
            args.append(body[start:i].strip())
            start = i + 1
    return args + [body[start:].strip()]


def test_unit_norm_enters_the_hof_as_an_argument(spark):
    """HOF rule (PLANS.md §5ai): the outer lambda of ``unit()`` must not capture
    the norm — a captured ``aggregate``/``zip_with`` re-runs the whole dot
    product per element (O(dim²) per row)."""
    from dgraphpandas_spark.functions.similarity import unit

    expr = str(unit(F.col('v')))
    assert expr.startswith("Column<'zip_with(")
    lam = _top_level_args(expr)[-1]
    assert '->' in lam
    assert 'aggregate' not in lam and 'zip_with' not in lam, lam


# hot-key guard firing: 'a b c' is in three docs, so max_df=2 drops it
_GUARD_DOCS = {
    1: 'a b c d e f',
    2: 'a b c d e g',
    3: 'a b c x y z',
    4: 'p q r s',
    5: 'p q r s t',
}


def _ref_ngram_pairs(docs, max_df, n: int = 3) -> dict:
    sets = {i: _shingle_set(t, n) for i, t in docs.items()}
    df = Counter(s for ss in sets.values() for s in ss)
    kept = {i: {s for s in ss if max_df is None or df[s] <= max_df} for i, ss in sets.items()}
    out = {}
    for a in kept:
        for b in kept:
            inter = len(kept[a] & kept[b])
            if a < b and inter:
                out[(a, b)] = round(inter / (len(kept[a]) + len(kept[b]) - inter), 6)
    return out


@pytest.mark.parametrize('max_df', [2, None])
def test_ngram_jaccard_pairs_guard_keeps_retained_shingles_only(spark, max_df):
    from dgraphpandas_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(list(_GUARD_DOCS.items()), 'doc_id long, text string')
    got = {(r['id_a'], r['id_b']): r['jaccard']
           for r in ngram_jaccard_pairs(docs, threshold=0.0, max_df=max_df).collect()}
    assert got == _ref_ngram_pairs(_GUARD_DOCS, max_df)
    if max_df == 2:
        # the sizes shrink with the dropped shingle: 2 / (3 + 3 - 2)
        assert got == {(1, 2): 0.5, (4, 5): 0.666667}


def _ref_winnow(text: str, k: int, w: int) -> set:
    toks = text.lower().split(' ')
    if len(toks) < k:
        return set()
    grams = [' '.join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}


def _ref_containment(docs, max_df, k: int = 3, w: int = 2) -> dict:
    fps = {i: _ref_winnow(t, k, w) for i, t in docs.items()}
    df = Counter(f for s in fps.values() for f in s)
    kept = {i: {f for f in s if df[f] <= max_df} for i, s in fps.items()}
    out = {}
    for a in kept:
        for b in kept:
            shared = len(kept[a] & kept[b])
            if a != b and shared:
                out[(a, b)] = (shared, len(kept[a]), shared * 1_000_000 // len(kept[a]))
    return out


# a five-token boilerplate prefix shared by three docs; doc 2 is a
# truncated copy of doc 1
_CONTAIN_DOCS = {
    1: 'x1 x2 x3 x4 x5 a b c d e f g',
    2: 'x1 x2 x3 x4 x5 a b c d',
    3: 'x1 x2 x3 x4 x5 q r s t u v',
    4: 'm n o p q r',
    5: 'm n o p q r s t',
}


@pytest.mark.parametrize('max_df', [2, 1000])
def test_containment_pairs_guard_counts_retained_fingerprints(spark, max_df):
    from dgraphpandas_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(list(_CONTAIN_DOCS.items()), 'doc_id long, text string')
    out = containment_pairs(docs, k=3, w=2, threshold_ppm=1, max_df=max_df)
    got = {(r['id_a'], r['id_b']): (r['shared'], r['n_a'], r['containment_ppm'])
           for r in out.collect()}
    assert got == _ref_containment(_CONTAIN_DOCS, max_df)
    if max_df == 2:
        # the guard fired: doc 1 keeps 4 of its 6 fingerprints, and the
        # boilerplate-only pairs (1, 3) and (2, 3) are gone
        assert got[(1, 2)] == (2, 4, 500_000) and (1, 3) not in got and (2, 3) not in got
