"""Independent references for the correctness checks.

Transcript triple counts are derived from the landed Parquet with DuckDB,
from the transform's rules stated over the source columns, never by
running the program.  kNN truth is exact cosine top-k in numpy.  Every
check returns a list of human-readable mismatches; empty means correct.
"""
from __future__ import annotations

import gzip
import os
from dataclasses import dataclass
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np


@dataclass(frozen=True)
class TranscriptCounts:
    turns: int
    role: int
    text: int
    ts: int
    tool: int
    conversations: int
    canonical_tools: int

    @property
    def horizontal_intrinsic(self) -> int:
        """role/text/ts values that are not null, plus one dgraph.type row
        per turn (subjects are unique per (conv_id, turn_idx))."""
        return self.role + self.text + self.ts + self.turns

    @property
    def horizontal_edges(self) -> int:
        return self.tool

    @property
    def build_parts(self) -> Dict[str, int]:
        """Per-part counts of the canonicalized KG: intrinsic adds one node
        per conversation and per canonical tool; edges add one turn→conversation
        edge per turn."""
        return {
            'intrinsic': self.horizontal_intrinsic + self.conversations + self.canonical_tools,
            'edges': self.horizontal_edges + self.turns,
        }


def transcript_counts(parquet_glob: str) -> TranscriptCounts:
    import duckdb

    con = duckdb.connect()
    try:
        row = con.execute(
            """
            SELECT count(*), count(role), count(text), count(ts), count(tool),
                   count(DISTINCT conv_id),
                   count(DISTINCT CAST(substr(tool, 5) AS INTEGER) % 25)
            FROM read_parquet(?)
            """,
            [parquet_glob],
        ).fetchone()
    finally:
        con.close()
    return TranscriptCounts(*(int(v) for v in row))


def input_fingerprint(parquet_glob: str) -> Tuple[int, int]:
    """(rows, order-independent content hash) of landed transcript files."""
    import duckdb

    con = duckdb.connect()
    try:
        n, h = con.execute(
            'SELECT count(*), bit_xor(hash(conv_id, turn_idx, role, text, tool, ts)) '
            'FROM read_parquet(?)',
            [parquet_glob],
        ).fetchone()
    finally:
        con.close()
    return int(n), int(h or 0)


def expect_equal(label: str, got, want) -> List[str]:
    return [] if got == want else [f'{label}: got {got!r}, expected {want!r}']


def gzip_lines(path: str) -> Tuple[int, int]:
    """(lines, compressed bytes) of every gzip part file under ``path``."""
    lines = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.endswith('.gz') or name.startswith('.'):
                continue
            full = os.path.join(root, name)
            size += os.path.getsize(full)
            with gzip.open(full, 'rb') as f:
                for block in iter(lambda: f.read(1 << 20), b''):
                    lines += block.count(b'\n')
    return lines, size


# ------------------------------------------------------------------ corpus

def dedup_errors(rows: Sequence[Tuple[int, int, bool]], n_docs: int,
                 planted: Iterable[Tuple[int, int]]) -> Tuple[List[str], float]:
    """Checks ``dedup_clusters`` output (id, cluster_id, keep) and returns
    (errors, recall of planted pairs).  Every doc appears once, the cluster
    id is the cluster's minimum id, exactly that member is kept, and no
    cluster joins documents that were not planted as near-duplicates."""
    errors: List[str] = []
    cluster = {int(i): int(c) for i, c, _ in rows}
    errors += expect_equal('dedup rows', len(rows), n_docs)
    errors += expect_equal('dedup distinct ids', len(cluster), n_docs)
    members: Dict[int, List[int]] = {}
    for i, c, keep in rows:
        members.setdefault(int(c), []).append(int(i))
        if bool(keep) != (int(i) == int(c)):
            errors.append(f'dedup keep flag wrong for id {i}')
            break
    planted = list(planted)
    partner = {}
    for a, b in planted:
        partner.setdefault(a, set()).add(b)
        partner.setdefault(b, set()).add(a)
    for c, ids in members.items():
        if min(ids) != c:
            errors.append(f'cluster {c} is not its minimum member')
            break
        if len(ids) > 1 and any(not (partner.get(i, set()) & set(ids)) for i in ids):
            errors.append(f'cluster {c} joins documents not planted as near-duplicates')
            break
    hit = sum(1 for a, b in planted if cluster.get(a) is not None and cluster.get(a) == cluster.get(b))
    recall = hit / len(planted) if planted else 1.0
    return errors, recall


def exact_neighbours(ids: np.ndarray, vecs: np.ndarray, query_ids: np.ndarray,
                     k: int) -> Dict[int, List[int]]:
    """Exact cosine top-k (excluding the query itself) for each query id."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pos = {int(v): j for j, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = unit @ unit[pos[int(q)]]
        sims[pos[int(q)]] = -np.inf
        top = np.argsort(-sims, kind='stable')[:k]
        out[int(q)] = [int(ids[t]) for t in top]
    return out


def knn_errors(rows: Sequence[Tuple[int, int, float, int]], ids: np.ndarray, vecs: np.ndarray,
               truth: Dict[int, List[int]], k: int) -> Tuple[List[str], float]:
    """Checks ``knn_graph`` output (id, nbr, cos, rank) and returns
    (errors, recall@k over the sampled queries).  Every reported cosine
    must be the true cosine of the pair, ranks run 1..n per id without
    gaps, and no id lists itself."""
    errors: List[str] = []
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pos = {int(v): j for j, v in enumerate(ids)}
    by_id: Dict[int, List[Tuple[int, int, float]]] = {}
    for i, nbr, cos, rank in rows:
        by_id.setdefault(int(i), []).append((int(rank), int(nbr), float(cos)))
    for i, lst in by_id.items():
        lst.sort()
        if [r for r, _, _ in lst] != list(range(1, len(lst) + 1)) or len(lst) > k:
            errors.append(f'knn ranks of id {i} are not 1..n<=k')
            break
        if any(nbr == i for _, nbr, _ in lst):
            errors.append(f'knn id {i} lists itself')
            break
    for q in truth:
        for _, nbr, cos in by_id.get(q, []):
            true = float(unit[pos[q]] @ unit[pos[nbr]])
            if abs(true - cos) > 1e-5:
                errors.append(f'knn cos({q},{nbr}) = {cos}, exact {true:.6f}')
                break
    found = sum(len(set(truth[q]) & {nbr for _, nbr, _ in by_id.get(q, [])}) for q in truth)
    recall = found / (k * len(truth)) if truth else 1.0
    return errors, recall
