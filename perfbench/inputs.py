"""Seeded input generation: the same seed lands byte-identical inputs.

The program under test only ever receives these landed files.  The truth
the correctness checks compare against (planted near-duplicate pairs, the
tool dictionary's canonical map) is recorded here, next to the data,
without calling the program.
"""
from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = 'conv_id string, turn_idx int, role string, text string, tool string, ts timestamp'
N_TOOLS = 50  # raw tool names tool0..tool49; the dictionary maps tool<i> to tool<i % 25>


def land_transcripts(spark, seed: int, n_turns: int, path: str) -> str:
    """The Zipf-skewed transcript table, landed once as Parquet."""
    from dgraphpandas_spark.sources.transcripts import synthetic_transcripts

    parts = 2 * spark.sparkContext.defaultParallelism
    synthetic_transcripts(spark, n_turns=n_turns, seed=seed, n_tools=N_TOOLS, partitions=parts) \
        .write.mode('overwrite').parquet(path)
    return path


def land_microbatches(spark, seed: int, n_files: int, turns_per_file: int, path: str) -> List[str]:
    """``n_files`` separate Parquet files, one per future micro-batch.

    Each file is its own seeded transcript table whose conversation ids
    carry the file index, so batches never share a subject.  One Spark job
    generates all of them; the files are then written one by one, oldest
    first, so a file stream picks them up in order."""
    from pyspark.sql import functions as F

    from dgraphpandas_spark.sources.transcripts import synthetic_transcripts

    frames = [
        synthetic_transcripts(spark, n_turns=turns_per_file, seed=seed * 1009 + i,
                              n_tools=N_TOOLS, partitions=1)
        .withColumn('conv_id', F.concat(F.lit(f'b{i}_'), F.col('conv_id')))
        .withColumn('_file', F.lit(i))
        for i in range(n_files)
    ]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    table = union.toArrow()
    os.makedirs(path, exist_ok=True)
    files = []
    sort_keys = [('conv_id', 'ascending'), ('turn_idx', 'ascending')]
    for i in range(n_files):
        part = table.filter(pc.equal(table['_file'], i)).drop_columns(['_file']).sort_by(sort_keys)
        out = os.path.join(path, f'batch-{i:04d}.parquet')
        pq.write_table(part, out)
        files.append(out)
    return files


# ------------------------------------------------------------------ corpus

@dataclass
class Corpus:
    docs_path: str
    vecs_path: str
    planted_pairs: List[Tuple[int, int]]  # (original doc id, near-duplicate doc id)
    n_docs: int


def make_documents(seed: int, n_base: int, dup_share: float, words: int = 48,
                   vocab: int = 20000) -> Tuple[List[int], List[str], List[Tuple[int, int]]]:
    """Random word documents plus planted near-duplicates.

    A near-duplicate copies its original and replaces one word in the
    middle, so the word-3-gram Jaccard of a pair is (n-3)/(n+3) for n
    shingles — 0.88 at 48 words, above the 0.8 dedup threshold.  Originals
    draw from a 20k-word vocabulary, so unrelated documents share
    essentially no 3-gram."""
    rng = np.random.default_rng(seed)
    tokens = rng.integers(0, vocab, size=(n_base, words))
    n_dup = int(n_base * dup_share)
    originals = rng.choice(n_base, size=n_dup, replace=False)
    ids = rng.permutation(n_base + n_dup).astype(np.int64)
    texts = [' '.join(f'w{t}' for t in row) for row in tokens]
    pairs = []
    for j, orig in enumerate(originals):
        row = tokens[orig].copy()
        pos = words // 2
        row[pos] = vocab + j  # a word no original uses
        texts.append(' '.join(f'w{t}' for t in row))
        pairs.append((int(ids[orig]), int(ids[n_base + j])))
    return [int(i) for i in ids], texts, pairs


def make_embeddings(seed: int, n_groups: int, group_size: int, dim: int,
                    noise: float = 0.15) -> Tuple[np.ndarray, np.ndarray]:
    """Clustered vectors: each group is a random centre plus small noise,
    so a vector's exact neighbours are (almost always) its group mates."""
    rng = np.random.default_rng(seed + 7919)
    centres = rng.standard_normal((n_groups, dim))
    vecs = np.repeat(centres, group_size, axis=0) + noise * rng.standard_normal((n_groups * group_size, dim))
    ids = rng.permutation(len(vecs)).astype(np.int64)
    return ids, vecs


def land_corpus(seed: int, path: str, n_base: int, dup_share: float, n_groups: int,
                group_size: int, dim: int) -> Corpus:
    os.makedirs(path, exist_ok=True)
    ids, texts, pairs = make_documents(seed, n_base, dup_share)
    docs_path = os.path.join(path, 'documents.parquet')
    pq.write_table(pa.table({'doc_id': pa.array(ids, pa.int64()), 'text': pa.array(texts)}), docs_path)
    vec_ids, vecs = make_embeddings(seed, n_groups, group_size, dim)
    vecs_path = os.path.join(path, 'embeddings.parquet')
    emb = pa.array(list(vecs), type=pa.list_(pa.float64()))
    pq.write_table(pa.table({'vec_id': pa.array(vec_ids), 'embedding': emb}), vecs_path)
    return Corpus(docs_path, vecs_path, pairs, len(ids))


def read_embeddings(path: str) -> Tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    ids = t['vec_id'].to_numpy()
    vecs = np.array(t['embedding'].to_pylist(), dtype=np.float64)
    return ids, vecs
