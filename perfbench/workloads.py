"""The workloads: seeded inputs, one timed pass, its checks, and the
traced per-layer split.

Each workload only calls the package's public functions in ``sources``,
``operators``, ``writers``, ``plans`` and ``streaming``.  A pass returns
its timed seconds (the program's work, ending in the action that delivers
its output) and the list of check mismatches (computed after the clock
stops).  ``trace`` runs prefix actions — each tagged with its layer's job
group — whose differences give every layer's self time; the event log of
the same jobs gives their task totals.
"""
from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from . import checks, inputs
from .eventlog import GroupStats
from .harness import clock, dir_stats, job_group, median, tail_percentile

TRACE_REPS = 1  # repetitions of each prefix action in a traced run (median taken)


@dataclass
class PassResult:
    seconds: float
    triples: int
    errors: List[str]
    batches: List[float] = field(default_factory=list)  # micro-batch seconds

    @property
    def ops(self) -> int:
        return max(1, len(self.batches))


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def checksum_cols(df, cols=('subject', 'predicate', 'object')):
    """(rows, XOR of xxhash64) — order-independent, overflow-free."""
    from pyspark.sql import functions as F

    r = df.agg(F.count('*').alias('n'), F.bit_xor(F.xxhash64(*cols)).alias('ck')).collect()[0]
    return int(r['n']), int(r['ck'] or 0)


def part_checksums(parts: Dict[str, object]) -> Dict[str, tuple]:
    """One action over the union of named triple frames: per part
    (rows, XOR checksum)."""
    from pyspark.sql import functions as F

    tagged = [df.select('subject', 'predicate', 'object', F.lit(name).alias('part'))
              for name, df in parts.items()]
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    rows = union.groupBy('part').agg(
        F.count('*').alias('n'), F.bit_xor(F.xxhash64('subject', 'predicate', 'object')).alias('ck')
    ).collect()
    return {r['part']: (int(r['n']), int(r['ck'] or 0)) for r in rows}


def timed_median(spark, group: Optional[str], fn: Callable, reps: int = TRACE_REPS):
    """Run ``fn`` ``reps`` times under job group ``group``; return the
    median wall time and the last result."""
    times, out = [], None
    for _ in range(reps):
        with job_group(spark, group):
            t0 = clock()
            out = fn()
            times.append(clock() - t0)
    return median(times), out


class Traced:
    """What a traced run collects before the event log is folded: layer
    values measured from outside, and which job groups hold each layer's
    tasks (a layer seen as the difference of two prefix actions subtracts
    its base group)."""

    def __init__(self):
        self.values: Dict[str, float] = {}
        self.layer_groups: Dict[str, tuple] = {}  # layer -> (group, base group or None)
        self.group_alias: Dict[str, str] = {}  # streaming run id -> layer group
        # (job group of one canonical-KG action, rows landed): source rows read per row landed
        self.amplification: Optional[tuple] = None
        # self time of the layers on the blocking path of one pass
        self.blocking_self_s = 0.0

    def layer_totals(self, groups: Dict[str, GroupStats]) -> Dict[str, tuple]:
        """layer -> (task totals per prefix action, task skew of its group)."""
        out = {}
        for layer, (group, base) in self.layer_groups.items():
            g = groups.get(group, GroupStats())
            totals = g.minus(groups.get(base, GroupStats()))
            out[layer] = ({k: v / TRACE_REPS for k, v in totals.items()}, g.task_skew)
        return out


# ------------------------------------------------------------- transcripts

def _transform(spark, src: str):
    from dgraphpandas_spark.operators.horizontal import horizontal_transform
    from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG

    tx = spark.read.parquet(src)
    intrinsic, edges = horizontal_transform(tx, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True)
    return tx, intrinsic, edges


def _canonical_kg(spark, src: str):
    """The transcript KG: horizontal transform, tool linking through the
    canonical dictionary, conversation edges and nodes, tool nodes."""
    from pyspark.sql import functions as F

    from dgraphpandas_spark.operators.canonicalize import (
        conversation_edges, conversation_nodes, link_entities, tool_nodes)
    from dgraphpandas_spark.sources.transcripts import tool_dictionary

    tx, intrinsic, edges = _transform(spark, src)
    dictionary = tool_dictionary(spark, inputs.N_TOOLS).select(
        F.concat(F.lit('tool_'), F.col('tool_name')).alias('raw'),
        F.concat(F.lit('tool_'), F.col('canonical')).alias('canonical'),
    )
    linked = link_entities(edges, dictionary, target_predicates=['tool'])
    return {
        'intrinsic': intrinsic.unionByName(conversation_nodes(tx)).unionByName(tool_nodes(linked)),
        'edges': linked.unionByName(conversation_edges(tx)),
    }, (tx, intrinsic, edges, dictionary)


class TranscriptsKG:
    """Bulk build of the transcript KG, then incremental micro-batches.

    One pass: (1) the bulk table through the canonical KG — horizontal
    transform, tool linking, conversation edges and nodes, tool nodes —
    into ``materialize_triples`` (32 buckets, read-back verify) and the
    gzip N-Quad export of ``generate_upserts``; (2) a closed loop that
    drains the landed micro-batch files, one file per trigger, through
    ``stream_transcripts`` → ``stream_triples`` → ``stream_materialize``
    (AvailableNow): each batch starts when the previous one commits."""

    name = 'transcripts_kg'
    why = ('the paper pipeline: bulk KG build, bucketed write with read-back verify and gzip '
           'N-Quads, then a closed loop of micro-batches where per-call costs dominate')
    n_turns = 40_000
    n_buckets = 32
    n_files = 3
    turns_per_file = 4_000
    stream_buckets = 16

    # ------------------------------------------------------------ inputs
    def land(self, spark, seed: int, path: str):
        bulk = inputs.land_transcripts(spark, seed, self.n_turns, os.path.join(path, 'bulk'))
        batches = os.path.join(path, 'batches')
        _rm(batches)
        inputs.land_microbatches(spark, seed, self.n_files, self.turns_per_file, batches)
        return {'bulk': bulk, 'batches': batches}

    def fingerprint(self, src):
        return tuple(checks.input_fingerprint(os.path.join(src[k], '*.parquet'))
                     for k in ('bulk', 'batches'))

    def reference(self, spark, src):
        """DuckDB counts of both inputs and the one-shot transform checksum
        of the micro-batch files."""
        from dgraphpandas_spark.operators.horizontal import horizontal_transform
        from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG

        bulk = checks.transcript_counts(os.path.join(src['bulk'], '*.parquet'))
        stream = checks.transcript_counts(os.path.join(src['batches'], '*.parquet'))
        one_shot = spark.read.schema(inputs.TRANSCRIPT_SCHEMA).parquet(src['batches'])
        i, e = horizontal_transform(one_shot, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True)
        return {
            'bulk': bulk, 'stream': stream, 'kg_ck': None,
            'one_shot': checksum_cols(i.unionByName(e)),
            'stream_rows': stream.horizontal_intrinsic + stream.horizontal_edges,
        }

    # ------------------------------------------------------------ program
    def _materialize(self, spark, src, out: str, verify: bool = True):
        """The canonical KG, both parts tagged, into one bucketed table.
        An Observation on the frame handed to the writer records what the
        transform produced — per-part rows and the XOR checksum — on the
        write action itself, at no extra pass."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from dgraphpandas_spark.plans.lineage import materialize_triples

        kg, _ = _canonical_kg(spark, src['bulk'])
        tagged = kg['intrinsic'].withColumn('part', F.lit('intrinsic')).unionByName(
            kg['edges'].withColumn('part', F.lit('edges')))
        obs = Observation()
        observed = tagged.observe(
            obs,
            F.count_if(F.col('part') == 'intrinsic').alias('intrinsic'),
            F.count_if(F.col('part') == 'edges').alias('edges'),
            F.bit_xor(F.xxhash64('subject', 'predicate', 'object')).alias('ck'),
        )
        manifest = materialize_triples(observed, os.path.join(out, 'triples'),
                                       n_buckets=self.n_buckets, verify=verify)
        return manifest, obs.get

    def _export(self, spark, out: str):
        """gzip N-Quads rendered from the committed table."""
        from pyspark.sql import functions as F

        from dgraphpandas_spark.plans.lineage import read_triples
        from dgraphpandas_spark.writers.upserts import generate_upserts

        table = read_triples(spark, os.path.join(out, 'triples'))
        ilines, elines = generate_upserts(table.filter(F.col('part') == 'intrinsic'),
                                          table.filter(F.col('part') == 'edges'))
        ilines.unionByName(elines).write.mode('overwrite').option('compression', 'gzip') \
            .text(os.path.join(out, 'nquads'))

    def _drain(self, spark, src, out: str):
        from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG
        from dgraphpandas_spark.streaming.stream import (
            stream_materialize, stream_transcripts, stream_triples)

        stream = stream_transcripts(spark, src['batches'], inputs.TRANSCRIPT_SCHEMA,
                                    max_files_per_trigger=1)
        triples = stream_triples(stream, TRANSCRIPT_CONFIG, 'turn')
        q = stream_materialize(triples, os.path.join(out, 'appended'),
                               os.path.join(out, 'checkpoint'), n_buckets=self.stream_buckets)
        q.awaitTermination()
        return q

    def run_pass(self, spark, src, work: str, ref: dict) -> PassResult:
        from dgraphpandas_spark.plans.lineage import appended_waves, read_appended

        out = os.path.join(work, 'kg-out')
        _rm(out)
        t0 = clock()
        manifest, observed = self._materialize(spark, src, out)
        self._export(spark, out)
        q = self._drain(spark, src, out)
        seconds = clock() - t0

        want = ref['bulk'].build_parts
        kg_rows = sum(want.values())
        if ref['kg_ck'] is None:
            ref['kg_ck'] = observed['ck']
        xor = 0
        for row in manifest.values():
            xor ^= int(row['checksum'])
        errors = checks.expect_equal('per-part triple counts',
                                     {p: observed[p] for p in want}, want)
        errors += checks.expect_equal('KG checksum vs first pass', observed['ck'], ref['kg_ck'])
        errors += checks.expect_equal('committed buckets', len(manifest), self.n_buckets)
        errors += checks.expect_equal('manifest rows', sum(r['rows'] for r in manifest.values()),
                                      kg_rows)
        errors += checks.expect_equal('manifest XOR checksum vs transform', xor, observed['ck'])
        lines, _ = checks.gzip_lines(os.path.join(out, 'nquads'))
        errors += checks.expect_equal('N-Quad lines', lines, kg_rows)

        progress = [json.loads(p.json) for p in q.recentProgress if p.numInputRows > 0]
        batches = [p['durationMs']['triggerExecution'] / 1e3 for p in progress]
        if q.exception():
            errors.append(f'stream failed: {q.exception()}')
        appended = os.path.join(out, 'appended')
        errors += checks.expect_equal('micro-batches', len(batches), self.n_files)
        errors += checks.expect_equal('committed waves', len(appended_waves(appended)), self.n_files)
        got = checksum_cols(read_appended(spark, appended))
        errors += checks.expect_equal('appended (rows, checksum) vs one-shot transform',
                                      got, ref['one_shot'])
        errors += checks.expect_equal('appended triples', got[0], ref['stream_rows'])
        triples = kg_rows + ref['stream_rows']
        return PassResult(seconds, 0 if errors else triples, errors, batches)

    # ------------------------------------------------------------ trace
    def trace(self, spark, src, work: str, ref: dict, tr: Traced) -> None:
        from pyspark.sql import functions as F

        from dgraphpandas_spark.operators.melt import melt
        from dgraphpandas_spark.plans.lineage import read_triples
        from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG
        from dgraphpandas_spark.streaming.stream import stream_transcripts, stream_triples
        from dgraphpandas_spark.writers.upserts import generate_upserts

        bulk = src['bulk']
        cols = ['conv_id', 'turn_idx', 'role', 'text', 'tool', 'ts']
        scan_s, (rows, _) = timed_median(
            spark, 'sources', lambda: checksum_cols(spark.read.parquet(bulk), cols))

        def melt_only():
            long_df, _ = melt(spark.read.parquet(bulk), id_vars=['conv_id', 'turn_idx'],
                              value_vars=['role', 'text', 'tool', 'ts'], datetime_columns=['ts'])
            return checksum_cols(long_df, long_df.columns)

        melt_s, (melt_rows, _) = timed_median(spark, 'operators.melt', melt_only)

        def plan_only():
            _, i, e = _transform(spark, bulk)
            i.schema, e.schema  # analysis of both outputs
            return i, e

        plan_s, _ = timed_median(spark, None, plan_only, reps=3)

        def horizontal():
            _, i, e = _transform(spark, bulk)
            return part_checksums({'intrinsic': i, 'edges': e})

        horiz_s, hparts = timed_median(spark, 'operators.horizontal', horizontal)
        horiz_triples = sum(n for n, _ in hparts.values())
        canon_s, parts = timed_median(
            spark, 'operators.canonicalize', lambda: part_checksums(_canonical_kg(spark, bulk)[0]))
        _, (_, _, edges, dictionary) = _canonical_kg(spark, bulk)
        tools = edges.filter(F.col('predicate') == 'tool')
        hit = tools.join(F.broadcast(dictionary), tools['object'] == dictionary['raw'], 'left') \
            .agg(F.count('raw').alias('hit'), F.count('*').alias('n')).collect()[0]

        out = os.path.join(work, 'trace-out')

        def materialize(verify: bool):
            def go():
                _rm(os.path.join(out, 'triples'))
                return self._materialize(spark, src, out, verify)
            return go

        verify_off_s, _ = timed_median(spark, 'plans.lineage.noverify', materialize(False))
        materialize_s, _ = timed_median(spark, 'plans.lineage', materialize(True))

        def render():
            table = read_triples(spark, os.path.join(out, 'triples'))
            i, e = generate_upserts(table.filter(F.col('part') == 'intrinsic'),
                                    table.filter(F.col('part') == 'edges'))
            return i.unionByName(e).agg(F.count('*'), F.bit_xor(F.xxhash64('line'))).collect()

        stored_scan_s, _ = timed_median(spark, 'plans.lineage.read', lambda: checksum_cols(
            read_triples(spark, os.path.join(out, 'triples'))))
        render_s, _ = timed_median(spark, 'writers.upserts.render', render)
        export_s, _ = timed_median(spark, 'writers.upserts', lambda: self._export(spark, out))
        files, data_bytes = dir_stats(os.path.join(out, 'triples', 'data'), '.parquet')
        lines, gz_bytes = checks.gzip_lines(os.path.join(out, 'nquads'))

        def stream_plan():
            s = stream_triples(stream_transcripts(spark, src['batches'], inputs.TRANSCRIPT_SCHEMA,
                                                  max_files_per_trigger=1), TRANSCRIPT_CONFIG, 'turn')
            return s.schema

        stream_plan_s, _ = timed_median(spark, None, stream_plan, reps=3)
        run_ids, progress, drain_s = [], [], []
        for _ in range(TRACE_REPS):
            for sub in ('appended', 'checkpoint'):
                _rm(os.path.join(out, sub))
            t0 = clock()
            q = self._drain(spark, src, out)
            drain_s.append(clock() - t0)
            run_ids.append(str(q.runId))
            progress += [json.loads(p.json) for p in q.recentProgress if p.numInputRows > 0]
        appended = os.path.join(out, 'appended')
        waves = []
        for name in sorted(os.listdir(os.path.join(appended, 'manifest'))):
            with open(os.path.join(appended, 'manifest', name)) as f:
                waves.append(json.load(f))
        wave_files, _ = dir_stats(os.path.join(appended, 'data'), '.parquet')

        def dur(p, key):
            return float(p['durationMs'].get(key, 0))

        batch_s = [dur(p, 'triggerExecution') / 1e3 for p in progress]
        try:
            pct, tail = tail_percentile(batch_s)
        except ValueError:  # too few batches for a tail: report the slowest
            pct, tail = 100.0, max(batch_s)
        tr.values.update({
            'sources.scan_s': scan_s,
            'sources.input_bytes': dir_stats(bulk, '.parquet')[1],
            'operators.melt.self_s': melt_s - scan_s,
            'operators.melt.rows_out': melt_rows,
            'operators.vertical.self_s': horiz_s - melt_s,
            # vertical adds one dgraph.type triple per (unique) turn
            'operators.vertical.rows_dropped': melt_rows - (horiz_triples - rows),
            'operators.horizontal.plan_s': plan_s,
            'operators.horizontal.stream_plan_s': stream_plan_s,
            'operators.horizontal.self_s': horiz_s - scan_s,
            'operators.horizontal.triples_out': horiz_triples,
            'operators.horizontal.fanout': horiz_triples / rows,
            'operators.canonicalize.self_s': canon_s - horiz_s,
            'operators.canonicalize.triples_added': sum(n for n, _ in parts.values()) - horiz_triples,
            'operators.canonicalize.link_hit_ratio': hit['hit'] / hit['n'] if hit['n'] else 0.0,
            'writers.upserts.render_s': render_s - stored_scan_s,
            'writers.upserts.export_s': export_s,
            'writers.upserts.bytes_out': gz_bytes,
            'writers.upserts.bytes_per_line': gz_bytes / lines,
            'plans.lineage.materialize_s': materialize_s,
            'plans.lineage.verify_s': materialize_s - verify_off_s,
            'plans.lineage.files_written': files,
            'plans.lineage.bytes_written': data_bytes,
            'plans.lineage.stored_bytes_per_triple': (data_bytes + gz_bytes) / lines,
            'plans.lineage.append_ms': median([w['ms'] for w in waves]),
            'plans.lineage.files_per_wave': wave_files / len(waves),
            'streaming.stream.drain_s': median(drain_s),
            'streaming.stream.rows_read_per_row_landed':
                sum(p['numInputRows'] for p in progress) / (TRACE_REPS * ref['stream'].turns),
            'streaming.stream.add_batch_ms': median([dur(p, 'addBatch') for p in progress]),
            'streaming.stream.query_planning_ms': median([dur(p, 'queryPlanning') for p in progress]),
            'streaming.stream.wal_commit_ms': median([dur(p, 'walCommit') for p in progress]),
            'streaming.stream.commit_offsets_ms': median([dur(p, 'commitOffsets') for p in progress]),
            'streaming.stream.trigger_overhead_ms':
                median([dur(p, 'triggerExecution') - dur(p, 'addBatch') for p in progress]),
            'streaming.stream.batch_s_p50': median(batch_s),
            'streaming.stream.batch_s_tail': tail,
            'streaming.stream.batch_tail_pct': pct,
            'streaming.stream.batches': len(batch_s),
        })
        tr.layer_groups.update({
            'sources': ('sources', None),
            'operators.melt': ('operators.melt', 'sources'),
            'operators.vertical': ('operators.horizontal', 'operators.melt'),
            'operators.horizontal': ('operators.horizontal', 'sources'),
            'operators.canonicalize': ('operators.canonicalize', 'operators.horizontal'),
            'writers.upserts': ('writers.upserts', None),
            'plans.lineage': ('plans.lineage', None),
            'streaming.stream': ('streaming.stream', None),
        })
        tr.group_alias.update({run_id: 'streaming.stream' for run_id in run_ids})
        tr.amplification = ('operators.canonicalize', rows)
        # blocking path: bucketed write (KG build inside), export, micro-batch drain
        tr.blocking_self_s = materialize_s + export_s + median(drain_s)


class CorpusNeardup:
    """Near-duplicate documents and a kNN graph over embeddings.

    One pass: ``dedup_clusters`` (MinHash-LSH candidates → exact Jaccard
    verify → connected components) over the documents, then
    ``knn_graph`` (sign-LSH buckets with multi-probe) over the vectors;
    both results are delivered to the driver as Arrow tables."""

    name = 'corpus_neardup'
    why = ('MinHash-LSH dedup and the LSH kNN graph, with their skewed bucket self-joins; '
           'KG-only changes should leave it unchanged')
    n_base = 1_000
    dup_share = 0.1
    n_groups = 100
    group_size = 6
    dim = 64
    k = 5
    n_queries = 100

    def land(self, spark, seed: int, path: str):
        return inputs.land_corpus(seed, path, self.n_base, self.dup_share, self.n_groups,
                                  self.group_size, self.dim)

    def fingerprint(self, corpus):
        import hashlib

        h = hashlib.sha256()
        for p in (corpus.docs_path, corpus.vecs_path):
            with open(p, 'rb') as f:
                h.update(f.read())
        return h.hexdigest()

    def reference(self, spark, corpus):
        import numpy as np

        ids, vecs = inputs.read_embeddings(corpus.vecs_path)
        rng = np.random.default_rng(len(ids) + self.n_queries)
        queries = rng.choice(ids, size=self.n_queries, replace=False)
        return {'ids': ids, 'vecs': vecs,
                'truth': checks.exact_neighbours(ids, vecs, queries, self.k)}

    def _dedup(self, docs):
        from dgraphpandas_spark.operators.dedup import dedup_clusters

        return dedup_clusters(docs, n=3, bands=8, threshold=0.8)

    def _knn(self, vecs):
        from dgraphpandas_spark.operators.simsearch import knn_graph

        return knn_graph(vecs, k=self.k, n_planes=8, dim=self.dim)

    def run_pass(self, spark, corpus, work: str, ref: dict) -> PassResult:
        t0 = clock()
        docs = spark.read.parquet(corpus.docs_path)
        vecs = spark.read.parquet(corpus.vecs_path)
        clusters = self._dedup(docs).toArrow()
        knn = self._knn(vecs).toArrow()
        seconds = clock() - t0
        errors, _, _ = self.check(corpus, ref, clusters, knn)
        return PassResult(seconds, clusters.num_rows + knn.num_rows if not errors else 0, errors)

    def check(self, corpus, ref, clusters, knn):
        rows = list(zip(*(clusters[c].to_pylist() for c in ('id', 'cluster_id', 'keep'))))
        errors, dup_recall = checks.dedup_errors(rows, corpus.n_docs, corpus.planted_pairs)
        knn_rows = list(zip(*(knn[c].to_pylist() for c in ('id', 'nbr', 'cos', 'rank'))))
        kerr, knn_recall = checks.knn_errors(knn_rows, ref['ids'], ref['vecs'], ref['truth'], self.k)
        errors += kerr
        if dup_recall < 0.95:
            errors.append(f'dup_recall {dup_recall:.3f} < 0.95')
        if knn_recall < 0.75:
            errors.append(f'knn_recall {knn_recall:.3f} < 0.75')
        return errors, dup_recall, knn_recall

    def trace(self, spark, corpus, work: str, ref: dict, tr: Traced) -> None:
        from pyspark.sql import functions as F

        from dgraphpandas_spark.operators.dedup import jaccard_for_pairs, minhash_lsh_candidates
        from dgraphpandas_spark.operators.simsearch import with_lsh_bucket

        docs = spark.read.parquet(corpus.docs_path)
        vecs = spark.read.parquet(corpus.vecs_path)
        scan_s, _ = timed_median(spark, 'sources', lambda: (
            checksum_cols(docs, ['doc_id', 'text']), vecs.agg(F.count('*')).collect()))

        def cand():
            return minhash_lsh_candidates(docs, n=3, bands=8)

        cand_s, n_cand = timed_median(spark, 'operators.dedup.candidates', lambda: cand().count())
        verify_s, n_ver = timed_median(
            spark, 'operators.dedup.verify',
            lambda: jaccard_for_pairs(cand(), docs, n=3).filter(F.col('jaccard') >= 0.8).count())
        dedup_s, clusters = timed_median(spark, 'operators.dedup', lambda: self._dedup(docs).toArrow())
        knn_s, knn = timed_median(spark, 'operators.simsearch', lambda: self._knn(vecs).toArrow())
        _, dup_recall, knn_recall = self.check(corpus, ref, clusters, knn)
        sizes = {r['bucket']: r['count'] for r in
                 with_lsh_bucket(vecs, 8, self.dim, 42).groupBy('bucket').count().collect()}
        knn_pairs = sum(n * sum(sizes.get(b ^ (1 << i), 0) for i in range(8)) + n * (n - 1)
                        for b, n in sizes.items())
        tr.values.update({
            'sources.scan_s': scan_s,
            'sources.input_bytes': sum(os.path.getsize(p) for p in (corpus.docs_path, corpus.vecs_path)),
            'operators.dedup.candidates_s': cand_s,
            'operators.dedup.verify_s': verify_s - cand_s,
            'operators.dedup.components_s': dedup_s - verify_s,
            'operators.dedup.candidate_pairs': n_cand,
            'operators.dedup.pair_yield': n_ver / n_cand if n_cand else 0.0,
            'operators.dedup.dup_recall': dup_recall,
            'operators.simsearch.knn_s': knn_s,
            'operators.simsearch.candidate_pairs': knn_pairs,
            'operators.simsearch.knn_recall': knn_recall,
        })
        tr.layer_groups['sources'] = ('sources', None)
        tr.layer_groups['operators.dedup'] = ('operators.dedup', None)
        tr.layer_groups['operators.simsearch'] = ('operators.simsearch', None)
        # blocking path: candidates → verify → components, then the kNN graph
        tr.blocking_self_s = dedup_s + knn_s


WORKLOADS = {w.name: w for w in (TranscriptsKG(), CorpusNeardup())}
