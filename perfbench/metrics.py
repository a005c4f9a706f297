"""Metric names and units — the single list ``BENCHMARK.json`` mirrors.

End-to-end metrics come from untraced runs only; per-layer metrics from a
separate traced run.  Every workload prints every metric of its mode, so
a layer a workload never calls reports 0 for its per-layer metrics.  Which
end-to-end metric each layer should move is mapped in README.md.
"""
from __future__ import annotations

from typing import Dict, List, Tuple

# (name, unit, better, bound); README.md defines each one.
END_TO_END: List[Tuple[str, str, str, float]] = [
    ('setup_s', 's', 'lower', 0.25),
    ('pass_s', 's', 'lower', 0.25),
    ('triples_per_s', '1/s', 'higher', 0.25),
    ('batch_s_p50', 's', 'lower', 0.25),
    ('peak_rss_mb', 'MiB', 'lower', 0.2),
]

# Layers whose Spark tasks the traced run folds out of the event log.
EVENT_LAYERS = [
    'sources', 'operators.melt', 'operators.vertical', 'operators.horizontal',
    'operators.canonicalize', 'writers.upserts', 'plans.lineage', 'streaming.stream',
    'operators.dedup', 'operators.simsearch',
]
EVENT_METRICS = [('executor_cpu_s', 's', 'lower'), ('gc_s', 's', 'lower'),
                 ('fetch_wait_s', 's', 'lower'), ('spill_bytes', 'bytes', 'lower'),
                 ('task_skew', 'ratio', 'lower')]

# (name, unit, better).  Counts fixed by the input (rows out, fan-out) are
# marked 'higher': they only move when the program's output changes.
LAYER_METRICS: List[Tuple[str, str, str]] = [
    ('session.start_s', 's', 'lower'),
    ('sources.scan_s', 's', 'lower'),
    ('sources.input_bytes', 'bytes', 'lower'),
    ('sources.rows_read_per_row_landed', 'ratio', 'lower'),
    ('operators.melt.self_s', 's', 'lower'),
    ('operators.melt.rows_out', 'count', 'higher'),
    ('operators.vertical.self_s', 's', 'lower'),
    ('operators.vertical.rows_dropped', 'count', 'lower'),
    ('operators.horizontal.plan_s', 's', 'lower'),
    ('operators.horizontal.stream_plan_s', 's', 'lower'),
    ('operators.horizontal.self_s', 's', 'lower'),
    ('operators.horizontal.triples_out', 'count', 'higher'),
    ('operators.horizontal.fanout', 'ratio', 'higher'),
    ('operators.canonicalize.self_s', 's', 'lower'),
    ('operators.canonicalize.shuffle_write_bytes', 'bytes', 'lower'),
    ('operators.canonicalize.triples_added', 'count', 'higher'),
    ('operators.canonicalize.link_hit_ratio', 'ratio', 'higher'),
    ('writers.upserts.render_s', 's', 'lower'),
    ('writers.upserts.export_s', 's', 'lower'),
    ('writers.upserts.bytes_out', 'bytes', 'lower'),
    ('writers.upserts.bytes_per_line', 'B/line', 'lower'),
    ('plans.lineage.materialize_s', 's', 'lower'),
    ('plans.lineage.verify_s', 's', 'lower'),
    ('plans.lineage.files_written', 'count', 'lower'),
    ('plans.lineage.bytes_written', 'bytes', 'lower'),
    ('plans.lineage.shuffle_write_bytes', 'bytes', 'lower'),
    ('plans.lineage.append_ms', 'ms', 'lower'),
    ('plans.lineage.files_per_wave', 'count', 'lower'),
    ('plans.lineage.stored_bytes_per_triple', 'B/triple', 'lower'),
    ('streaming.stream.drain_s', 's', 'lower'),
    ('streaming.stream.rows_read_per_row_landed', 'ratio', 'lower'),
    ('streaming.stream.add_batch_ms', 'ms', 'lower'),
    ('streaming.stream.query_planning_ms', 'ms', 'lower'),
    ('streaming.stream.wal_commit_ms', 'ms', 'lower'),
    ('streaming.stream.commit_offsets_ms', 'ms', 'lower'),
    ('streaming.stream.trigger_overhead_ms', 'ms', 'lower'),
    ('streaming.stream.batch_s_p50', 's', 'lower'),
    ('streaming.stream.batch_s_tail', 's', 'lower'),
    ('streaming.stream.batch_tail_pct', '%', 'higher'),
    ('streaming.stream.batches', 'count', 'higher'),
    ('operators.dedup.candidates_s', 's', 'lower'),
    ('operators.dedup.verify_s', 's', 'lower'),
    ('operators.dedup.components_s', 's', 'lower'),
    ('operators.dedup.candidate_pairs', 'count', 'lower'),
    ('operators.dedup.pair_yield', 'ratio', 'higher'),
    ('operators.dedup.dup_recall', 'ratio', 'higher'),
    ('operators.simsearch.knn_s', 's', 'lower'),
    ('operators.simsearch.candidate_pairs', 'count', 'lower'),
    ('operators.simsearch.knn_recall', 'ratio', 'higher'),
] + [(f'{layer}.{m}', unit, better) for layer in EVENT_LAYERS for m, unit, better in EVENT_METRICS] + [
    ('trace.pass_s_untraced', 's', 'lower'),
    ('trace.pass_s_traced', 's', 'lower'),
    ('trace.overhead_ratio', 'ratio', 'lower'),
    ('trace.blocking_self_s', 's', 'lower'),
    ('trace.unexplained_share', 'ratio', 'lower'),
]

UNITS: Dict[str, str] = {name: unit for name, unit, _, _ in END_TO_END}
UNITS.update({name: unit for name, unit, _ in LAYER_METRICS})
