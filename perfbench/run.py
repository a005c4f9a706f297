"""Benchmark entry point.

    python3 perfbench/run.py --workload transcripts_kg --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  Starts a Spark session
and lands the workload's inputs, generated from ``--seed``, several times;
runs one warm-up pass; then runs timed passes for ``--seconds`` seconds of
measured work (at least ``MIN_PASSES``), checking every pass.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` (operations are passes, or micro-batches on transcripts_kg) and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced run with ``--trace 1``.  Exit code 0 means
every check passed; 1 that a check failed; 2 that the checkout has no
package to run.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
sys.path[0] = ROOT  # import the checkout's package and this benchmark as ``perfbench``

SETUP_REPS = 3
MIN_PASSES = 3
TRACE_PASSES = 2
WALL_LIMIT_S = 140.0  # stop starting passes after this much wall time


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, default=10.0)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: set-up repetitions, checked passes, tallies."""

    def __init__(self, wl, seed: int, work: str):
        from perfbench.harness import Sessions

        self.wl, self.seed, self.work = wl, seed, work
        self.sessions = Sessions(work)
        self.attempted = self.failed = 0
        self.errors = []
        self.session_s = []
        self.setup_s = 0.0
        self.inputs = self.ref = None

    def check(self, result):
        self.attempted += result.ops
        if result.errors:
            self.failed += result.ops
            self.errors += result.errors
        return result

    def setup(self):
        """Start a session and land the seeded input ``SETUP_REPS`` times
        (each start after the first restarts the SparkContext in the same
        JVM), then run one untimed warm-up pass.  ``setup_s`` is the median
        start-and-land time plus the warm-up pass."""
        from perfbench.harness import clock, median

        prints = set()
        start_land = []
        for rep in range(SETUP_REPS):
            t0 = clock()
            spark = self.sessions.start()
            t1 = clock()
            self.inputs = self.wl.land(spark, self.seed, os.path.join(self.work, 'input'))
            t2 = clock()
            self.session_s.append(t1 - t0)
            start_land.append(t2 - t0)
            print(f'setup {rep}: session {t1 - t0:.3f} s, land {t2 - t1:.3f} s', file=sys.stderr)
            prints.add(self.wl.fingerprint(self.inputs))
        if len(prints) != 1:
            self.errors.append(f'same seed landed different inputs: {sorted(map(str, prints))}')
            self.failed += 1
        self.ref = self.wl.reference(spark, self.inputs)
        warm = self.check(self.wl.run_pass(spark, self.inputs, self.work, self.ref))
        print(f'warm-up pass {warm.seconds:.3f} s', file=sys.stderr)
        self.setup_s = median(start_land) + warm.seconds
        return spark

    def passes(self, spark, min_passes: int, seconds: float, t_start: float):
        from perfbench.harness import clock

        out = []
        while len(out) < min_passes or sum(r.seconds for r in out) < seconds:
            if clock() - t_start > WALL_LIMIT_S and len(out) >= 1:
                break
            out.append(self.check(self.wl.run_pass(spark, self.inputs, self.work, self.ref)))
        return out


def end_to_end(run: Run, spark, seconds: float, t_start: float):
    from perfbench.harness import median, vm_hwm_mb

    results = run.passes(spark, MIN_PASSES, seconds, t_start)
    print('timed passes: ' + ' '.join(f'{r.seconds:.3f}' for r in results) + ' s', file=sys.stderr)
    batches = [b for r in results for b in (r.batches or [r.seconds])]
    return {
        'setup_s': run.setup_s,
        'pass_s': median([r.seconds for r in results]),
        'triples_per_s': median([r.triples / r.seconds for r in results]),
        'batch_s_p50': median(batches),
        'peak_rss_mb': vm_hwm_mb(run.sessions.jvm_pid()) + vm_hwm_mb(os.getpid()),
    }


def per_layer(run: Run, spark, t_start: float):
    from perfbench.eventlog import fold_dir
    from perfbench.harness import job_group, median
    from perfbench.metrics import LAYER_METRICS
    from perfbench.workloads import TRACE_REPS, Traced

    # untraced, traced, untraced again: the JVM keeps warming up over the
    # run, so the untraced median brackets the traced passes in time
    event_dir = os.path.join(run.work, 'events')
    untraced = run.passes(spark, TRACE_PASSES, 0.0, t_start)
    run.sessions.event_log_dir = event_dir
    spark = run.sessions.start()
    run.check(run.wl.run_pass(spark, run.inputs, run.work, run.ref))  # warm the new context
    with job_group(spark, 'pass'):
        traced = run.passes(spark, TRACE_PASSES, 0.0, t_start)
    tr = Traced()
    run.wl.trace(spark, run.inputs, run.work, run.ref, tr)
    run.sessions.event_log_dir = None
    spark = run.sessions.start()
    run.check(run.wl.run_pass(spark, run.inputs, run.work, run.ref))
    untraced += run.passes(spark, TRACE_PASSES, 0.0, t_start)
    run.sessions.stop()

    groups = fold_dir(event_dir, tr.group_alias)
    layers = tr.layer_totals(groups)
    values = dict.fromkeys((name for name, *_ in LAYER_METRICS), 0.0)
    unknown = set(tr.values) - set(values)
    if unknown:
        raise KeyError(f'per-layer metrics missing from perfbench.metrics: {sorted(unknown)}')
    for layer, (totals, skew) in layers.items():
        values.update({
            f'{layer}.executor_cpu_s': totals['cpu_s'],
            f'{layer}.gc_s': totals['gc_s'],
            f'{layer}.fetch_wait_s': totals['fetch_wait_s'],
            f'{layer}.spill_bytes': totals['spill_bytes'],
            f'{layer}.task_skew': skew,
        })
    for layer in ('operators.canonicalize', 'plans.lineage'):
        if layer in layers:
            values[f'{layer}.shuffle_write_bytes'] = layers[layer][0]['shuffle_write_bytes']
    values.update(tr.values)
    values['session.start_s'] = median(run.session_s)
    if tr.amplification:
        group, rows = tr.amplification
        values['sources.rows_read_per_row_landed'] = groups[group].input_records / TRACE_REPS / rows
    pass_untraced = median([r.seconds for r in untraced])
    pass_traced = median([r.seconds for r in traced])
    values.update({
        'trace.pass_s_untraced': pass_untraced,
        'trace.pass_s_traced': pass_traced,
        'trace.overhead_ratio': pass_traced / pass_untraced - 1.0,
        'trace.blocking_self_s': tr.blocking_self_s,
        'trace.unexplained_share': (pass_traced - tr.blocking_self_s) / pass_traced,
    })
    return values


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, 'dgraphpandas_spark')):
        print(f'perfbench: no dgraphpandas_spark package under {ROOT}; '
              'run from the root of a checkout', file=sys.stderr)
        return 2
    from perfbench.harness import clock, confine_temp_files
    from perfbench.metrics import UNITS
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f'perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}',
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, '.bench_work', f'{args.workload}-{args.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    confine_temp_files(work)
    run = Run(WORKLOADS[args.workload], args.seed, work)
    try:
        t_start = clock()
        spark = run.setup()
        if args.trace:
            values = per_layer(run, spark, t_start)
        else:
            values = end_to_end(run, spark, args.seconds, t_start)
    finally:
        run.sessions.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, '.bench_work'))
        except OSError:
            pass
    for err in run.errors:
        print(f'CHECK FAILED: {err}', file=sys.stderr)
    for name, value in values.items():
        print(f'{name:48s} {value:16.6f} {UNITS[name]}')
    print(f"{'fail_ratio':48s} {run.failed / max(run.attempted, 1):16.6f} ratio")
    correct = not run.errors
    print(json.dumps({
        'correct': correct,
        'attempted': run.attempted,
        'failed': run.failed,
        'metrics': {k: {'value': v, 'unit': UNITS[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == '__main__':
    sys.exit(main())
