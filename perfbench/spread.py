"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload transcripts_kg --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
current directory (the root of a checkout) with ``run_seconds`` from
``BENCHMARK.json``.  Prints, per metric, the median, the quartile spread
((Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``) and the
spread as a share of the metric's bound; then the wall time of each run.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path[0] = os.getcwd()

from perfbench.harness import median, quartile_spread  # noqa: E402


def seeds_of(text: str):
    if '-' in text:
        lo, hi = text.split('-')
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(',')]


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument('--workload', required=True)
    p.add_argument('--seeds', default='1-10')
    p.add_argument('--trace', type=int, default=0)
    args = p.parse_args(argv)
    with open('BENCHMARK.json') as f:
        bench = json.load(f)
    bounds = {m['name']: m['bound'] for m in bench['end_to_end']}
    values, walls, failures = {}, [], 0
    for seed in seeds_of(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench['command'] + ['--workload', args.workload, '--seed', str(seed),
                                '--seconds', str(bench['run_seconds']), '--trace', str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {'correct': False, 'metrics': {}}
        if proc.returncode or not result['correct'] or result.get('failed'):
            failures += 1
        for name, m in result['metrics'].items():
            values.setdefault(name, []).append(m['value'])
        print(f'seed {seed}: rc={proc.returncode} wall {walls[-1]:.1f} s '
              + ' '.join(f'{k}={v["value"]:.4g}' for k, v in result['metrics'].items()
                         if k in bounds), flush=True)
    print(f'\n{args.workload}: {len(walls)} runs, {failures} failed, '
          f'wall median {median(walls):.1f} s, max {max(walls):.1f} s')
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        spread = quartile_spread(vals)
        bound = bounds.get(name)
        share = f'{spread / bound:6.2f} of bound {bound}' if bound else ''
        print(f'{name:48s} median {median(vals):14.6g}  spread {spread:7.4f}  {share}')
    return 1 if failures else 0


if __name__ == '__main__':
    sys.exit(main())
