import json
import os

from perfbench import metrics, run
from perfbench.harness import clock
from perfbench.workloads import WORKLOADS, PassResult

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def test_benchmark_json_mirrors_the_metric_lists():
    b = bench()
    assert [(m['name'], m['unit'], m['better'], m['bound']) for m in b['end_to_end']] == \
        metrics.END_TO_END
    assert [(m['name'], m['unit'], m['better']) for m in b['per_layer']] == metrics.LAYER_METRICS
    assert [(w['name'], w['why']) for w in b['workloads']] == \
        [(w.name, w.why) for w in WORKLOADS.values()]
    assert b['command'] == ['python3', 'perfbench/run.py'] and b['paths'] == ['perfbench']


class StubWorkload:
    """A workload whose passes take fixed, fake times (no Spark)."""

    def run_pass(self, spark, inputs, work, ref):
        return PassResult(seconds=0.5, triples=100, errors=[], batches=[0.1, 0.2, 0.2])


def test_printed_end_to_end_names_match(tmp_path, capsys):
    r = run.Run(StubWorkload(), seed=1, work=str(tmp_path))
    r.setup_s = 2.0
    values = run.end_to_end(r, None, seconds=1.0, t_start=clock())
    assert list(values) == [m['name'] for m in bench()['end_to_end']]
    assert values['pass_s'] == 0.5 and values['batch_s_p50'] == 0.2
    assert values['triples_per_s'] == 200.0 and values['setup_s'] == 2.0
    assert r.attempted == run.MIN_PASSES * 3 and r.failed == 0  # one op per micro-batch


def test_every_unit_is_known():
    names = [m['name'] for m in bench()['end_to_end'] + bench()['per_layer']]
    assert len(names) == len(set(names))
    assert set(names) == set(metrics.UNITS)
