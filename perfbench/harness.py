"""Process, session and statistics helpers shared by every workload.

One Python driver process, one Spark JVM in local mode with at most
``MAX_THREADS`` task threads (never more than the CPUs this process may run
on).  Every file the benchmark or Spark writes lands under the work
directory inside the checkout: landed inputs, outputs, Spark local dirs,
the JVM temp dir and, on traced runs, the event log.
"""
from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from typing import Optional, Sequence, Tuple

MAX_THREADS = 2


def task_threads() -> int:
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    return max(1, min(cpus, MAX_THREADS))


def confine_temp_files(work: str) -> None:
    """Point every temp-file path a Python or JVM library consults at the
    work directory, before the JVM starts."""
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(work, 'spark-local')
    # the spark-submit launcher JVM: no /tmp/hsperfdata file, temp files here
    os.environ['SPARK_LAUNCHER_OPTS'] = f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}'
    os.environ.pop('SPARK_GRAFT_MASTER', None)
    import tempfile

    tempfile.tempdir = tmp


class Sessions:
    """Creates and stops the benchmark's Spark sessions, one at a time.

    The first ``start`` launches the JVM; later starts reuse it and only
    build a new SparkContext, which is how set-up can be repeated inside
    one run.  ``event_log_dir`` turns on the uncompressed Spark event log
    for the sessions started after it is set (traced runs).
    """

    def __init__(self, work: str):
        self.work = work
        self.threads = task_threads()
        self.event_log_dir: Optional[str] = None
        self.spark = None

    def start(self):
        from dgraphpandas_spark.session import get_spark

        self.stop()
        conf = {
            'spark.driver.memory': '1g',
            'spark.locality.wait': '0',
            'spark.ui.showConsoleProgress': 'false',
            'spark.local.dir': os.path.join(self.work, 'spark-local'),
            'spark.sql.warehouse.dir': os.path.join(self.work, 'warehouse'),
            'spark.driver.extraJavaOptions':
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            'spark.hadoop.hadoop.tmp.dir': os.path.join(self.work, 'tmp'),
            'spark.sql.streaming.numRecentProgressUpdates': '1000',
            'spark.eventLog.enabled': 'false',
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                'spark.eventLog.enabled': 'true',
                'spark.eventLog.dir': self.event_log_dir,
                'spark.eventLog.compress': 'false',
                'spark.eventLog.rolling.enabled': 'false',
            })
        self.spark = get_spark(
            app_name='perfbench',
            master=f'local[{self.threads}]',
            shuffle_partitions=2 * self.threads,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel('ERROR')
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, timeout: float = 60.0) -> None:
        """Stop the session, then end the JVM and wait for it to exit: the
        gateway JVM quits when the pipe on its stdin closes."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, 'proc', None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)

    def jvm_pid(self) -> Optional[int]:
        if self.spark is None:
            return None
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


@contextmanager
def job_group(spark, name: Optional[str]):
    """Tag the Spark jobs started inside the block with ``name`` (no-op
    when ``name`` is None, i.e. on untraced runs)."""
    if name is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
        sc.setLocalProperty('spark.job.description', None)


def clock() -> float:
    return time.perf_counter()


def vm_hwm_mb(pid: Optional[int]) -> float:
    """Peak resident set size of ``pid`` in MiB, from /proc (0 if gone)."""
    if pid is None:
        return 0.0
    try:
        with open(f'/proc/{pid}/status') as f:
            for line in f:
                if line.startswith('VmHWM:'):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return 0.0
    return 0.0


def dir_stats(path: str, suffix: str = '') -> Tuple[int, int]:
    """(file count, total bytes) of the data files under ``path`` whose
    names end in ``suffix``; Spark's hidden and marker files are skipped."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith(('.', '_')) or not name.endswith(suffix):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


# ---------------------------------------------------------------- statistics

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least ``pct``
    percent of the samples at or below it)."""
    if not samples:
        raise ValueError('no samples')
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(samples: Sequence[float]) -> Tuple[float, float]:
    """The highest percentile of ``TAIL_LADDER`` that leaves at least ten
    samples above its nearest rank, and its value.  Raises when fewer than
    twenty samples exist, because then not even the median has ten beyond it."""
    n = len(samples)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= 10:
            return pct, percentile(samples, pct)
    raise ValueError(f'{n} samples: no percentile has ten samples beyond it')


def median(samples: Sequence[float]) -> float:
    return float(statistics.median(samples))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float('inf')
