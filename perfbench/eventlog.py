"""Fold an uncompressed Spark event log into per-job-group task totals.

Jobs carry their group in ``Properties['spark.jobGroup.id']`` (set with
``SparkContext.setJobGroup``; a streaming query sets its run id).  Every
stage is attributed to the group of the job that submitted it, and each
finished task's metrics are summed into that group.  Jobs without a group
fold into ``UNGROUPED``.
"""
from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, Iterator, List, Optional

UNGROUPED = '<none>'
ADDITIVE = ('tasks', 'run_s', 'cpu_s', 'gc_s', 'fetch_wait_s', 'shuffle_read_bytes',
            'shuffle_write_bytes', 'spill_bytes', 'input_bytes', 'input_records', 'output_bytes')


@dataclass
class GroupStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    task_s: List[float] = field(default_factory=list)

    @property
    def task_max_s(self) -> float:
        return max(self.task_s, default=0.0)

    @property
    def task_median_s(self) -> float:
        return float(statistics.median(self.task_s)) if self.task_s else 0.0

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (1.0 = perfectly even)."""
        med = self.task_median_s
        return self.task_max_s / med if med > 0 else 0.0

    def minus(self, base: 'GroupStats') -> Dict[str, float]:
        """Additive totals of ``self`` less ``base``: the work one layer adds
        on top of the prefix action ``base`` measured."""
        return {k: getattr(self, k) - getattr(base, k) for k in ADDITIVE}


def log_files(event_dir: str) -> List[str]:
    """Event-log files under ``event_dir``, sorted by path."""
    return sorted(
        os.path.join(root, name)
        for root, _, files in os.walk(event_dir)
        for name in files
        if not name.startswith('.') and not name.endswith('.crc')
    )


def events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(records: Iterable[dict], alias: Optional[Dict[str, str]] = None) -> Dict[str, GroupStats]:
    """Task totals per job group; ``alias`` renames groups (e.g. a
    streaming query's run id to its layer) before they are summed."""
    alias = alias or {}
    stage_group: Dict[int, str] = {}
    groups: Dict[str, GroupStats] = {}
    for e in records:
        kind = e.get('Event')
        if kind == 'SparkListenerJobStart':
            group = (e.get('Properties') or {}).get('spark.jobGroup.id') or UNGROUPED
            group = alias.get(group, group)
            for sid in e.get('Stage IDs', []):
                stage_group[sid] = group
        elif kind == 'SparkListenerTaskEnd':
            info = e.get('Task Info') or {}
            m = e.get('Task Metrics')
            if m is None or info.get('Failed') or info.get('Killed'):
                continue
            g = groups.setdefault(stage_group.get(e.get('Stage ID'), UNGROUPED), GroupStats())
            sr = m.get('Shuffle Read Metrics') or {}
            sw = m.get('Shuffle Write Metrics') or {}
            inp = m.get('Input Metrics') or {}
            out = m.get('Output Metrics') or {}
            g.tasks += 1
            g.run_s += m.get('Executor Run Time', 0) / 1e3
            g.cpu_s += m.get('Executor CPU Time', 0) / 1e9
            g.gc_s += m.get('JVM GC Time', 0) / 1e3
            g.fetch_wait_s += sr.get('Fetch Wait Time', 0) / 1e3
            g.shuffle_read_bytes += sr.get('Remote Bytes Read', 0) + sr.get('Local Bytes Read', 0)
            g.shuffle_write_bytes += sw.get('Shuffle Bytes Written', 0)
            g.spill_bytes += m.get('Disk Bytes Spilled', 0)
            g.input_bytes += inp.get('Bytes Read', 0)
            g.input_records += inp.get('Records Read', 0)
            g.output_bytes += out.get('Bytes Written', 0)
            g.task_s.append((info.get('Finish Time', 0) - info.get('Launch Time', 0)) / 1e3)
    return groups


def fold_dir(event_dir: str, alias: Optional[Dict[str, str]] = None) -> Dict[str, GroupStats]:
    return fold(events(log_files(event_dir)), alias)
