import os

from perfbench.eventlog import UNGROUPED, fold, fold_dir, events

LOG = os.path.join(os.path.dirname(__file__), 'data', 'eventlog_small.jsonl')

# The recorded log: local[4], job group 'grp.a' ran a 200k-row grouped
# count (4 map tasks + 1 reduce task), 'grp.b' a 100k-row sum, and one
# 10-row count ran with no group.


def test_fold_attributes_tasks_to_job_groups():
    groups = fold(events([LOG]))
    assert set(groups) == {'grp.a', 'grp.b', UNGROUPED}
    a, b = groups['grp.a'], groups['grp.b']
    assert (a.tasks, b.tasks, groups[UNGROUPED].tasks) == (5, 5, 5)
    assert a.input_records == 200_000 and b.input_records == 100_000
    assert a.shuffle_write_bytes == 1141 and a.shuffle_read_bytes == 1141
    assert a.cpu_s > 0 and a.run_s >= a.gc_s
    assert a.task_max_s >= a.task_median_s > 0
    assert a.task_skew == a.task_max_s / a.task_median_s


def test_fold_alias_and_differences():
    groups = fold(events([LOG]), alias={'grp.b': 'grp.a'})
    assert set(groups) == {'grp.a', UNGROUPED}
    merged = groups['grp.a']
    assert merged.tasks == 10 and merged.input_records == 300_000
    only_b = merged.minus(fold(events([LOG]))['grp.a'])
    assert only_b['tasks'] == 5 and only_b['input_records'] == 100_000


def test_fold_dir_reads_every_log_file(tmp_path):
    for name in ('app-1', 'app-2'):
        (tmp_path / name).write_text(open(LOG).read())
    groups = fold_dir(str(tmp_path))
    assert groups['grp.a'].tasks == 10
