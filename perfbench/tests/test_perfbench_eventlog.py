"""The event-log parser against a small recorded log.

tests/data/eventlog_small.jsonl is a trimmed event log of a local[2]
application with three jobs: group "udf#0" (a pandas UDF feeding an
aggregate), group "shuffle#1" (a group-by count) and one job without a
group (a count).
"""

import os

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _groups():
    with open(DATA) as fh:
        return eventlog.parse(fh)


def test_groups_jobs_stages_tasks():
    g = _groups()
    assert set(g) == {"udf#0", "shuffle#1", eventlog.NO_GROUP}
    assert [(g[k].jobs, g[k].stages, g[k].tasks) for k in ("udf#0", "shuffle#1", "")] == [
        (1, 2, 3),
        (1, 2, 4),
        (1, 2, 3),
    ]
    assert all(s.failed_tasks == 0 for s in g.values())


def test_task_times_and_bytes():
    udf, shuf = _groups()["udf#0"], _groups()["shuffle#1"]
    assert (udf.run_ms, udf.gc_ms, udf.cpu_ns) == (5750, 141, 754107907)
    assert (shuf.run_ms, shuf.gc_ms) == (649, 18)
    assert (shuf.shuffle_write_bytes, shuf.shuffle_read_bytes) == (364, 364)
    assert udf.spill_bytes == 0 and udf.input_bytes == 0


def test_python_worker_counters_only_where_a_udf_ran():
    g = _groups()
    udf = g["udf#0"]
    assert (udf.py_bytes_sent, udf.py_bytes_returned, udf.py_worker_start_ms) == (8416, 8288, 2853)
    assert udf.py_bytes_sent > 8 * 1000  # 1000 longs went to the workers
    assert g["shuffle#1"].py_bytes_sent == 0 == g[""].py_bytes_sent


def test_job_spans_and_busy_union():
    assert _groups()["udf#0"].job_spans == [(1792206184713, 1792206188234)]
    assert eventlog.busy_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog.busy_ms([]) == 0


def test_parse_dir_reads_the_single_log(tmp_path):
    (tmp_path / "local-1").write_text(open(DATA).read())
    g = eventlog.parse_dir(str(tmp_path))
    assert g["udf#0"].tasks == 3 and g["shuffle#1"].shuffle_write_bytes == 364
