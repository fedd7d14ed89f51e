import pytest

from spans import GROUP_PREFIX, Span, Tracer, self_time, stage_counts


def _span(i, name, parent, start, end, op=0):
    return Span(i, name, parent, start, end, op=op)


def test_self_time_subtracts_covered_child_intervals():
    root = _span(0, "op", None, 0.0, 10.0)
    kids = [
        _span(1, "a", 0, 1.0, 3.0),
        _span(2, "b", 0, 2.0, 4.0),  # overlaps a: union is [1, 4]
        _span(3, "c", 0, 6.0, 12.0),  # clipped to the parent: [6, 10]
        _span(4, "d", 3, 7.0, 8.0),  # grandchild: not subtracted from root
    ]
    spans = [root, *kids]
    assert self_time(root, spans) == pytest.approx(10.0 - 3.0 - 4.0)
    assert self_time(kids[2], spans) == pytest.approx(6.0 - 1.0)
    assert self_time(kids[0], spans) == pytest.approx(2.0)


def test_self_time_of_open_span_is_zero():
    assert self_time(_span(0, "op", None, 1.0, None), []) == 0.0


def _job(job_id, group=None, t=None, stages=()):
    job = {"jobId": job_id, "jobGroup": group, "stageIds": list(stages)}
    if t is not None:
        job["submissionTime"] = int(t * 1000)
    return job


class _Recorder:
    def __init__(self):
        self.groups = []

    def setLocalProperty(self, key, value):
        self.groups.append(value)


def test_spans_own_the_job_group_and_restore_the_parent():
    sc = _Recorder()
    t = Tracer(sc, enabled=True)
    with t.span("op") as root:
        with t.span("exec") as child:
            pass
    assert sc.groups == [f"{GROUP_PREFIX}{root.id}", f"{GROUP_PREFIX}{child.id}",
                         f"{GROUP_PREFIX}{root.id}", None]
    assert child.parent == root.id and root.end >= child.end


def test_disabled_tracer_records_nothing_and_never_calls_spark():
    sc = _Recorder()
    t = Tracer(sc, enabled=False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == [] and sc.groups == []


def test_every_job_belongs_to_exactly_one_span():
    t = Tracer(None, enabled=True)
    t.spans = [
        _span(0, "op", None, 100.0, 110.0),
        _span(1, "plans.build", 0, 100.5, 104.0),
        _span(2, "exec", 0, 104.5, 109.0),
    ]
    jobs = [
        _job(0, t=50.0),  # before the measured window: ignored
        _job(5, f"{GROUP_PREFIX}1", 101.0, [1]),
        _job(6, f"{GROUP_PREFIX}2", 105.0, [2, 3]),
        _job(7, "stream-run-id", 102.0, [4]),  # another thread: by time -> build
        _job(8, None, 104.2, [5]),  # between children: the op itself
        _job(9, None, 120.0, [6]),  # inside an untraced operation
        _job(10, None, 130.0, [7]),  # covered by nothing
    ]
    stages = {
        1: {"status": "COMPLETE", "numTasks": 4, "shuffleWriteBytes": 10},
        2: {"status": "SKIPPED", "numTasks": 4},
        3: {"status": "COMPLETE", "numTasks": 2, "shuffleReadBytes": 10, "executorRunTime": 30},
        4: {"status": "COMPLETE", "numTasks": 1},
        5: {"status": "COMPLETE", "numTasks": 1},
    }
    orphans = t.attribute(jobs, stages, first_job=5, skip=[(119.0, 121.0)])
    assert orphans == [10]
    owners = {j: s.name for s in t.spans for j in s.jobs}
    assert owners == {5: "plans.build", 6: "exec", 7: "plans.build", 8: "op"}
    assert sum(len(s.jobs) for s in t.spans) == len(owners)  # no job counted twice
    ex = t.spans[2].counts
    assert (ex["jobs"], ex["stages"], ex["skipped_stages"], ex["tasks"]) == (1, 1, 1, 2)
    assert ex["shuffle_read_bytes"] == 10 and ex["run_ms"] == 30


def test_stage_counts_sums_spill_from_memory_and_disk():
    jobs = [_job(1, stages=[1])]
    stages = {1: {"status": "COMPLETE", "memoryBytesSpilled": 3, "diskBytesSpilled": 4}}
    assert stage_counts([1], jobs, stages)["spill_bytes"] == 7
