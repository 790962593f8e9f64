import glob
import os

import eventlog
import layerdiff

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _log_dir() -> str:
    return eventlog.find_log_dir(DATA)


def test_rolling_log_is_read_across_files():
    assert len(glob.glob(os.path.join(_log_dir(), "events_*"))) == 2


def test_counts_per_job_group():
    # Recorded with local[2]: op-00000 is a two-stage aggregation over two
    # partitions (2 + 2 tasks), op-00001 a mapInPandas over two partitions,
    # op-00002 a count (2 scan tasks + 1 final task).
    groups = eventlog.read_event_log(_log_dir())
    assert sorted(groups) == ["op-00000", "op-00001", "op-00002"]
    got = {k: (len(g.jobs), g.stages, g.tasks) for k, g in groups.items()}
    assert got == {"op-00000": (1, 2, 4), "op-00001": (1, 1, 2), "op-00002": (1, 2, 3)}


def test_python_boundary_bytes():
    groups = eventlog.read_event_log(_log_dir())
    py = groups["op-00001"].python
    assert py["bytes_to_worker"] == 2 * 2240
    assert py["bytes_from_worker"] == 2 * 2176
    assert py["worker_run_ms"] == 2094 + 2443
    assert py["worker_boot_ms"] == 1536 + 317 + 1548 + 456
    assert groups["op-00000"].python == {}


def test_jobs_carry_their_run_interval():
    for g in eventlog.read_event_log(_log_dir()).values():
        for job in g.jobs:
            assert 0 < job.start_ms <= job.end_ms


def _trace(jobs=2, wall=1.0, shuffle=1000.0):
    row = {"ops": 5, "wall_s": wall, "jobs": jobs, "stages": jobs, "tasks": 4,
           "shuffle_bytes": shuffle}
    return {"types": {"q": row}, "layers": {}}


def test_layerdiff_labels():
    base = _trace()
    assert layerdiff.diff(base, _trace(jobs=3))[0]["label"] == "plan"
    assert layerdiff.diff(base, _trace(shuffle=2000.0))[0]["label"] == "plan"
    assert layerdiff.diff(base, _trace(wall=1.5))[0]["label"] == "load"
    assert layerdiff.diff(base, _trace(wall=1.01))[0]["label"] == "same"
