"""Rounds hit by CPU steal are made up by extra rounds, and the metrics use
the quietest ones."""

import run


def _measure(monkeypatch, steal_per_unit: list[float], n: int) -> run.Run:
    # Cumulative (steal, total) ticks after each unit of 100 ticks; the
    # reading after one unit is also the reading before the next.
    after = [(0, 0)]
    for s in steal_per_unit:
        after.append((after[-1][0] + round(s * 100), after[-1][1] + 100))
    calls = iter(x for i in range(len(steal_per_unit)) for x in (after[i], after[i + 1]))
    monkeypatch.setattr(run, "cpu_steal", lambda: next(calls))
    r = run.Run("dashboard", 1, 1, trace=False)

    def body(i: int) -> None:
        r.op_type[f"op-{i}"] = "q"
        r.latency[f"op-{i}"] = 1.0

    run.measure_units(r, n, body)
    return r


def test_quiet_units_need_no_extras(monkeypatch):
    r = _measure(monkeypatch, [0.0, 0.01, 0.0], n=3)
    assert len(r.units) == 3 and r.used == [0, 1, 2]
    assert r.used_ops() == ["op-0", "op-1", "op-2"]


def test_stolen_unit_is_made_up_and_dropped(monkeypatch):
    r = _measure(monkeypatch, [0.0, 0.30, 0.0, 0.01], n=3)
    assert len(r.units) == 4
    assert r.used == [0, 2, 3]
    assert r.used_ops() == ["op-0", "op-2", "op-3"]


def test_extras_are_capped_and_the_quietest_kept(monkeypatch):
    # n = 3 allows one extra unit; with two stolen units the quieter stays.
    r = _measure(monkeypatch, [0.20, 0.30, 0.0, 0.0], n=3)
    assert len(r.units) == 4
    assert r.used == [0, 2, 3]
