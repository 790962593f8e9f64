import inputs
from stock_data_pipeline_spark.sources import seed


def _ops(seed_value: int, rounds: int) -> list[str]:
    order = inputs.RoundOrder(inputs.DASHBOARD_PANELS, seed_value)
    return [name for _ in range(rounds) for name in order.next_round()]


def test_same_seed_same_op_sequence():
    assert _ops(7, 5) == _ops(7, 5)


def test_other_seed_other_order():
    assert _ops(7, 5) != _ops(8, 5)


def test_every_round_runs_each_type_once():
    order = inputs.RoundOrder(inputs.DASHBOARD_PANELS, 3)
    for _ in range(4):
        assert sorted(order.next_round()) == sorted(inputs.DASHBOARD_PANELS)


def test_mix_is_odd_and_equal_weight():
    assert len(inputs.DASHBOARD_PANELS) % 2 == 1
    assert len(set(inputs.DASHBOARD_PANELS)) == len(inputs.DASHBOARD_PANELS)


def _universe() -> list[str]:
    return [s for s in seed.synthetic_universe(inputs.INGEST_UNIVERSE)
            if s not in seed.BAD_TICKERS]


def test_same_seed_same_ingest_inputs():
    assert inputs.ingest_inputs(11, _universe()) == inputs.ingest_inputs(11, _universe())


def test_other_seed_other_ingest_inputs():
    a, b = inputs.ingest_inputs(11, _universe()), inputs.ingest_inputs(12, _universe())
    assert a.symbols != b.symbols and a.failing != b.failing and a.start != b.start


def test_ingest_inputs_shape():
    given = inputs.ingest_inputs(5, _universe())
    assert len(set(given.symbols)) == inputs.INGEST_SAMPLE
    assert given.failing <= set(given.symbols)
    assert len(given.failing) == inputs.INGEST_SAMPLE // 100
    # a run never crosses midnight: the start leaves four hours of cycles
    assert given.start.hour < 20
