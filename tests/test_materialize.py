"""materialize.fixpoint: the shared round cap and loud non-convergence."""

from __future__ import annotations

import pytest

from nosql_triple_store_spark.materialize import fixpoint


def _counting_step(done_at: int):
    calls = []

    def step(state: int) -> tuple[int, bool]:
        calls.append(state)
        return state + 1, state + 1 == done_at

    return step, calls


def test_fixpoint_returns_on_first_done_round():
    step, calls = _counting_step(done_at=3)
    assert fixpoint(0, step, 10, "counter") == 3
    assert calls == [0, 1, 2]


def test_fixpoint_may_converge_on_the_last_allowed_round():
    step, calls = _counting_step(done_at=4)
    assert fixpoint(0, step, 4, "counter") == 4
    assert len(calls) == 4


def test_fixpoint_raises_at_cap_naming_the_loop():
    step, calls = _counting_step(done_at=100)
    with pytest.raises(RuntimeError, match="widget loop did not converge in 5 rounds"):
        fixpoint(0, step, 5, "widget loop")
    assert len(calls) == 5
