"""A run ends: failed operations are counted, and the deadline is not one."""

from types import SimpleNamespace

import pytest

import compare
import run


def bare_ctx():
    return run.Ctx(SimpleNamespace(seed=1, seconds=6), None, None, None,
                   {"nominal_pass_s": 2.0}, "")


def test_repeat_runs_count_operations_even_if_every_one_raises():
    ctx = bare_ctx()
    calls = []

    def boom(i):
        calls.append(i)
        raise RuntimeError("broken pass")

    assert ctx.repeat("timed pass", boom, 3) == []
    assert calls == [0, 1, 2]
    assert (ctx.attempted, ctx.failed) == (3, 3)


def test_deadline_ends_the_run_instead_of_counting_as_a_failure():
    ctx = bare_ctx()

    def late(i):
        raise run.Deadline("run exceeded")

    with pytest.raises(run.Deadline):
        ctx.repeat("timed pass", late, 3)
    assert ctx.attempted == 0


def test_timed_ops_follow_seconds_not_program_speed():
    assert bare_ctx().timed_ops() == 3
    ctx = bare_ctx()
    ctx.seconds = 20
    assert ctx.timed_ops() == 10


def test_compare_reads_seed_ranges_and_quartile_spread():
    assert compare.seeds("101-103,7") == [101, 102, 103, 7]
    assert compare.spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)
