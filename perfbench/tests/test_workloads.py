import time

from perfbench.workloads import _repeat


def _unit(wall):
    def unit():
        time.sleep(wall)
        return wall

    return unit


def test_repeat_runs_once_when_untimed():
    assert _repeat(_unit(0.0), 0.0) == [0.0]


def test_repeat_fills_the_measuring_time():
    assert len(_repeat(_unit(0.0), 0.02)) > 2


def test_repeat_runs_three_times_when_one_unit_outlasts_the_time():
    assert _repeat(_unit(0.02), 0.01) == [0.02, 0.02, 0.02]
