"""bench.py's median reruns and its regression gate."""

from __future__ import annotations

import bench


def _gate(prior: dict[str, float]):
    def flagged(n, t_now):
        t_old = prior.get(n)
        if t_old and t_now > 1.5 * t_old and t_now - t_old > 0.3:
            return {"prior": t_old, "now": t_now}
        return None

    return flagged


def test_median_rerun_rechecks_the_gate():
    """A fast single shot whose rerun median is slow is a regression: the
    gate is checked on the median, not only on the first shot."""
    timings = {"q": 1.0}
    reruns: dict = {}
    regressions: dict = {}
    later = iter([3.0, 3.2])
    bench.rerun_median("q", timings, reruns, lambda n: next(later), _gate({"q": 1.0}), regressions)
    assert reruns["q"] == [1.0, 3.0, 3.2]
    assert timings["q"] == 3.0
    assert regressions["q"]["runs"] == [1.0, 3.0, 3.2]


def test_median_rerun_clears_a_noisy_flag():
    timings = {"q": 3.0}
    reruns: dict = {}
    regressions: dict = {}
    later = iter([1.0, 1.1])
    bench.rerun_median("q", timings, reruns, lambda n: next(later), _gate({"q": 1.0}), regressions)
    assert timings["q"] == 1.1 and not regressions
