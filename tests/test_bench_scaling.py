"""``scripts/bench_scaling.py`` level statistics, without Spark."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "bench_scaling.py")


def _bench_scaling():
    spec = importlib.util.spec_from_file_location("bench_scaling", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_level_stats_take_the_true_median():
    """An even rep count takes the mean of the middle two reps, not the
    faster one; an odd count takes the middle rep."""
    stats = _bench_scaling().level_stats
    reps = lambda *eps: [{"events_per_sec": e} for e in eps]  # noqa: E731

    two = stats(reps(100.0, 300.0), [])
    assert two["median_accepted"] == two["median_all"] == 200.0
    assert (two["n_accepted"], two["n_rejected"]) == (2, 0)

    three = stats(reps(500.0, 100.0), reps(300.0))
    assert three["median_accepted"] == 300.0
    assert three["median_all"] == 300.0
    assert (three["n_accepted"], three["n_rejected"]) == (2, 1)

    four = stats(reps(400.0), reps(100.0, 300.0, 200.0))
    assert four["median_accepted"] == 400.0
    assert four["median_all"] == 250.0

    none = stats([], reps(7.0))
    assert none["median_accepted"] is None and none["median_all"] == 7.0
