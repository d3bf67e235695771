"""The seeded-truth check: it passes on the engine's real outputs and fails
as soon as one expectation is perturbed."""

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import start_session, stop_session  # noqa: E402
from perfbench.workloads import EFFECTS, TINY, WORKLOADS, pick_defects  # noqa: E402


def test_defect_map_is_seeded_spaced_and_uses_allowed_variants():
    wanted = [("uniq", 5, None), ("1-3", 3, (1, 3)), ("1-1", 4, None)]
    a = pick_defects(np.random.default_rng(7), 500, wanted)
    assert a == pick_defects(np.random.default_rng(7), 500, wanted)
    assert a != pick_defects(np.random.default_rng(8), 500, wanted)
    idx = sorted(a)
    assert idx[0] >= 1 and all(j - i >= 2 for i, j in zip(idx, idx[1:]))
    assert all(i % 4 in EFFECTS[t] for i, t in a.items())
    assert all(i % 2 == 1 for i, t in a.items() if t == "1-3")


def test_defect_map_too_large_for_the_table_is_refused():
    with pytest.raises(ValueError):
        pick_defects(np.random.default_rng(0), 10, [("1-7", 10, None)])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.host import nproc

    s = start_session(str(tmp_path_factory.mktemp("work")), nproc(), trace=False)
    yield s
    stop_session(s)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_perturbed_expectation_is_caught(spark, workload, tmp_path):
    wl = WORKLOADS[workload](spark, 3, str(tmp_path), TINY[workload])
    wl.build()
    assert wl.run_once().mismatches == []

    failing = next(r for r, ok in wl.truth.verdicts.items() if ok is False)
    wl.truth.counts[failing] += 1
    bad = wl.run_once().mismatches
    assert len(bad) == 1 and bad[0].startswith(f"{failing} count")
    wl.truth.counts[failing] -= 1

    wl.truth.verdicts["1-6-schema"] = False
    bad = wl.run_once().mismatches
    assert len(bad) == 1 and "1-6-schema" in bad[0]
    wl.truth.verdicts["1-6-schema"] = True

    for key in wl.truth.extra:
        wl.truth.extra[key] += 1
        bad = wl.run_once().mismatches
        assert len(bad) == 1 and bad[0].startswith(key)
        wl.truth.extra[key] -= 1
