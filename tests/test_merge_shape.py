"""Accuracy by merge shape: the same values built directly, merged as
a balanced tree of 16 parts, folded left-deep over those parts (the
shape of a multi-flush partition's blob fold and of a stream's
state), and appended one value at a time (256 one-value
digests after a build of the rest).

Each shape's worst max rank error over five Cauchy inputs is held to
the figure it had when this test was written, so a kernel change that
loses accuracy on any shape fails here; one that gains should lower
the bound. The ratio of each shape to the direct build is reported
(``pytest -s`` prints it, and it is a recorded test property).
"""

import numpy as np
import pytest

from gr_tdigest_spark.operators.agg import TDigestSpec
from gr_tdigest_spark.operators.companions import KLLSpec

_GRID = np.linspace(0.0, 1.0, 201)
_N, _PARTS, _APPENDS, _SEEDS = 16 * 1024, 16, 256, range(5)

_SPECS = {"tdigest": TDigestSpec(max_size=100), "kll": KLLSpec(k=64)}

# worst max rank error per shape over _SEEDS
_BOUND = {
    "tdigest": {"direct": 0.00284, "balanced": 0.00408,
                "left_deep": 0.01989, "appends": 0.02364},
    "kll": {"direct": 0.00492, "balanced": 0.01101,
            "left_deep": 0.01548, "appends": 0.00538},
}


def _rank_error(state, data: np.ndarray) -> float:
    """Max over the grid of |midrank(quantile(q)) / n − q|."""
    s = np.sort(data)
    x = state.quantile(_GRID)
    rank = (np.searchsorted(s, x, "left") + np.searchsorted(s, x, "right"))
    return float(np.max(np.abs(rank / (2.0 * s.size) - _GRID)))


def _shapes(spec, data: np.ndarray) -> dict:
    def build(v):
        return spec.build_state(v, None)

    merge = spec.merge_states
    parts = [build(c) for c in np.array_split(data, _PARTS)]
    left = parts[0]
    for p in parts[1:]:
        left = merge(left, p)
    level = parts
    while len(level) > 1:
        level = [merge(*level[i:i + 2]) if i + 1 < len(level) else level[i]
                 for i in range(0, len(level), 2)]
    appended = build(data[:-_APPENDS])
    for v in data[-_APPENDS:]:
        appended = merge(appended, build(np.array([v])))
    return {"direct": build(data), "balanced": level[0],
            "left_deep": left, "appends": appended}


@pytest.mark.parametrize("kind", sorted(_SPECS))
def test_merge_shape_rank_error(kind, record_property):
    spec = _SPECS[kind]
    worst: dict = {}
    for seed in _SEEDS:
        data = np.random.default_rng(seed).standard_cauchy(_N)
        for shape, state in _shapes(spec, data).items():
            assert (state.n if kind == "kll" else state.count) == _N
            err = _rank_error(state, data)
            worst[shape] = max(worst.get(shape, 0.0), err)
    ratios = {s: round(e / worst["direct"], 2) for s, e in worst.items()}
    record_property("rank_error", worst)
    record_property("ratio_to_direct", ratios)
    print(f"\n{kind}: " + ", ".join(
        f"{s} {worst[s]:.5f} ({ratios[s]}x)" for s in worst))
    for shape, err in worst.items():
        assert err <= _BOUND[kind][shape], (shape, err, ratios[shape])
