"""Table tests for the rebalance gate shared by ``sketch_agg`` and
``cms_topk``: plain facts in, a plan out, no Spark."""

import pytest

from gr_tdigest_spark.operators.agg import AggPlan, choose_agg_plan

MB = 1 << 20
# one small keyed scan partition on 4 slots, 256 MB rebalance threshold
BASE = dict(n_parts=1, est=4 * MB, slots=4, max_bytes=256 * MB,
            keyed=True, float_overlap=False, salted=False)


def _no_probe():
    raise AssertionError("the key-count probe ran outside its band")


@pytest.mark.parametrize("facts,kind,n_parts", [
    # 1. no rebalance: streaming or shuffled input, enough scan
    #    partitions, a salted plan, or the rebalance disabled
    (dict(n_parts=None), "coalesce", 8),
    (dict(n_parts=4), "coalesce", 8),
    (dict(salted=True), "coalesce", 8),
    (dict(max_bytes=0), "coalesce", 8),
    # 2. small keyed input: by-key single-phase, ~1 MB per task in [4, 8]
    (dict(), "by_key", 4),
    (dict(est=20 * MB), "by_key", 8),
    # 3. tiny keyless input keeps its serial task
    (dict(keyed=False), "coalesce", 8),
    # 4. small input otherwise: hash spread
    (dict(float_overlap=True), "spread", 4),
    (dict(keyed=False, est=100 * MB), "spread", 8),
    # 5. big or unestimable input in far too few partitions
    (dict(est=1 << 40), "spread", 8),
    (dict(est=None), "spread", 8),
    # 6. big input in a marginally coarse scan is left alone
    (dict(n_parts=2, est=1 << 40), "coalesce", 8),
])
def test_branches(facts, kind, n_parts):
    plan = choose_agg_plan(**{**BASE, **facts}, enough_keys=_no_probe)
    assert isinstance(plan, AggPlan)
    assert (plan.kind, plan.n_parts) == (kind, n_parts)


@pytest.mark.parametrize("enough,kind", [(True, "by_key"),
                                         (False, "spread")])
def test_mid_band_asks_key_count(enough, kind):
    """Above 24 MB a keyed input goes by key only with ≥ 2·slots keys."""
    calls = []

    def verdict():
        calls.append(1)
        return enough

    plan = choose_agg_plan(**{**BASE, "est": 100 * MB}, enough_keys=verdict)
    assert (plan.kind, plan.n_parts, len(calls)) == (kind, 8, 1)
