"""tools/ab.py's report: paired wins follow each metric's direction,
equal values are ties, and the base IQR comes from the base runs."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ab import parse_seeds, report  # noqa: E402


def _run(p50, rows, failed=0):
    return {"attempted": 10, "failed": failed, "metrics": {
        "job_s_p50": {"value": p50, "unit": "s"},
        "rows_per_s": {"value": rows, "unit": "1/s"}}}


def test_parse_seeds():
    assert parse_seeds("3") == [3]
    assert parse_seeds("301-303,310") == [301, 302, 303, 310]


def test_report_wins_ties_and_iqr():
    pairs = [(_run(1.0, 100), _run(0.5, 100)),
             (_run(2.0, 100), _run(0.6, 150)),
             (_run(3.0, 200), _run(3.5, 100, failed=1))]
    lines = report("w", pairs, {"job_s_p50": "lower",
                                "rows_per_s": "higher"})
    assert lines[0] == "w: 3 pairs; failed jobs base 0/30, change 1/30"
    p50 = lines[2].split()
    # medians 2.0 -> 0.6; base quartiles 1.5 and 2.5, so the IQR is 1
    assert p50[0] == "job_s_p50" and p50[-4:] == ["1", "2", "0", "yes"]
    rows = lines[3].split()
    assert rows[0] == "rows_per_s" and rows[-4:] == ["50", "1", "1", "no"]
