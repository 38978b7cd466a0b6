"""Input generation is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _bytes(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def _write(tmp_path, label, seed):
    tx, _ = gen.transcripts(seed, n_turns=20_000)
    docs, bench, _ = gen.corpus(seed, n_docs=2_000)
    paths = []
    for name, table in (("tx", tx), ("docs", docs), ("bench", bench)):
        p = str(tmp_path / f"{label}-{name}")
        gen.write_parquet(table, p, 4)
        paths.append(p)
    return [_bytes(p) for p in paths]


def test_same_seed_same_bytes(tmp_path):
    assert _write(tmp_path, "a", 7) == _write(tmp_path, "b", 7)


def test_other_seed_other_data(tmp_path):
    a, b = _write(tmp_path, "a", 7), _write(tmp_path, "b", 8)
    for x, y in zip(a, b):
        assert x != y


def test_truth_matches_table():
    tx, truth = gen.transcripts(3, n_turns=20_000)
    assert tx.num_rows == truth.n_rows == 20_000
    assert truth.conv.max() + 1 == truth.conv_names.size
    docs, _, ct = gen.corpus(3, n_docs=2_000)
    assert docs.num_rows == ct.ids.size
    assert ct.lines_kept + ct.lines_removed == 3 * ct.ids.size
    assert 0 < ct.survivors.size < ct.ids.size
    assert ct.overlap_hits and min(ct.overlap_hits.values()) > 0
