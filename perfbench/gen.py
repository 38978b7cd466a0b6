"""Seeded benchmark inputs and their exact answers.

Two input families, both pure functions of the seed:

- ``transcripts(seed)``: chat turns over Zipf-sized conversations with
  columns ``conv_id, role, tool, ts, text_len, latency_ms``. Text bodies
  are left out; the jobs only read their length.
- ``corpus(seed)``: three-line documents with planted exact duplicates,
  repeated boilerplate lines and lines copied from a separate benchmark
  set, plus that benchmark set.

``write_parquet`` writes a table as a directory of parquet files, and
the ``*Truth`` classes hold the exact answers every job output is
checked against. Nothing here imports Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_TURNS = 160_000
ROLES = np.array(["user", "assistant", "tool", "system"])
ROLE_P = [0.36, 0.36, 0.24, 0.04]
N_TOOLS = 24
TOOLS = np.array([f"tool_{i:02d}" for i in range(N_TOOLS)])
N_DAYS = 14
_DAY_US = 86_400_000_000
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

N_DOCS = 12_000
N_BENCH_DOCS = 300
SOURCES = np.array([f"src_{i}" for i in range(8)])
# the last sources are smaller than the sample size, so a stratified
# sample must return the whole stratum there
SOURCE_P = [0.30, 0.22, 0.16, 0.12, 0.10, 0.094, 0.004, 0.002]
DUP_FRAC = 0.05
OVERLAP_FRAC = 0.02
BOILER_FRAC = 0.3
TOKENS_PER_WORD = 3
_N_WORDS = 4000


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of consecutive rows
    under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# --------------------------------------------------------------------- #
# transcripts
# --------------------------------------------------------------------- #

def _conv_sizes(rng: np.random.Generator, n_turns: int) -> np.ndarray:
    """Zipf turns per conversation (mean about 8), cut so they sum to
    exactly ``n_turns``."""
    sizes = np.minimum(rng.zipf(1.9, size=n_turns // 2) + 1, 2000)
    cum = np.cumsum(sizes)
    n = int(np.searchsorted(cum, n_turns)) + 1
    sizes = sizes[:n].copy()
    sizes[-1] -= int(cum[n - 1]) - n_turns
    return sizes[sizes > 0]


def _text_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Clumped, uniform and heavy-tailed lengths on [1, 20000]."""
    u = rng.uniform(size=n)
    kind = rng.uniform(size=n)
    out = u.copy()
    clump = kind < 0.3
    out[clump] = np.array([0.1, 0.5, 0.9])[rng.integers(0, 3, clump.sum())]
    heavy = kind >= 0.7
    e = rng.uniform(3, 9, heavy.sum())
    flip = rng.uniform(size=heavy.sum()) < 0.5
    out[heavy] = np.where(flip, u[heavy] ** e, 1.0 - u[heavy] ** e)
    return (np.round(out * 19999) + 1).astype(np.int32)


@dataclass
class TranscriptTruth:
    """Exact answers over one transcripts table. Codes index ``ROLES``,
    ``TOOLS`` (-1 for no tool), conversations and days."""

    n_rows: int
    conv_names: np.ndarray
    conv: np.ndarray
    role: np.ndarray
    tool: np.ndarray
    day: np.ndarray
    text_len: np.ndarray
    latency_us: np.ndarray

    @property
    def latency_ms(self) -> np.ndarray:
        return self.latency_us / 1000.0

    def sorted_by(self, codes: np.ndarray, values: np.ndarray):
        """Values sorted within groups: ``(sorted values, bounds)`` with
        group g at ``sorted[bounds[g]:bounds[g + 1]]``."""
        n_groups = int(codes.max()) + 1
        order = np.lexsort((values, codes))
        bounds = np.searchsorted(codes[order], np.arange(n_groups + 1))
        return values[order], bounds

    def distinct_per(self, codes: np.ndarray, values: np.ndarray,
                     n_groups: int) -> np.ndarray:
        """Exact count of distinct non-negative ``values`` per group."""
        keep = values >= 0
        pairs = np.unique(codes[keep].astype(np.int64) * (1 << 32)
                          + values[keep])
        return np.bincount(pairs >> 32, minlength=n_groups)

    def tool_counts(self, codes=None, n_groups: int = 1) -> np.ndarray:
        """Exact turn count per (group, tool) as an array [group, tool]."""
        keep = self.tool >= 0
        g = np.zeros(self.n_rows, np.int64) if codes is None else codes
        flat = g[keep] * N_TOOLS + self.tool[keep]
        return np.bincount(flat, minlength=n_groups * N_TOOLS).reshape(
            n_groups, N_TOOLS)


def transcripts(seed: int, n_turns: int = N_TURNS):
    """``(arrow table, TranscriptTruth)`` for one seed."""
    rng = np.random.default_rng([seed, 1])
    sizes = _conv_sizes(rng, n_turns)
    n_convs = sizes.size
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), sizes)
    role = rng.choice(4, size=n_turns, p=ROLE_P).astype(np.int64)
    tool_pick = np.minimum(rng.zipf(1.5, size=n_turns) - 1, N_TOOLS - 1)
    uses_tool = (role == 2) | ((role == 1) & (rng.uniform(size=n_turns) < 0.5))
    tool = np.where(uses_tool, tool_pick, -1).astype(np.int64)
    start = _EPOCH_US + rng.integers(0, N_DAYS * _DAY_US - 6 * 3600 * 10**6,
                                     n_convs)
    gaps = np.clip(np.exp(rng.normal(2.5, 1.0, n_turns)) * 1e6, 1e5, 6e8)
    first = np.r_[0, np.cumsum(sizes)[:-1]]
    csum = np.cumsum(gaps.astype(np.int64))
    ts = start[conv] + csum - csum[first][conv]
    day = (ts - _EPOCH_US) // _DAY_US
    text_len = _text_lengths(rng, n_turns)
    latency_us = np.round(
        np.exp(rng.normal(np.log(800.0), 1.0, n_turns)) * 1000.0
    ).astype(np.int64) + 1

    conv_names = np.array([f"c{i:07d}" for i in range(n_convs)], dtype=object)
    tool_arr = pa.DictionaryArray.from_arrays(
        pa.array(np.where(tool >= 0, tool, 0), pa.int32()),
        pa.array(TOOLS.tolist()),
    ).cast(pa.string())
    tool_arr = pc.if_else(pa.array(tool >= 0), tool_arr,
                                  pa.scalar(None, pa.string()))
    table = pa.table({
        "conv_id": pa.DictionaryArray.from_arrays(
            pa.array(conv, pa.int32()), pa.array(conv_names.tolist())
        ).cast(pa.string()),
        "role": pa.DictionaryArray.from_arrays(
            pa.array(role, pa.int32()), pa.array(ROLES.tolist())
        ).cast(pa.string()),
        "tool": tool_arr,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "text_len": pa.array(text_len, pa.int32()),
        "latency_ms": pa.array(latency_us / 1000.0, pa.float64()),
    })
    truth = TranscriptTruth(
        n_rows=n_turns, conv_names=conv_names, conv=conv, role=role,
        tool=tool, day=day, text_len=text_len.astype(np.int64),
        latency_us=latency_us,
    )
    return table, truth


# --------------------------------------------------------------------- #
# corpus
# --------------------------------------------------------------------- #

@dataclass
class CorpusTruth:
    """Exact answers over one corpus table."""

    ids: np.ndarray
    source: np.ndarray
    n_tokens: np.ndarray
    score: np.ndarray
    texts: list
    survivors: np.ndarray          # ids dedup_exact must keep
    lines_kept: int                # dedup_lines keep_first totals
    lines_removed: int
    overlap_hits: dict             # id -> exact benchmark 8-gram hits
    distinct_texts: np.ndarray     # per source


def _words(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, _N_WORDS)
    raw = ["".join(rng.choice(letters, n)) for n in lens]
    return np.array(sorted(set(raw)), dtype=object)


def _line(rng, words, n_min=8, n_max=16) -> str:
    return " ".join(rng.choice(words, int(rng.integers(n_min, n_max))))


def _grams(text: str, n: int = 8) -> set:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def corpus(seed: int, n_docs: int = N_DOCS):
    """``(corpus table, benchmark table, CorpusTruth)`` for one seed.

    Documents are three lines. The first line carries a document tag, so
    distinct base documents never collide; planted duplicates copy an
    earlier document's text exactly, boilerplate documents end with one
    of a few shared lines, and overlapping documents take their middle
    line from a benchmark document."""
    rng = np.random.default_rng([seed, 2])
    words = _words(rng)
    boiler = [_line(rng, words) for _ in range(40)]
    bench = [
        "\n".join(_line(rng, words, 10, 16) for _ in range(3))
        for _ in range(N_BENCH_DOCS)
    ]
    bench_grams = set().union(*(_grams(b) for b in bench))

    ids = np.arange(1, n_docs + 1, dtype=np.int64) * 7 + 1000
    source = rng.choice(len(SOURCES), size=n_docs, p=SOURCE_P)
    is_dup = rng.uniform(size=n_docs) < DUP_FRAC
    is_dup[0] = False
    overlap = (rng.uniform(size=n_docs) < OVERLAP_FRAC) & ~is_dup
    texts: list = []
    overlap_hits = {}
    for i in range(n_docs):
        if is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        first = f"doc{i} " + _line(rng, words)
        if overlap[i]:
            mid = bench[int(rng.integers(0, N_BENCH_DOCS))].split("\n")[
                int(rng.integers(0, 3))]
        else:
            mid = _line(rng, words)
        last = (boiler[int(rng.integers(0, len(boiler)))]
                if rng.uniform() < BOILER_FRAC else _line(rng, words))
        text = "\n".join((first, mid, last))
        texts.append(text)
        if overlap[i]:
            overlap_hits[int(ids[i])] = len(_grams(text) & bench_grams)

    n_tokens = np.array(
        [len(t.split()) * TOKENS_PER_WORD for t in texts], dtype=np.int64)
    score = np.round(rng.lognormal(0.0, 0.75, n_docs), 6)
    first_of = {}
    for i, t in enumerate(texts):
        first_of.setdefault(t, ids[i])
    survivors = np.array(sorted(first_of.values()), dtype=np.int64)
    n_lines = 3 * n_docs
    seen = set()
    for t in texts:
        seen.update(t.split("\n"))
    distinct_texts = np.zeros(len(SOURCES), np.int64)
    for s in range(len(SOURCES)):
        distinct_texts[s] = len({texts[i] for i in np.flatnonzero(source == s)})

    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "source": pa.array(SOURCES[source].tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
        "n_tokens": pa.array(n_tokens, pa.int64()),
        "score": pa.array(score, pa.float64()),
    })
    bench_table = pa.table({
        "bid": pa.array(np.arange(N_BENCH_DOCS, dtype=np.int64)),
        "text": pa.array(bench, pa.string()),
    })
    truth = CorpusTruth(
        ids=ids, source=source, n_tokens=n_tokens, score=score, texts=texts,
        survivors=survivors, lines_kept=len(seen),
        lines_removed=n_lines - len(seen), overlap_hits=overlap_hits,
        distinct_texts=distinct_texts,
    )
    return table, bench_table, truth
