"""Seeded workload inputs and the expectations derived from them.

Everything here is a pure function of the seed: the engine only ever
sees the files these functions write. Nothing in this module imports
pyspark at import time, so the unit tests run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import asdict, dataclass

#: The NMEA fixture's hard-coded turn length and the CLI's session gap.
TURN_SECONDS = 15
SESSION_GAP_S = 300

#: nmea_etl size: DAYS day logs, each with ACTIVE_S logged seconds at
#: four sentences per second. Every seed logs the same number of
#: seconds, so run-to-run work differs only in shape, not in amount.
DAYS = 2
ACTIVE_S = 2400

#: Corpus size for retrieval_stored and llm_pipeline.
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


@dataclass(frozen=True)
class DayParams:
    """Arguments of ``sources.nmea_fixture.sail_log`` for one day, plus
    the day's date (the fixture's ``START_TS`` date)."""

    date: str
    n_seconds: int
    gap_start: int
    gap_len: int
    tack_period: int
    corrupt_every: int

    def fixture_kwargs(self) -> dict:
        kw = asdict(self)
        del kw["date"]
        return kw


#: The fixture's defaults: the golden day of tests/test_nmea.py.
GOLDEN_DAY = DayParams(
    date="2024-06-01", n_seconds=7200, gap_start=3600, gap_len=900,
    tack_period=600, corrupt_every=97,
)


def _clear_of_tacks(t: int, period: int) -> bool:
    """True when second ``t`` is at least a quarter period away from
    every tack start, so no turn straddles a session edge there."""
    off = t % period
    return period // 4 <= off <= period - period // 4


def day_params(seed: int, days: int = DAYS, active_s: int = ACTIVE_S) -> list[DayParams]:
    """One DayParams per day. The seed picks each day's date, length,
    gap, tack period and corruption rate; every day logs exactly
    ``active_s`` seconds, and every session edge lies clear of the
    tack starts, so the expected counts below are unambiguous."""
    rng = random.Random(seed)
    first = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(0, 300))
    dates = sorted(rng.sample(range(0, 60), days))
    out = []
    for i in range(days):
        while True:
            period = rng.choice((480, 540, 600))
            gap_start = rng.randrange(active_s // 4, 3 * active_s // 4)
            gap_len = rng.randrange(600, 1500)
            n_seconds = active_s + gap_len
            if all(
                _clear_of_tacks(t, period)
                for t in (gap_start, gap_start + gap_len, n_seconds)
            ):
                break
        out.append(
            DayParams(
                date=(first + dt.timedelta(days=dates[i])).isoformat(),
                n_seconds=n_seconds,
                gap_start=gap_start,
                gap_len=gap_len,
                tack_period=period,
                corrupt_every=rng.randrange(80, 120),
            )
        )
    return out


def expected_day(p: DayParams) -> dict:
    """Races, points and tacks the pipeline must find in one day log,
    derived from the generator's parameters alone.

    The log covers seconds [0, n_seconds) minus the gap. The gap splits
    the day into two races when it exceeds the session gap. Each race
    keeps one 1 Hz point per logged second (only MWV sentences are
    corrupted, and VHW still yields the row). The heading tacks at every
    multiple of ``tack_period``; a tack counts in the race whose seconds
    contain its start."""
    gap_end = p.gap_start + p.gap_len
    if p.gap_len > SESSION_GAP_S:
        races = [(0, p.gap_start), (gap_end, p.n_seconds)]
    else:
        races = [(0, p.n_seconds)]
    points, tacks = [], []
    for lo, hi in races:
        logged = hi - lo
        if len(races) == 1:
            logged -= p.gap_len
        points.append(logged)
        tacks.append(
            sum(
                1
                for k in range(1, p.n_seconds // p.tack_period + 1)
                if lo <= k * p.tack_period < hi
                and not p.gap_start <= k * p.tack_period < gap_end
            )
        )
    return {"races": len(races), "points": points, "tacks": tacks}


def expected_nmea(params: list[DayParams]) -> dict:
    """Per-day expectations keyed by date, plus the sentence count."""
    days = {p.date: expected_day(p) for p in params}
    sentences = 4 * sum(sum(d["points"]) for d in days.values())
    return {"days": days, "sentences": sentences}


def _fmt1(tenths: int) -> str:
    return f"{tenths // 10}.{tenths % 10}"


def _sentence(body: str, corrupt: bool = False) -> str:
    chk = 0
    for ch in body:
        chk ^= ord(ch)
    if corrupt:
        chk ^= 1
    return f"${body}*{chk:02X}"


def day_log_lines(p: DayParams, turn_seconds: int = TURN_SECONDS) -> list[str]:
    """The lines ``sources.nmea_fixture.sail_log`` writes for day ``p``
    (with ``START_TS`` at 10:00 on ``p.date``), sorted. The same integer
    math in plain Python, so writing the inputs runs no Spark job before
    the workload's cold pass; ``tests/test_inputs.py`` checks it line for
    line against the fixture."""
    start = dt.datetime.fromisoformat(f"{p.date} 10:00:00")
    period = p.tack_period
    out = []
    for s in range(p.n_seconds):
        if p.gap_start <= s < p.gap_start + p.gap_len:
            continue
        ts = start + dt.timedelta(seconds=s)
        phase = (s // period) % 2
        target, prev = (45, 135) if phase == 0 else (135, 45)
        off = s % period
        step = 6 if target > prev else -6
        hdg = prev + step * off if off < turn_seconds and s >= period else target
        hdg_mag = (hdg - 16) % 360
        spd = _fmt1(60 + s % 10)
        lat = f"4738.{(s * 3) % 10000:04d}"
        lon = f"12221.{(s * 7) % 10000:04d}"
        prefix = ts.strftime("%Y-%m-%dT%H:%M:%SZ ")
        bodies = (
            (f"GPRMC,{ts:%H%M%S},A,{lat},N,{lon},W,{spd},{hdg},{ts:%d%m%y},16.0,E,A", False),
            (f"IIVHW,{hdg},T,{hdg_mag},M,{spd},N,,K", False),
            (f"IIMWV,{35 + s % 5},R,{_fmt1(120 + s % 7)},N,A", s % p.corrupt_every == 0),
            (f"IIHDG,{hdg_mag},,,16.0,E", False),
        )
        out.extend(prefix + _sentence(b, c) for b, c in bodies)
    out.sort()
    return out


def write_day_logs(params: list[DayParams], out_dir: str) -> int:
    """Write one capture-prefixed text log per day; returns the number of
    lines written."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for p in params:
        lines = day_log_lines(p)
        with open(os.path.join(out_dir, f"day-{p.date}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
        n += len(lines)
    return n


def corpus(seed: int, n_docs: int = N_DOCS, n_vecs: int = N_VECS):
    """``(documents, embeddings)`` as pandas frames with the engine's
    table schemas. Texts are 10-100 words from the testdata vocabulary;
    5% of docs are a near-duplicate (another doc's text plus " dup")
    and 0.2% an exact copy, so the dedup stages have work to find.
    Embeddings are unit vectors with a random label in 0..9. The seed
    also shuffles row order."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    roles = rng.random(n_docs)
    for i in range(1, n_docs):
        if roles[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif roles[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    x = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    embs = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(x),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    })
    docs = docs.iloc[rng.permutation(n_docs)].reset_index(drop=True)
    embs = embs.iloc[rng.permutation(n_vecs)].reset_index(drop=True)
    return docs, embs


def write_corpus(seed: int, table_dir: str) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one file
    each, as the engine and DuckDB read them) with a seeded row-group
    split. Returns the input sizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(table_dir, exist_ok=True)
    docs, embs = corpus(seed)
    rng = random.Random(seed)
    for name, frame in (("documents", docs), ("embeddings", embs)):
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            os.path.join(table_dir, f"{name}.parquet"),
            row_group_size=rng.choice((len(frame) // 4, len(frame) // 2, len(frame))),
        )
    return {"documents": len(docs), "embeddings": len(embs)}
