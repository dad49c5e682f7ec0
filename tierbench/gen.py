"""Seeded input generator for the tier-engine benchmark.

Everything here is numpy/pyarrow and independent of the engine package:
editing the engine (including its own ``sources/datagen``) can never change
what the benchmark feeds it. The same ``seed`` always gives the same inputs.

- ``sequences``: the engine's primary table ``(doc_id, tokens, n_tok,
  source)``, FIXTURES F1 shape: token lengths 1..512, vocabulary 50257,
  ``source`` Zipf(s=1.2)-skewed over 64 values (src-00 carries ~30%).
- ``base_events``: the tier-0 events the engine's eventize stage derives
  from a sequences table (per source, ``doc_id`` order, one second apart
  from 2026-01-01) — the benchmark's own oracle for rollup checks.
- ``ingest_batch``: micro-batches of new sequences with unique doc ids;
  most events advance every source's clock, a share lands late in older,
  already-published buckets.
  Each batch's docs carry tokens, with planted near-duplicates (a copy of
  a prior or an earlier doc with one token appended).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

N_SOURCES = 64
ZIPF_S = 1.2
VOCAB = 50257
MAX_LEN = 512
# ingest batches: share of late events, share of planted near-duplicates,
# and the longest token sequence of a batch doc
LATE_SHARE = 0.1
DUP_SHARE = 0.05
BATCH_MAX_LEN = 256
EPOCH0 = np.datetime64("2026-01-01T00:00:00", "s")
SOURCES = np.array([f"src-{z:02d}" for z in range(N_SOURCES)])


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, N_SOURCES + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w / w.sum())


def _source_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    z = np.searchsorted(_zipf_cdf(), rng.random(n), side="right")
    return np.minimum(z, N_SOURCES - 1)


def _token_lists(rng: np.random.Generator, lengths: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def sequences(seed: int, n: int) -> pa.Table:
    """FIXTURES F1 ``sequences`` table with ``n`` rows."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(1, MAX_LEN + 1, size=n, dtype=np.int32)
    src = _source_ids(rng, n)
    return pa.table({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)]),
        "tokens": _token_lists(rng, lengths),
        "n_tok": pa.array(lengths),
        "source": pa.array(SOURCES[src]),
    })


def base_events(seqs: pa.Table) -> pd.DataFrame:
    """The eventize rule, recomputed: per source in ``doc_id`` order, one
    event per sequence one second apart from EPOCH0, ``v = n_tok``."""
    df = pd.DataFrame({
        "source": seqs.column("source").to_numpy(zero_copy_only=False),
        "doc_id": seqs.column("doc_id").to_numpy(zero_copy_only=False),
        "v": seqs.column("n_tok").to_numpy().astype(np.float64),
    }).sort_values(["source", "doc_id"], kind="stable")
    rank = df.groupby("source").cumcount().to_numpy()
    df["event_ts"] = EPOCH0 + rank.astype("timedelta64[s]")
    return df[["source", "event_ts", "v", "doc_id"]].reset_index(drop=True)


def frontier(events: pd.DataFrame) -> dict[str, np.datetime64]:
    """Per-source newest event time (the next batch starts after it)."""
    return {
        s: np.datetime64(t, "s")
        for s, t in events.groupby("source")["event_ts"].max().items()
    }


def ingest_batch(
    seed: int, k: int, n: int, front: dict, prior: pd.DataFrame,
) -> tuple[pd.DataFrame, dict, list[tuple[str, str]]]:
    """Batch ``k``: ``n`` new sequences ``(doc_id, tokens, source,
    event_ts, v)``, the advanced per-source frontier, and the planted
    near-duplicate pairs ``(original_id, copy_id)``.

    Timestamps: every source gets new-time events (at least one, the rest
    Zipf-skewed like the base) continuing one second apart after its
    frontier; a LATE_SHARE of events lands uniformly in
    [EPOCH0, frontier), i.e. in buckets already rolled up and published.

    Tokens: random sequences of length 16..BATCH_MAX_LEN, which share no
    3-gram shingle with each other in practice, except a DUP_SHARE of copies
    (one token appended) of a ``prior`` doc — alternately — or of an
    earlier doc of this batch. ``v`` is the token count, as eventize
    derives it."""
    rng = np.random.default_rng([seed, 2, k])
    n_late = int(n * LATE_SHARE)
    n_new = n - n_late
    src_new = np.concatenate([
        np.arange(N_SOURCES), _source_ids(rng, max(n_new - N_SOURCES, 0))
    ])
    src_late = _source_ids(rng, n_late)
    new_front = dict(front)
    ts_new = np.empty(len(src_new), dtype="datetime64[s]")
    for z in range(N_SOURCES):
        idx = np.flatnonzero(src_new == z)
        f = front.get(SOURCES[z], EPOCH0 - np.timedelta64(1, "s"))
        ts_new[idx] = f + np.arange(1, len(idx) + 1).astype("timedelta64[s]")
        new_front[SOURCES[z]] = f + np.timedelta64(len(idx), "s")
    span = np.array([
        (front.get(SOURCES[z], EPOCH0) - EPOCH0).astype(np.int64)
        for z in src_late
    ], dtype=np.int64)
    ts_late = EPOCH0 + (rng.random(n_late) * span).astype("timedelta64[s]")
    src = np.concatenate([src_new, src_late])
    n = len(src)

    ids = [f"ing-{k:05d}-{i:08d}" for i in range(n)]
    lengths = rng.integers(16, BATCH_MAX_LEN + 1, size=n)
    toks = [rng.integers(0, VOCAB, size=L, dtype=np.int32) for L in lengths]
    n_dup = int(n * DUP_SHARE)
    slots = np.sort(rng.choice(np.arange(n // 2, n), size=n_dup, replace=False))
    planted = []
    for j, slot in enumerate(slots):
        if j % 2 == 0 and len(prior):
            r = int(rng.integers(0, len(prior)))
            orig_id, orig = prior["doc_id"].iat[r], prior["tokens"].iat[r]
        else:
            r = int(rng.integers(0, n // 2))
            orig_id, orig = ids[r], toks[r]
        toks[slot] = np.append(np.asarray(orig, dtype=np.int32),
                               np.int32(rng.integers(0, VOCAB)))
        planted.append((orig_id, ids[slot]))
    df = pd.DataFrame({
        "doc_id": ids,
        "tokens": toks,
        "source": SOURCES[src],
        "event_ts": np.concatenate([ts_new, ts_late]),
    })
    df["v"] = df["tokens"].map(len).astype(np.float64)
    return df, new_front, planted
