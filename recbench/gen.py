"""Seeded input generators for the record-engine benchmark.

Every generator takes a ``numpy.random.Generator`` and returns plain
Arrow tables, so the engine receives only generated inputs and DuckDB can
check results against the same rows.  Payloads are random bytes: they do
not compress, so on-disk sizes and bytes-per-second figures are honest.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR
# 2024-01-01T00:00:00Z, a Monday
T_BASE = 1_704_067_200_000_000

TAGS = ("alpha", "beta", "gamma", "delta", "omega")
LABELS_TYPE = pa.map_(pa.string(), pa.string())


def label_fields(rng: np.random.Generator, n: int) -> dict:
    """Seeded label values; ``big`` is sparse (set only when value >= 150),
    so ``$exists`` and missing-label paths are exercised."""
    value = rng.integers(0, 200, n)
    return {
        "value": value,
        "user": rng.integers(0, 10, n),
        "k": rng.integers(0, 100, n),
        "tag": np.asarray(TAGS, dtype=object)[rng.integers(0, len(TAGS), n)],
        "big": value >= 150,
    }


def _labels_array(f: dict) -> pa.Array:
    """The labels map column: value, user, tag and k on every record, big
    only where set."""
    n = len(f["value"])
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(4 + f["big"].astype(np.int64), out=offsets[1:])
    keys, items = [], []
    for i in range(n):
        keys += ["value", "user", "tag", "k"]
        items += [str(f["value"][i]), str(f["user"][i]), f["tag"][i], str(f["k"][i])]
        if f["big"][i]:
            keys.append("big")
            items.append("true")
    return pa.MapArray.from_arrays(pa.array(offsets), pa.array(keys, pa.string()),
                                   pa.array(items, pa.string()))


def _payloads(rng: np.random.Generator, n: int, size: int) -> pa.Array:
    buf = pa.py_buffer(rng.bytes(n * size))
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(size), n, [None, buf]).cast(pa.binary())


def records(rng: np.random.Generator, entries, ts: np.ndarray, entry_idx: np.ndarray,
            payload_size: int, unfinished_frac: float = 0.0) -> tuple[pa.Table, pa.Table]:
    """(engine records, oracle truth) for the given keys.

    The truth table carries the label fields as typed columns plus the
    payload length, which is what the DuckDB oracles query."""
    n = len(ts)
    f = label_fields(rng, n)
    state = np.where(rng.random(n) < unfinished_frac, 0, 1).astype(np.int32)
    entry = np.asarray(entries, dtype=object)[entry_idx]
    rec = pa.table({
        "bucket": pa.array(["bench"] * n, pa.string()),
        "entry": pa.array(entry, pa.string()),
        "ts": pa.array(ts, pa.int64()),
        "payload": _payloads(rng, n, payload_size),
        "content_type": pa.array(["application/octet-stream"] * n, pa.string()),
        "state": pa.array(state, pa.int32()),
        "labels": _labels_array(f),
        "computed_labels": pa.array([[]] * n, LABELS_TYPE),
    })
    truth = pa.table({
        "entry": pa.array(entry, pa.string()),
        "ts": pa.array(ts, pa.int64()),
        "state": pa.array(state, pa.int32()),
        "value": pa.array(f["value"], pa.int64()),
        "user": pa.array(f["user"], pa.int64()),
        "k": pa.array(f["k"], pa.int64()),
        "tag": pa.array(f["tag"], pa.string()),
        "big": pa.array(f["big"], pa.bool_()),
        "plen": pa.array(np.full(n, payload_size), pa.int64()),
    })
    return rec, truth


def timeline(rng: np.random.Generator, n_entries: int, days: int,
             per_day: int) -> tuple[np.ndarray, np.ndarray]:
    """Distinct, per-entry-sorted timestamps: ``per_day`` records per
    entry per day on a jittered grid (no two records share a key)."""
    step = US_PER_DAY // per_day
    per_entry = days * per_day
    grid = T_BASE + np.arange(per_entry, dtype=np.int64) * step
    ts = np.concatenate([grid + rng.integers(0, step // 2, per_entry)
                         for _ in range(n_entries)])
    idx = np.repeat(np.arange(n_entries), per_entry)
    return ts, idx


# -- documents for the dedup family -----------------------------------------

def documents(rng: np.random.Generator, n_base: int, vocab: int = 4000,
              near_dup_frac: float = 0.25, exact_dup_frac: float = 0.05) -> pa.Table:
    """(doc_id, text) corpus with injected duplicates.

    Base documents draw 40-90 words from a seeded pseudo-word vocabulary.
    Near-duplicates copy an earlier document (often itself a copy, so
    clusters form chains) and replace one or two words; exact duplicates
    copy a base text verbatim."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = ["".join(letters[rng.integers(0, 26, rng.integers(3, 9))])
             for _ in range(vocab)]
    texts = [" ".join(words[j] for j in rng.integers(0, vocab, rng.integers(40, 91)))
             for _ in range(n_base)]
    for _ in range(int(n_base * near_dup_frac)):
        src = texts[rng.integers(0, len(texts))].split(" ")
        for _ in range(rng.integers(1, 3)):
            src[rng.integers(0, len(src))] = words[rng.integers(0, vocab)]
        texts.append(" ".join(src))
    for _ in range(int(n_base * exact_dup_frac)):
        texts.append(texts[rng.integers(0, n_base)])
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
