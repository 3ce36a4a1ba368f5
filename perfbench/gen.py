"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``default_rng``
seeded with ``[seed, salt]``), returns pyarrow tables, and records the
traffic properties the program's behaviour depends on. Nothing here
imports Spark: inputs are generated before the session starts, and the
program only ever sees the parquet files written by ``write_dir``.

Timestamps are ``timestamp[us, tz=UTC]`` built from integer
microseconds, never nanosecond pandas columns.
"""

from __future__ import annotations

import os
import string
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us", tz="UTC")
BASE_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z: seeded rows predate every due time
STATUSES = np.array(["new", "paid", "shipped", "returned", "closed"])
BATCH = 1000  # the reference's default BatchSize
DB = "shop"  # logical source database: last path segment of every source root


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list(string.ascii_lowercase))
    lens = rng.integers(3, 9, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _notes(rng: np.random.Generator, rows: int, words: int = 6) -> pa.Array:
    vocab = _vocab(rng, 2000)
    picks = rng.choice(vocab, (rows, words))
    return pa.array([" ".join(r) for r in picks])


def write_dir(root: str, name: str, table: pa.Table, parts: int = 1, part_prefix: str = "part") -> str:
    """Write ``table`` as ``<root>/<name>.parquet/<prefix>-NNNNN.parquet``
    in ``parts`` contiguous slices (a plain parquet directory, which
    ParquetSource reads and adopts on its first versioned write)."""
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(d, f"{part_prefix}-{i:05d}.parquet"),
        )
    return d


def link_tree(src: str, dst: str) -> None:
    """Clone a generated directory tree by hardlinking its files: the
    program never modifies a parquet file in place, so every round can
    start from the same bytes at metadata cost."""
    for dirpath, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            os.link(os.path.join(dirpath, f), os.path.join(out, f))


def _files_spanned(keys: np.ndarray, bounds: np.ndarray, batch: int) -> float:
    """Mean share of target part-files (contiguous key ranges split at
    ``bounds``) that one batch's keys fall into."""
    files = len(bounds) - 1
    shares = []
    for s in range(0, len(keys), batch):
        hit = np.unique(np.searchsorted(bounds, keys[s : s + batch], side="right") - 1)
        shares.append(len(hit[(hit >= 0) & (hit < files)]) / files)
    return float(np.mean(shares))


def _repeat_share(keys: np.ndarray, batch: int) -> float:
    rep = 0
    for s in range(0, len(keys), batch):
        chunk = keys[s : s + batch]
        rep += len(chunk) - len(np.unique(chunk))
    return rep / len(keys)


# ---------------------------------------------------------------- snapshot


def snapshot(seed: int, rows: int) -> dict:
    """A ``rows``-row source table keyed by a dense increasing ``id``,
    copied into an empty target by the sequential extractor."""
    rng = _rng(seed, 1)
    ids = np.arange(1, rows + 1, dtype=np.int64)
    table = pa.table(
        {
            "id": ids,
            "customer": rng.integers(1, 50_000, rows),
            "amount": rng.integers(0, 100_000, rows),
            "status": pa.array(rng.choice(STATUSES, rows)),
            "note": _notes(rng, rows),
            "updated_at": pa.array(BASE_US + ids * 1_000_000, TS),
        }
    )
    props = {
        "rows": rows,
        "batch_size": BATCH,
        "target_to_batch": 0.0,
        "remove_share": 0.0,
        "missing_key_share": 0.0,
        "key_repeat_share": 0.0,
        "files_spanned_share": 0.0,
    }
    return {"source": table, "props": props}


# ------------------------------------------------------------------ queue


def queue(
    seed: int,
    target_rows: int,
    entries: int,
    remove_share: float = 0.1,
    missing_share: float = 0.03,
    repeat_share: float = 0.1,
    target_files: int = 8,
) -> dict:
    """A pre-seeded target, the live source it replicates (with a
    ``missing_share`` of keys deleted from it) and a
    ``MigratorRecordQueue`` of UPDATE/REMOVE entries with keys uniform
    over the target, repeats within a batch, and strictly increasing
    ``timestampUpdated`` so the drain order is total."""
    rng = _rng(seed, 2)
    keys = np.arange(target_rows, dtype=np.int64)
    seed_target = pa.table(
        {
            "id": keys,
            "grp": rng.integers(0, 64, target_rows),
            "amount": rng.integers(0, 100_000, target_rows),
            "status": pa.array(rng.choice(STATUSES, target_rows)),
            "note": _notes(rng, target_rows),
            "updated_at": pa.array(BASE_US + keys * 1_000, TS),
        }
    )
    live = rng.random(target_rows) >= missing_share
    source = pa.table(
        {
            "id": keys[live],
            "grp": rng.integers(0, 64, target_rows)[live],
            "amount": rng.integers(0, 100_000, target_rows)[live],
            "status": pa.array(rng.choice(STATUSES, target_rows)[live]),
            "note": seed_target.column("note").filter(pa.array(live)),
            "updated_at": pa.array(BASE_US + 10**12 + keys[live] * 1_000, TS),
        }
    )
    q_keys = rng.integers(0, target_rows, entries)
    for i in np.nonzero(rng.random(entries) < repeat_share)[0]:
        start = i - i % BATCH
        if i > start:
            q_keys[i] = q_keys[rng.integers(start, i)]
    methods = np.where(rng.random(entries) < remove_share, "REMOVE", "UPDATE")
    q = pa.table(
        {
            "sourceDatabase": pa.array([DB] * entries),
            "sourceTable": pa.array(["items"] * entries),
            "pkColumn": pa.array(["id"] * entries),
            "pkValue": pa.array(q_keys.astype(str)),
            "timestampUpdated": pa.array(
                BASE_US + 2 * 10**12 + np.arange(entries, dtype=np.int64) * 1_000, TS
            ),
            "method": pa.array(methods),
        }
    )
    updates = methods == "UPDATE"
    bounds = np.linspace(0, target_rows, target_files + 1)
    props = {
        "rows": entries,
        "batch_size": BATCH,
        "target_rows": target_rows,
        "target_to_batch": target_rows / BATCH,
        "remove_share": float(np.mean(~updates)),
        "missing_key_share": float(np.mean(~live[q_keys[updates]])),
        "key_repeat_share": _repeat_share(q_keys, BATCH),
        "files_spanned_share": _files_spanned(q_keys, bounds, BATCH),
    }
    return {
        "target": seed_target,
        "target_files": target_files,
        "source": source,
        "queue": q,
        "props": props,
    }


# ----------------------------------------------------------------- stream


def stream(
    seed: int,
    target_rows: int,
    rate: float,
    seconds: float,
    priming: int = 200,
    slice_share: float = 0.1,
    insert_share: float = 0.2,
    target_files: int = 12,
) -> dict:
    """A range-clustered pre-seeded target plus a change schedule at a
    fixed ``rate``: each change is a full row version whose
    ``updated_at`` is its due time. Updates hit the most recent
    ``slice_share`` of the key range; ``insert_share`` of changes are
    new keys above it. Due times are offsets (microseconds) from the
    window start, made absolute by ``stream_rows`` when the window
    opens; the first ``priming`` changes are due before it."""
    rng = _rng(seed, 3)
    keys = np.arange(target_rows, dtype=np.int64)
    seed_target = pa.table(
        {
            "id": keys,
            "grp": rng.integers(0, 50, target_rows),
            "amount": rng.integers(0, 100_000, target_rows),
            "updated_at": pa.array(BASE_US + keys * 1_000, TS),
        }
    )
    n = priming + int(rate * seconds)
    inserts = rng.random(n) < insert_share
    lo = int(target_rows * (1 - slice_share))
    ch_keys = rng.integers(lo, target_rows, n)
    ch_keys[inserts] = target_rows + np.arange(int(inserts.sum()))
    step = 1_000_000 / rate
    offsets = np.concatenate(
        [
            # priming changes: spread over the second before the window
            -1_000_000 + np.arange(priming) * (1_000_000 // max(priming, 1)),
            (np.arange(n - priming) * step).astype(np.int64),
        ]
    ).astype(np.int64)
    changes = {
        "id": ch_keys,
        "grp": rng.integers(0, 50, n),
        "amount": rng.integers(0, 100_000, n),
        "offset_us": offsets,
    }
    bounds = np.linspace(0, target_rows, target_files + 1)
    per_batch = max(1, int(rate))  # about one second of changes per cycle
    upd = ch_keys[priming:][~inserts[priming:]]
    props = {
        "rows": n - priming,
        "priming_rows": priming,
        "rate_per_s": rate,
        "batch_size": BATCH,
        "target_rows": target_rows,
        "target_to_batch": target_rows / per_batch,
        "remove_share": 0.0,
        "missing_key_share": 0.0,
        "insert_share": float(np.mean(inserts)),
        "key_repeat_share": _repeat_share(ch_keys[priming:], per_batch),
        "files_spanned_share": _files_spanned(upd, bounds, per_batch),
    }
    return {
        "target": seed_target,
        "target_files": target_files,
        "changes": changes,
        "priming": priming,
        "props": props,
    }


def stream_rows(changes: dict, idx: Sequence[int] | slice, t0_us: int) -> pa.Table:
    """Rows of the change schedule selected by ``idx`` with absolute due
    times ``t0_us + offset``."""
    off = changes["offset_us"][idx]
    return pa.table(
        {
            "id": changes["id"][idx],
            "grp": changes["grp"][idx],
            "amount": changes["amount"][idx],
            "updated_at": pa.array(t0_us + off, TS),
        }
    )


# ----------------------------------------------------------------- corpus

STOP = np.array(["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"])


def corpus(
    seed: int,
    docs: int,
    exact_share: float = 0.05,
    near_share: float = 0.05,
    junk_share: float = 0.03,
    sources: Sequence[str] = ("web", "books", "code", "news"),
    source_p: Sequence[float] = (0.5, 0.25, 0.15, 0.1),
) -> dict:
    """A document corpus with planted exact duplicates (case/whitespace
    variants of a base document), near duplicates (3 words of a base
    document replaced) and low-quality digit-heavy junk. ``planted_near``
    lists the (base, copy) doc-id pairs for the recall check and
    ``junk`` the ids the quality filter must drop."""
    rng = _rng(seed, 4)
    vocab = _vocab(rng, 6000)
    n_exact, n_near, n_junk = (int(docs * s) for s in (exact_share, near_share, junk_share))
    n_base = docs - n_exact - n_near - n_junk

    def text(n_words: int) -> list[str]:
        w = rng.choice(vocab, n_words)
        stop = rng.random(n_words) < 0.2
        w[stop] = rng.choice(STOP, int(stop.sum()))
        return list(w)

    bodies = [text(int(rng.integers(40, 120))) for _ in range(n_base)]
    texts = [" ".join(b) for b in bodies]
    for _ in range(n_exact):
        b = int(rng.integers(0, n_base))
        words = list(bodies[b])
        words[0] = words[0].upper()
        texts.append("  ".join(words) + " ")
    near = []
    for _ in range(n_near):
        b = int(rng.integers(0, n_base))
        words = list(bodies[b])
        for pos in rng.choice(len(words), 3, replace=False):
            words[pos] = str(rng.choice(vocab))
        texts.append(" ".join(words))
        near.append((b, len(texts) - 1))
    for _ in range(n_junk):
        texts.append(" ".join(str(x) for x in rng.integers(10**6, 10**9, 30)))
    perm = rng.permutation(len(texts))  # doc_id = position after shuffling
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))
    table = pa.table(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "source": pa.array(rng.choice(np.array(sources), len(texts), p=source_p)),
            "text": pa.array([texts[i] for i in perm]),
        }
    )
    planted_near = sorted((int(inv[a]), int(inv[b])) for a, b in near)
    junk = sorted(int(inv[i]) for i in range(len(texts) - n_junk, len(texts)))
    props = {
        "rows": len(texts),
        "exact_dup_share": n_exact / len(texts),
        "near_dup_share": n_near / len(texts),
        "junk_share": n_junk / len(texts),
        "sources": dict(zip(sources, source_p)),
    }
    return {"docs": table, "planted_near": planted_near, "junk": junk, "props": props}
