"""Output checks: independent pandas recomputations of what each
workload must leave behind, and readers that look at the program's
output files directly (pyarrow, no Spark)."""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class Checks:
    """Named pass/fail results; every failure counts toward ``failed``."""

    def __init__(self) -> None:
        self.results: list[tuple[str, bool, str]] = []

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))

    @property
    def failed(self) -> list[tuple[str, bool, str]]:
        return [r for r in self.results if not r[1]]


def canon(t: pa.Table, key: str | list[str]) -> pd.DataFrame:
    """Order-free comparable form: columns by name, timestamps as UTC
    microseconds, rows sorted by ``key``."""
    cols = {}
    for name in sorted(t.column_names):
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            c = pc.cast(c, pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
        cols[name] = c.to_numpy(zero_copy_only=False)
    df = pd.DataFrame(cols)
    return df.sort_values(key, kind="stable").reset_index(drop=True)


def read_table(root: str, name: str) -> pa.Table | None:
    """The table's current version, read the way a non-Spark consumer
    reads it: through the ``<root>/<name>.parquet`` path."""
    d = os.path.realpath(os.path.join(root, f"{name}.parquet"))
    if not os.path.isdir(d):
        return None
    return pq.read_table(d)


def same(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if not np.array_equal(a.astype(object), b.astype(object)):
            bad = int(np.argmax(a.astype(object) != b.astype(object)))
            return False, f"column {c} differs first at row {bad}: {a[bad]!r} != {b[bad]!r}"
    return True, ""


# ------------------------------------------------------------------- CDC


def queue_oracle(seed_target: pa.Table, source: pa.Table, queue: pa.Table) -> pd.DataFrame:
    """Replica after draining ``queue`` in order: per key the last
    EFFECTIVE event wins, where effective = a REMOVE, or an UPDATE whose
    key exists in the source (the live row is copied); an UPDATE for a
    missing key extracts nothing and leaves the replica row alone."""
    tgt = canon(seed_target, "id").set_index("id")
    src = canon(source, "id").set_index("id")
    q = queue.to_pandas()
    q["id"] = q["pkValue"].astype(np.int64)
    eff = q[(q["method"] == "REMOVE") | q["id"].isin(src.index)]
    last = eff.groupby("id", sort=False)["method"].last()
    updated = last.index[last != "REMOVE"]
    out = pd.concat([tgt.drop(index=tgt.index.intersection(last.index)), src.loc[updated]])
    out = out.reset_index()
    return out.sort_values("id", kind="stable").reset_index(drop=True)[sorted(out.columns)]


def latest_oracle(seed_target: pa.Table, changes: pa.Table) -> pd.DataFrame:
    """Replica after applying full-row versions: per key the version with
    the latest ``updated_at`` wins over the seeded row."""
    both = pd.concat([canon(seed_target, "id"), canon(changes, "id")])
    both = both.sort_values(["id", "updated_at"], kind="stable")
    return both.groupby("id", sort=True).tail(1).reset_index(drop=True)


def rollup_oracle(target: pd.DataFrame, group: str, value: str) -> pd.DataFrame:
    g = target.groupby(group, sort=True)[value]
    return pd.DataFrame(
        {group: g.sum().index.to_numpy(), "n_rows": g.size().to_numpy(), "sum_val": g.sum().to_numpy()}
    )


def rollup_read(root: str, name: str, group: str) -> pd.DataFrame | None:
    t = read_table(root, name)
    if t is None:
        return None
    df = canon(t, group)
    dec = df["sum_val"].to_numpy()
    if any(d != int(d) for d in dec):
        raise ValueError("rollup sum is not integral")
    return pd.DataFrame(
        {group: df[group].to_numpy(), "n_rows": df["n_rows"].to_numpy(), "sum_val": np.array([int(d) for d in dec])}
    )


# ---------------------------------------------------------------- corpus

_WS = re.compile(r"\s+")


def normalize(text: str) -> str:
    return _WS.sub(" ", text.lower()).strip()


def shingles(text: str, k: int = 2) -> set[str]:
    w = normalize(text).split(" ")
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def exact_groups(docs: pd.DataFrame) -> set[tuple[int, int]]:
    """(kept doc id = min id, copies) per normalized text."""
    g = docs.assign(norm=docs["text"].map(normalize)).groupby("norm")["doc_id"]
    return set(zip(g.min().astype(int), g.size().astype(int)))


def hamilton(sizes: dict[str, int], total: int) -> dict[str, int]:
    """Largest-remainder apportionment, ties to the smaller stratum name."""
    n = sum(sizes.values())
    quota = {k: total * v // n for k, v in sizes.items()}
    rest = total - sum(quota.values())
    for k in sorted(sizes, key=lambda k: (-(total * sizes[k] % n), k))[:rest]:
        quota[k] += 1
    return quota
