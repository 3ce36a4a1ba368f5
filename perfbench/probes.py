"""Outside-in layer probes: spans around calls into each layer's public
surface, recorded in memory and written out when the run ends.

Nothing here edits the program. The probes are installed only on a
traced run, through the program's own extension points:

* timing wrappers registered under ``bench.<name>`` through
  ``pipeline.registries`` (extractors, transformers, loaders);
* ``ProbedSource``, a ``ParquetSource`` subclass swapped onto each
  ``BoundIteration.source`` / ``.target``, so every
  ``isinstance(..., ParquetSource)`` branch takes the same path;
* ``ProbedStore``, a ``TrackingStore`` subclass set on
  ``Migrator.store``, and ``ProbedMetrics`` on ``Migrator.metrics``,
  which together bound each runner cycle (a cycle opens at its
  tracking read and closes when its ``BatchMetric`` is recorded);
* Spark job counts from ``statusTracker`` job-id deltas.

``CommitRecorder`` is not a probe: it timestamps every offset commit,
which the end-to-end lag metric needs on untraced runs too.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from migrator_spark.pipeline import registries
from migrator_spark.pipeline.runner import Metrics
from migrator_spark.pipeline.tracking import TrackingStore
from migrator_spark.sources.parquet import ParquetSource

CYCLE = "runner.cycle"


class Tracer:
    """In-memory span recorder. A span is a dict with ``id``, ``name``,
    ``parent``, ``run``, ``start``, ``end`` (seconds since the tracer
    was created) plus per-layer attributes."""

    def __init__(self, spark, run_id: str) -> None:
        self._status = spark.sparkContext.statusTracker()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: dict[int, dict] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self.t0 = time.perf_counter()

    def job_mark(self) -> int:
        """One past the newest Spark job id seen so far."""
        ids = self._status.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _push(self, name: str, attrs: dict) -> dict:
        stack = self._stack()
        with self._lock:
            self._ids += 1
            rec = {
                "id": self._ids,
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "run": self.run_id,
                "start": time.perf_counter() - self.t0,
                **attrs,
            }
            self._open[rec["id"]] = rec
        stack.append(rec)
        return rec

    def _pop(self, rec: dict) -> None:
        """Close ``rec`` and any span still open above it (a cycle an
        empty poll left open when its drain returned)."""
        stack = self._stack()
        end = time.perf_counter() - self.t0
        while stack:
            top = stack.pop()
            top["end"] = end
            with self._lock:
                self._open.pop(top["id"], None)
                self.spans.append(top)
            if top is rec:
                break

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        rec = self._push(name, attrs)
        j0 = self.job_mark() if jobs else 0
        try:
            yield rec
        finally:
            if jobs:
                rec["jobs"] = self.job_mark() - j0
            self._pop(rec)

    def current_loader(self) -> dict | None:
        for rec in reversed(self._stack()):
            if rec["name"].startswith("loaders."):
                return rec
        return None

    def begin_cycle(self) -> None:
        """Open a runner cycle at the thread's outermost level, closing a
        cycle left open by an empty poll or a failed attempt."""
        stack = self._stack()
        if stack and stack[-1]["name"] == CYCLE:
            self._pop(stack[-1])
        if not stack or stack[-1]["name"].startswith("bench."):
            self._push(CYCLE, {})

    def end_cycle(self, seconds: float) -> None:
        stack = self._stack()
        rec = next((r for r in reversed(stack) if r["name"] == CYCLE), None)
        if rec is not None:
            rec["batch_seconds"] = seconds
            self._pop(rec)

    def finish(self) -> list[dict]:
        """Close spans still open (a cycle the runner thread left behind
        when it stopped) at their last child's end, and return all."""
        with self._lock:
            leftover = list(self._open.values())
            self._open.clear()
        for rec in leftover:
            kids = [s["end"] for s in self.spans if s["parent"] == rec["id"]]
            rec["end"] = max(kids, default=rec["start"])
            self.spans.append(rec)
        self.spans.sort(key=lambda s: s["start"])
        return self.spans


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


def layer_summary(spans: list[dict]) -> dict[str, dict]:
    """Per layer (span-name prefix): calls, busy seconds, self seconds."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        row = out.setdefault(layer, {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["busy_s"] += s["end"] - s["start"]
        row["self_s"] += own[s["id"]]
    return out


# ------------------------------------------------------------ registries


class RegistryProbes:
    """Registers a ``bench.<name>`` timing wrapper for every built-in
    stage, once per process; ``tracer`` selects where spans go."""

    def __init__(self) -> None:
        self.tracer: Tracer | None = None
        registries.resolve("loader", "default")  # imports the built-in stages
        for kind, table in (
            ("extractor", registries.EXTRACTORS),
            ("transformer", registries.TRANSFORMERS),
            ("loader", registries.LOADERS),
        ):
            register = getattr(registries, f"register_{kind}")
            for name, fn in list(table.items()):
                if not name.startswith("bench."):
                    register("bench." + name)(self._wrap(kind, name, fn))

    def _wrap(self, kind: str, name: str, fn):
        layer = f"{kind}s.{name}"

        def stage(*args, **kw):
            if kind == "transformer":
                with self.tracer.span(layer):
                    return fn(*args, **kw)
            attrs = {"path": None} if kind == "loader" else {}
            with self.tracer.span(layer, jobs=True, **attrs) as rec:
                res = fn(*args, **kw)
                if kind == "extractor":
                    rec["rows"] = res.row_count
                return res

        return stage


# --------------------------------------------------------------- sources


def _file_bytes(root: str) -> dict[int, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            out[st.st_ino] = st.st_size
    return out


class ProbedSource(ParquetSource):
    """ParquetSource whose writes record a ``sources.*`` span with the
    bytes of new files under the root, and tell the enclosing loader
    span which path it took."""

    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    @contextmanager
    def _probe(self, op: str, name: str, path: str | None = None):
        rollup = "__rollup_" in name
        before = None if rollup else _file_bytes(self.root)
        loader = self.tracer.current_loader()
        if loader is not None and path is not None and not rollup and loader["path"] is None:
            loader["path"] = path
        with self.tracer.span("sources.rollup_write" if rollup else "sources." + op, table=name) as rec:
            yield rec
        if before is not None:
            after = _file_bytes(self.root)
            rec["bytes"] = sum(sz for ino, sz in after.items() if ino not in before)

    def write(self, df, name, mode="overwrite"):
        existed = self.exists(None, name)
        path = ("append" if mode == "append" else "merge") if existed else "create"
        with self._probe("write", name, path):
            return super().write(df, name, mode)

    def rmw(self, spark, name, fn, max_attempts=6):
        with self._probe("rmw", name, "merge"):
            return super().rmw(spark, name, fn, max_attempts)

    def merge_pruned(self, spark, name, batch_keys, key_col, merge_fn, cluster_cols=None):
        with self._probe("merge_pruned", name, "pruned") as rec:
            stats = super().merge_pruned(spark, name, batch_keys, key_col, merge_fn, cluster_cols)
            rec["touched"], rec["total"] = stats.touched_files, stats.total_files
            return stats


# --------------------------------------------------------------- tracking


class CommitRecorder(TrackingStore):
    """TrackingStore that remembers when each offset commit landed:
    ``commits`` holds ``(epoch seconds, TrackingStatus)`` per put."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.commits: list[tuple[float, object]] = []

    def put(self, ts) -> None:
        super().put(ts)
        self.commits.append((time.time(), ts))


class ProbedStore(CommitRecorder):
    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    def get(self, db, table, column=""):
        self.tracer.begin_cycle()
        with self.tracer.span("tracking.get"):
            return super().get(db, table, column)

    def put(self, ts) -> None:
        with self.tracer.span("tracking.put"):
            super().put(ts)


class ProbedMetrics(Metrics):
    """Closes the open runner cycle when the runner records its
    ``BatchMetric`` (the last step of a committed cycle)."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer

    def record(self, m) -> None:
        super().record(m)
        self.tracer.end_cycle(m.seconds)


def install(migrator, tracer: Tracer, probes: RegistryProbes) -> None:
    """Swap the probes onto a constructed Migrator."""
    probes.tracer = tracer
    migrator.store = ProbedStore(migrator.store.root, tracer)
    migrator.metrics = ProbedMetrics(tracer)
    for b in migrator.iterations:
        b.source = ProbedSource(b.source.root, tracer)
        b.target = ProbedSource(b.target.root, tracer)
        for stage in ("extractor", "transformer", "loader"):
            setattr(b.spec, stage, "bench." + getattr(b.spec, stage))
