"""The four workloads. Each one generates its inputs (``prepare``, no
Spark), warms up on a private copy, measures for ``seconds``, checks
the program's outputs, and on a traced run repeats a deterministic
slice with the probes off and on (``parity``).

All CDC workloads drive ``pipeline.runner.Migrator`` over
``ParquetSource`` roots under the run's work directory; the curation
workload calls the ``operators`` functions directly.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import checks
import gen
import probes
from migrator_spark.operators.dedup import duplicate_clusters_star, exact_dedup, minhash_lsh_pairs
from migrator_spark.operators.mixture import mixture_plan, stratified_sample
from migrator_spark.operators.textops import quality_score
from migrator_spark.pipeline.config import IterationSpec, MigrationSpec, MigratorConfig, Parameters
from migrator_spark.pipeline.runner import Migrator
from migrator_spark.pipeline.tracking import TrackingStore
from migrator_spark.sources.parquet import ParquetSource

SNAP_ROWS = 3000  # rows copied per snapshot round: three full batches
QUEUE_TARGET = 10_000  # pre-seeded replica rows (10 batches)
QUEUE_ENTRIES = 2000  # queue entries drained per round
STREAM_TARGET = 20_000
STREAM_RATE = 50.0  # changes per second, fixed schedule
STREAM_SLEEP = 0.25  # sleep_between_runs of the streaming runner
# Every pruned merge hardlinks the part-files it leaves untouched into the
# new version with a 14-byte "keep-<hex>-" prefix added to their names, so
# a file left untouched by 17 merges passes the 255-byte name limit and
# every later merge fails (ENAMETOOLONG). Each stream replica therefore
# takes at most ~13 merges even at 1.4 s a cycle: warm-up and measurement
# run on separate copies, and the measured copy's lead-in, window and
# tail stay short. ``sources.part_name_len_max`` shows the growth.
STREAM_WARM_S = 16.0  # warm-up stream on a throwaway replica
STREAM_LEAD_S = 4.0  # the runner streams this long before the window opens
STREAM_DRAIN_S = 30.0  # after the window: time allowed to commit what was due in it
CORPUS_DOCS = 3000
ROLLUP = {"name": "by_grp", "group_by": ["grp"], "sum": "amount"}

CDC_LAYERS = (
    "runner.cycle_p50_s runner.cycle_p99_s runner.self_s_per_cycle runner.jobs_per_cycle "
    "runner.backlog_end extractors.busy_s extractors.rows extractors.jobs_per_call "
    "extractors.empty_poll_ratio transformers.busy_s loaders.busy_s loaders.jobs_per_call "
    "loaders.path.create loaders.path.append loaders.path.merge loaders.path.pruned "
    "sources.write_s sources.rmw_s sources.merge_pruned_s sources.files_touched_ratio "
    "sources.bytes_written_per_row sources.rollup_write_s sources.part_name_len_max tracking.get_s tracking.put_s "
    "trace.overhead_ratio"
).split()


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class Workload:
    """Shared state and the measurement record of one run."""

    name = ""
    layers = CDC_LAYERS

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.probes = probes.RegistryProbes() if trace else None
        self.checks = checks.Checks()
        self.props: dict = {}
        self.warmup_s = 0.0
        self.construct_s: list[float] = []
        self.attempted = 0
        self.errors = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {name: 0.0 for name in self.layers}
        self.dump: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def note_error(self, m: Migrator) -> None:
        """Keep the run's first runner error for the stderr summary."""
        if m.errors and "first_error" not in self.dump:
            stage, e, _ = m.errors[0]
            self.dump["first_error"] = f"{stage}: {type(e).__name__}: {e}"[:2000]

    def tracer(self, run_id: str) -> probes.Tracer | None:
        return probes.Tracer(self.spark, run_id) if self.trace else None

    # ---------------------------------------------------------- CDC helpers

    def migrator(self, src: str, tgt: str, trk: str, spec: IterationSpec, params: Parameters, tracer=None) -> Migrator:
        cfg = MigratorConfig(
            migrations=[MigrationSpec(f"parquet://{src}", f"parquet://{tgt}", [spec])],
            parameters=params,
        )
        t = time.perf_counter()
        m = Migrator(self.spark, cfg, trk, error_callback=lambda *_: None)
        self.construct_s.append(time.perf_counter() - t)
        m.store = probes.CommitRecorder(trk)
        if tracer is not None:
            probes.install(m, tracer, self.probes)
        return m

    def parity_drain(self, base: str, build, table: str, on: bool) -> dict:
        """Drain a fresh copy of ``base`` one cycle per call with the
        probes ``on`` or off, and record per cycle what the target's
        files show: the loader path (create / append / rewrite) and how
        many of the previous version's part-files were rewritten."""
        root = self.path("parity-on" if on else "parity-off")
        shutil.rmtree(root, ignore_errors=True)
        gen.link_tree(base, root)
        tracer = probes.Tracer(self.spark, "parity") if on else None
        m = build(root, tracer)
        disk, probe_paths, wall = [], [], 0.0
        while True:
            before = _files(m.iterations[0].target.root, table)
            n = len(m.metrics.batches)
            t = time.perf_counter()
            m.run_until_drained(max_batches=1)
            wall += time.perf_counter() - t
            if len(m.metrics.batches) == n:
                break
            disk.append(_classify(before, _files(m.iterations[0].target.root, table)))
        if tracer is not None:
            for s in tracer.finish():
                if s["name"].startswith("loaders."):
                    touched = [k for k in tracer.spans if k["parent"] == s["id"] and "touched" in k]
                    probe_paths.append(_probe_class(s["path"], touched, disk[len(probe_paths)]))
        tgt_root = m.iterations[0].target.root
        out = {
            "disk": disk,
            "probe": probe_paths,
            "wall": wall,
            "errors": len(m.errors),
            "hash": _digest(
                checks.read_table(tgt_root, table),
                checks.read_table(tgt_root, f"{table}__rollup_{ROLLUP['name']}"),
                [(t.source_table, t.sequential_position, t.timestamp_position) for t in TrackingStore(m.store.root).all()],
            ),
        }
        shutil.rmtree(root, ignore_errors=True)
        return out

    def parity(self, base: str, build, table: str) -> None:
        off = self.parity_drain(base, build, table, on=False)
        on = self.parity_drain(base, build, table, on=True)
        self.checks.add("parity.outputs", off["hash"] == on["hash"] and not off["errors"] and not on["errors"])
        self.checks.add("parity.disk_paths", off["disk"] == on["disk"], f"{off['disk']} vs {on['disk']}")
        self.checks.add("parity.probe_paths", on["probe"] == on["disk"], f"{on['probe']} vs {on['disk']}")
        self.layer["trace.overhead_ratio"] = on["wall"] / off["wall"]
        self.dump["parity"] = {"off": off, "on": on}

    def cdc_layers(self, tracer: probes.Tracer, batches, jobs: int, rows: int, backlog: int) -> None:
        """Per-layer metrics of the timed part of a traced CDC run."""
        spans = tracer.finish()
        own = probes.self_times(spans)
        cycles = max(1, len(batches))

        def named(prefix):
            return [s for s in spans if s["name"].startswith(prefix)]

        def busy(prefix, per=cycles):
            return sum(s["end"] - s["start"] for s in named(prefix)) / per

        ext, lds = named("extractors."), named("loaders.")
        pruned = named("sources.merge_pruned")
        get, put = named("tracking.get"), named("tracking.put")
        secs = [b.seconds for b in batches]
        self.layer.update(
            {
                "runner.cycle_p50_s": pct(secs, 50),
                "runner.cycle_p99_s": pct(secs, 99),
                "runner.self_s_per_cycle": statistics.fmean(
                    [own[s["id"]] for s in spans if s["name"] == probes.CYCLE and "batch_seconds" in s] or [0.0]
                ),
                "runner.jobs_per_cycle": jobs / cycles,
                "runner.backlog_end": backlog,
                "extractors.busy_s": busy("extractors."),
                "extractors.rows": sum(s["rows"] for s in ext),
                "extractors.jobs_per_call": sum(s["jobs"] for s in ext) / max(1, len(ext)),
                "extractors.empty_poll_ratio": sum(s["rows"] == 0 for s in ext) / max(1, len(ext)),
                "transformers.busy_s": busy("transformers."),
                "loaders.busy_s": busy("loaders."),
                "loaders.jobs_per_call": sum(s["jobs"] for s in lds) / max(1, len(lds)),
                "sources.write_s": busy("sources.write"),
                "sources.rmw_s": busy("sources.rmw"),
                "sources.merge_pruned_s": busy("sources.merge_pruned"),
                "sources.files_touched_ratio": sum(s["touched"] for s in pruned) / max(1, sum(s["total"] for s in pruned)),
                "sources.bytes_written_per_row": sum(s.get("bytes", 0) for s in named("sources.")) / max(1, rows),
                "sources.rollup_write_s": busy("sources.rollup_write"),
                "tracking.get_s": busy("tracking.get", max(1, len(get))),
                "tracking.put_s": busy("tracking.put", max(1, len(put))),
            }
        )
        for p in ("create", "append", "merge", "pruned"):
            self.layer[f"loaders.path.{p}"] = sum(s["path"] == p for s in lds)
        self.dump["spans"] = spans
        self.dump["layers"] = probes.layer_summary(spans)


def _files(root: str, table: str) -> tuple[str, set[int]] | None:
    d = os.path.realpath(os.path.join(root, f"{table}.parquet"))
    if not os.path.isdir(d):
        return None
    return d, {e.inode() for e in os.scandir(d) if e.name.endswith(".parquet")}


def _part_name_len_max(root: str, table: str) -> int:
    """Bytes in the longest part-file name of the table's current version."""
    d = os.path.realpath(os.path.join(root, f"{table}.parquet"))
    return max((len(e.name.encode()) for e in os.scandir(d) if e.name.endswith(".parquet")), default=0)


def _classify(before, after) -> list:
    """[path, rewritten part-files, part-files before] from the files alone:
    a new table, new files in the same version (append), or a new version
    that carries unchanged part-files forward by hardlink (rewrite)."""
    if before is None:
        return ["create", 0, 0]
    if after[0] == before[0]:
        return ["append", 0, 0]
    total = len(before[1])
    return ["rewrite", total - len(before[1] & after[1]), total]


def _probe_class(path: str | None, touched: list[dict], disk: list) -> list:
    """The probe's view of one load in ``_classify`` terms."""
    if path in ("create", "append"):
        return [path, 0, 0]
    if path == "pruned" and touched:
        return ["rewrite", touched[0]["touched"], touched[0]["total"]]
    return ["rewrite", disk[2], disk[2]] if path == "merge" else [path, None, None]


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pa.Table):
            p = checks.canon(p, sorted(p.column_names)).to_csv(index=False)
        h.update(repr(p).encode())
    return h.hexdigest()


def _drain_round(m: Migrator, tracer) -> tuple[float, list[tuple[float, int]]]:
    """One full closed-loop drain; returns its wall time and, per
    committed batch, (seconds from drain start to offset commit, rows)."""
    t0 = time.time()
    p0 = time.perf_counter()
    with tracer.span("bench.round") if tracer is not None else nullcontext():
        m.run_until_drained()
    wall = time.perf_counter() - p0
    commits = [(c[0] - t0, b.rows) for c, b in zip(m.store.commits, m.metrics.batches)]
    return wall, commits


class DrainWorkload(Workload):
    """Closed-loop drain in rounds: each round replicates the same
    generated backlog from scratch, and rounds repeat until the timed
    drain walls add up to ``seconds``."""

    table = ""
    warm_rounds = 0

    def base(self) -> str:
        return self.path("base")

    def build(self, root: str, tracer=None) -> Migrator:
        raise NotImplementedError

    def check_round(self, root: str, m: Migrator) -> None:
        raise NotImplementedError

    def run(self) -> None:
        # warm-up: untimed rounds, the first one cold; round walls keep
        # falling for ~15 s of drains as the JVM compiles the planner
        t = time.perf_counter()
        for k in range(self.warm_rounds):
            warm = self.path(f"warm{k}")
            gen.link_tree(self.base(), warm)
            m = self.build(warm)
            m.run_until_drained()
            self.check_round(warm, m)
            shutil.rmtree(warm)
        self.warmup_s = time.perf_counter() - t
        self.construct_s.clear()  # the warm-up's construction was cold

        tracer = self.tracer("timed")
        j0 = tracer.job_mark() if tracer else 0
        walls, rates, p50, p99, batches, rows, i = [], [], [], [], [], 0, 0
        while sum(walls) < self.seconds:
            root = self.path(f"r{i}")
            gen.link_tree(self.base(), root)
            m = self.build(root, tracer)
            wall, commits = _drain_round(m, tracer)
            lag = np.repeat([s for s, _ in commits], [r for _, r in commits])
            walls.append(wall)
            rates.append(len(lag) / wall)
            p50.append(pct(lag, 50))
            p99.append(pct(lag, 99))
            rows += len(lag)
            batches += m.metrics.batches
            self.attempted += len(m.metrics.batches) + len(m.errors)
            self.errors += len(m.errors)
            self.note_error(m)
            self.check_round(root, m)
            name_len = _part_name_len_max(os.path.join(root, "replica"), self.table)
            shutil.rmtree(root)
            i += 1
        # per-round figures, then the median round: the first timed rounds
        # still run faster as the JVM keeps compiling
        self.e2e = {
            "rows_per_s": statistics.median(rates),
            "lag_p50_s": statistics.median(p50),
            "lag_p99_s": statistics.median(p99),
        }
        self.dump["rounds"] = {"walls": walls, "rows_per_s": rates, "lag_p50_s": p50, "lag_p99_s": p99}
        if tracer is not None:
            self.cdc_layers(tracer, batches, tracer.job_mark() - j0, rows, 0)
            self.layer["sources.part_name_len_max"] = name_len
            self.parity(self.base(), self.build, self.table)


class SnapshotAppend(DrainWorkload):
    """Initial copy of a generated table: ``sequential`` extractor at
    batch size 1000 into an empty target (create, then appends)."""

    name = "snapshot_append"
    table = "orders"
    warm_rounds = 4

    def prepare(self) -> None:
        inp = gen.snapshot(self.seed, SNAP_ROWS)
        gen.write_dir(self.path("base", gen.DB), self.table, inp["source"])
        self.expected = checks.canon(inp["source"], "id")
        self.props = inp["props"]

    def build(self, root: str, tracer=None) -> Migrator:
        spec = IterationSpec(source_table=self.table, source_key="id", target_table=self.table, bootstrap=True)
        return self.migrator(
            os.path.join(root, gen.DB), os.path.join(root, "replica"), os.path.join(root, "trk"),
            spec, Parameters(batch_size=gen.BATCH), tracer,
        )

    def check_round(self, root: str, m: Migrator) -> None:
        got = checks.read_table(os.path.join(root, "replica"), self.table)
        ok, why = checks.same(checks.canon(got, "id"), self.expected) if got is not None else (False, "no target")
        self.checks.add("snapshot.target", ok, why)
        pos = TrackingStore(m.store.root).get(gen.DB, self.table).sequential_position
        self.checks.add("snapshot.position", pos == SNAP_ROWS, f"{pos} != {SNAP_ROWS}")


class QueueBacklog(DrainWorkload):
    """A pre-filled ``MigratorRecordQueue`` of UPDATE/REMOVE entries
    drained by the ``queue`` extractor into a pre-seeded replica through
    the ``default`` loader, with the post-load queue cleanup."""

    name = "queue_backlog"
    table = "items"
    warm_rounds = 4
    queue = "MigratorRecordQueue"

    def prepare(self) -> None:
        inp = gen.queue(self.seed, QUEUE_TARGET, QUEUE_ENTRIES)
        gen.write_dir(self.path("base", "replica"), self.table, inp["target"], parts=inp["target_files"])
        gen.write_dir(self.path("base", gen.DB), self.table, inp["source"])
        gen.write_dir(self.path("base", gen.DB), self.queue, inp["queue"])
        self.expected = checks.queue_oracle(inp["target"], inp["source"], inp["queue"])
        self.props = inp["props"]

    def build(self, root: str, tracer=None) -> Migrator:
        spec = IterationSpec(
            source_table=self.table, source_key="id", target_table=self.table, merge_key="id", extractor="queue"
        )
        return self.migrator(
            os.path.join(root, gen.DB), os.path.join(root, "replica"), os.path.join(root, "trk"),
            spec, Parameters(batch_size=gen.BATCH), tracer,
        )

    def check_round(self, root: str, m: Migrator) -> None:
        got = checks.read_table(os.path.join(root, "replica"), self.table)
        ok, why = checks.same(checks.canon(got, "id"), self.expected) if got is not None else (False, "no target")
        self.checks.add("queue.target", ok, why)
        left = checks.read_table(os.path.join(root, gen.DB), self.queue)
        self.checks.add("queue.empty", left is not None and left.num_rows == 0, f"{left.num_rows if left else None} left")


class UpsertStream(Workload):
    """Open loop: changes fall due on a fixed schedule; a continuous
    ``Migrator.start()`` runner polls them with the ``timestamp``
    extractor (``only_past``) and applies them through the ``pruned``
    loader with one ``sum`` rollup."""

    name = "upsert_stream"
    table = "events"

    def prepare(self) -> None:
        # the schedule runs on past the window, so the window's last
        # changes wait in an ordinary cycle rather than a short tail one
        span = max(STREAM_WARM_S, STREAM_LEAD_S + self.seconds) + STREAM_DRAIN_S
        self.inp = gen.stream(self.seed, STREAM_TARGET, STREAM_RATE, span)
        gen.write_dir(self.path("base", "replica"), self.table, self.inp["target"], parts=self.inp["target_files"])
        os.makedirs(self.path("base", gen.DB))
        self.props = self.inp["props"]

    def spec(self) -> IterationSpec:
        return IterationSpec(
            source_table=self.table, source_key="updated_at", merge_key="id", target_table=self.table,
            extractor="timestamp", loader="pruned", bootstrap=True, rollups=[dict(ROLLUP)],
        )

    def build(self, root: str, tracer=None, batch: int = gen.BATCH) -> Migrator:
        params = Parameters(batch_size=batch, only_past=True, sleep_between_runs=STREAM_SLEEP)
        return self.migrator(
            os.path.join(root, gen.DB), os.path.join(root, "replica"), os.path.join(root, "trk"),
            self.spec(), params, tracer,
        )

    def write_changes(self, root: str, inp: dict, idx, t0_us: int, part: str) -> pa.Table:
        rows = gen.stream_rows(inp["changes"], idx, t0_us)
        gen.write_dir(os.path.join(root, gen.DB), self.table, rows, part_prefix=part)
        return rows

    def check_outputs(self, root: str, inp: dict, changes: pa.Table, m: Migrator, tag: str) -> None:
        replica = os.path.join(root, "replica")
        want = checks.latest_oracle(inp["target"], changes)
        got = checks.read_table(replica, self.table)
        ok, why = checks.same(checks.canon(got, "id"), want) if got is not None else (False, "no target")
        self.checks.add(f"{tag}.target", ok, why)
        roll = checks.rollup_read(replica, f"{self.table}__rollup_{ROLLUP['name']}", "grp")
        ok, why = checks.same(roll, checks.rollup_oracle(want, "grp", "amount")) if roll is not None else (False, "no rollup")
        self.checks.add(f"{tag}.rollup", ok, why)
        pos = TrackingStore(m.store.root).get(gen.DB, self.table).timestamp_position
        last = int(changes.column("updated_at").cast(pa.int64()).to_numpy().max())
        self.checks.add(f"{tag}.position", pos is not None and _us(pos) == last, f"{pos} vs {last}")

    def prime(self, root: str, m: Migrator) -> pa.Table:
        """One drain of the changes due before the stream starts; it
        builds the rollup table, so every streamed cycle takes the
        staged-delta path."""
        rows = self.write_changes(root, self.inp, slice(0, self.inp["priming"]), _now_us(), "prime")
        m.run_until_drained()
        return rows

    def stream_from(self, root: str, start_us: int) -> pa.Table:
        """The schedule after the priming changes, due from ``start_us``."""
        return self.write_changes(root, self.inp, slice(self.inp["priming"], None), start_us, "part")

    def run(self) -> None:
        inp = self.inp
        # construction is timed four times, each on a fresh copy whose
        # bootstrap reads the replica; the last copy is the one measured
        for k in range(2):
            gen.link_tree(self.path("base"), self.path(f"bind{k}"))
            self.build(self.path(f"bind{k}"))
            shutil.rmtree(self.path(f"bind{k}"))

        # warm-up: a throwaway replica streams for STREAM_WARM_S while the
        # JVM compiles the cycle's code (cycles keep getting faster for
        # about ten of them); the measured replica starts with fresh
        # part-file names (see STREAM_WARM_S)
        t = time.perf_counter()
        warm = self.path("warm")
        gen.link_tree(self.path("base"), warm)
        w = self.build(warm)
        self.prime(warm, w)
        self.stream_from(warm, _now_us())
        w.start()
        time.sleep(STREAM_WARM_S)
        w.quit()
        self.attempted += len(w.metrics.batches) + len(w.errors)
        self.errors += len(w.errors)
        self.note_error(w)
        shutil.rmtree(warm)

        root = self.path("run")
        gen.link_tree(self.path("base"), root)
        m = self.build(root)
        prime = self.prime(root, m)

        # the schedule starts STREAM_LEAD_S before the window opens, so
        # the window's first changes meet a runner already cycling at its
        # own pace rather than one idling on empty polls. A traced run
        # traces the lead-in and tail cycles too.
        tracer = self.tracer("timed")
        if tracer is not None:
            probes.install(m, tracer, self.probes)
        n_commits, n_batches = len(m.store.commits), len(m.metrics.batches)
        start_us = _now_us() + 500_000
        stream = self.stream_from(root, start_us)
        t0_us = start_us + int(STREAM_LEAD_S * 1e6)
        end_us = t0_us + int(self.seconds * 1e6)
        due = stream.column("updated_at").cast(pa.int64()).to_numpy()
        due = due[(due >= t0_us) & (due < end_us)]
        self.props["window_rows"] = len(due)
        j0 = tracer.job_mark() if tracer else 0
        m.start()
        time.sleep(max(0.0, t0_us / 1e6 - time.time()))
        self.warmup_s = time.perf_counter() - t
        time.sleep(max(0.0, end_us / 1e6 - time.time()))
        deadline = time.time() + STREAM_DRAIN_S
        while time.time() < deadline and _committed_us(m) < due[-1]:
            time.sleep(0.05)
        m.quit()
        jobs = tracer.job_mark() - j0 if tracer else 0

        commits = [(c[0], _us(c[1].timestamp_position)) for c in m.store.commits[n_commits:]]
        at = np.array([c[0] for c in commits])
        pos = np.array([c[1] for c in commits], dtype=np.int64)
        idx = np.searchsorted(pos, due, side="left")  # first commit covering each change
        done = idx < len(pos)
        commit_s = np.where(done, at[np.minimum(idx, len(at) - 1)] if len(at) else 0.0, time.time())
        lag = commit_s - due / 1e6
        batches = m.metrics.batches[n_batches:]
        rows = sum(b.rows for b in batches)
        self.checks.add("stream.all_committed", bool(done.all()), f"{int((~done).sum())} uncommitted")
        # service rate of the cycles that commit the window's changes
        cover = batches[int(idx.min()) : int(idx.max()) + 1]
        self.attempted += len(batches) + len(m.errors)
        self.errors += len(m.errors)
        self.note_error(m)
        self.e2e = {
            "rows_per_s": sum(b.rows for b in cover) / max(1e-9, sum(b.seconds for b in cover)),
            "lag_p50_s": pct(lag, 50),
            "lag_p99_s": pct(lag, 99),
        }
        backlog = int((commit_s > end_us / 1e6).sum())
        self.dump["stream"] = {
            "samples": int(len(lag)), "backlog_end": backlog, "window_cycles": len(cover),
            "cycle_s": [round(b.seconds, 3) for b in batches],
        }
        # the replica holds every change up to the committed position
        last = _us(TrackingStore(m.store.root).get(gen.DB, self.table).timestamp_position)
        applied = stream.filter(pc.less_equal(stream.column("updated_at").cast(pa.int64()), last))
        self.check_outputs(root, inp, pa.concat_tables([prime, applied]), m, "stream")
        self.layer["sources.part_name_len_max"] = _part_name_len_max(os.path.join(root, "replica"), self.table)
        shutil.rmtree(root)
        if tracer is not None:
            self.cdc_layers(tracer, batches, jobs, rows, backlog)
            par = self.path("parity-base")
            gen.link_tree(self.path("base"), par)
            self.write_changes(par, inp, slice(0, 1000), _now_us() - 3_600_000_000, "part")
            self.parity(par, lambda r, tr: self.build(r, tr, batch=250), self.table)


def _now_us() -> int:
    return int(time.time() * 1e6)


def _us(iso: str) -> int:
    dt = datetime.fromisoformat(iso)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _committed_us(m: Migrator) -> int:
    c = m.store.commits
    return _us(c[-1][1].timestamp_position) if c else 0


CURATE_LAYERS = (
    "textops.quality_s dedup.exact_s dedup.minhash_s dedup.clusters_s mixture.sample_s "
    "dedup.pairs_verified dedup.jobs trace.overhead_ratio"
).split()


class CurateCorpus(Workload):
    """Batch curation: quality_score -> exact_dedup -> minhash_lsh_pairs
    -> duplicate_clusters_star -> representative manifest ->
    mixture_plan + stratified sample, repeated pass after pass."""

    name = "curate_corpus"
    layers = CURATE_LAYERS

    def prepare(self) -> None:
        self.inp = gen.corpus(self.seed, CORPUS_DOCS)
        self.mini = gen.corpus(self.seed, 400)
        gen.write_dir(self.path("corpus"), "docs", self.inp["docs"])
        gen.write_dir(self.path("warm"), "docs", self.mini["docs"])
        self.props = self.inp["props"]
        docs = self.inp["docs"].to_pandas()
        self.docs = docs
        self.junk = set(self.inp["junk"])

    def one_pass(self, root: str, tracer=None) -> dict:
        span = tracer.span if tracer is not None else (lambda *a, **k: nullcontext())
        t = time.perf_counter()
        docs = ParquetSource(root).table(self.spark, "docs")
        self.construct_s.append(time.perf_counter() - t)
        with span("textops.quality", jobs=True):
            kept = docs.join(quality_score(docs).filter("keep").select("doc_id"), "doc_id").cache()
            kept_ids = sorted(r[0] for r in kept.select("doc_id").collect())
        with span("dedup.exact", jobs=True):
            groups = exact_dedup(kept).cache()
            group_rows = {(r[0], r[1]) for r in groups.select("keep_doc_id", "n_copies").collect()}
            survivors = kept.join(groups.selectExpr("keep_doc_id AS doc_id"), "doc_id").cache()
            survivors.count()
        with span("dedup.minhash", jobs=True):
            pairs = minhash_lsh_pairs(survivors).cache()
            pair_rows = sorted(tuple(r) for r in pairs.collect())
        with span("dedup.clusters", jobs=True):
            clusters = duplicate_clusters_star(pairs).cache()
            cluster_of = {r[0]: r[1] for r in clusters.select("doc_id", "cluster_id").collect()}
            manifest = survivors.join(
                clusters.filter("doc_id != cluster_id").select("doc_id"), "doc_id", "left_anti"
            ).cache()
            manifest_rows = sorted((r[0], r[1]) for r in manifest.select("doc_id", "source").collect())
        total = len(manifest_rows) // 2
        with span("mixture.sample", jobs=True):
            plan = sorted(tuple(r) for r in mixture_plan(manifest).collect())
            sample = sorted(tuple(r) for r in stratified_sample(manifest, total).collect())
        for df in (kept, groups, survivors, pairs, clusters, manifest):
            df.unpersist()
        return {
            "kept": kept_ids,
            "groups": group_rows,
            "pairs": pair_rows,
            "clusters": cluster_of,
            "manifest": manifest_rows,
            "plan": plan,
            "sample": sample,
            "total": total,
        }

    def check_pass(self, out: dict, docs, planted, junk, tag: str) -> float:
        """Checks one pass against pandas recomputations; returns the
        planted near-duplicate recall."""
        ids = set(docs["doc_id"])
        self.checks.add(f"{tag}.quality", out["kept"] == sorted(ids - junk))
        kept = docs[docs["doc_id"].isin(out["kept"])]
        self.checks.add(f"{tag}.exact", out["groups"] == checks.exact_groups(kept))
        text = dict(zip(docs["doc_id"], docs["text"]))
        bad = [(a, b) for a, b, j in out["pairs"] if j < 0.3 or abs(j - checks.jaccard(text[a], text[b])) > 1e-12]
        self.checks.add(f"{tag}.pairs", not bad, f"{len(bad)} pairs fail exact Jaccard")
        keeper = {}
        for d, t in zip(kept["doc_id"], kept["text"]):
            n = checks.normalize(t)
            keeper[n] = min(keeper.get(n, d), d)
        found = 0
        for a, b in planted:
            ka, kb = keeper[checks.normalize(text[a])], keeper[checks.normalize(text[b])]
            found += out["clusters"].get(ka, ka) == out["clusters"].get(kb, kb)
        recall = found / max(1, len(planted))
        self.checks.add(f"{tag}.recall", recall >= 0.9, f"recall {recall:.3f}")
        sizes: dict[str, int] = {}
        for _, s in out["manifest"]:
            sizes[s] = sizes.get(s, 0) + 1
        got: dict[str, int] = {}
        for _, s in out["sample"]:
            got[s] = got.get(s, 0) + 1
        self.checks.add(f"{tag}.sample", got == {k: v for k, v in checks.hamilton(sizes, out["total"]).items() if v})
        return recall

    def run(self) -> None:
        t = time.perf_counter()
        mini = self.mini
        out = self.one_pass(self.path("warm"))
        self.check_pass(out, mini["docs"].to_pandas(), mini["planted_near"], set(mini["junk"]), "warmup")
        self.warmup_s = time.perf_counter() - t
        self.construct_s.clear()

        tracer = self.tracer("timed")
        walls, first, recalls = [], None, []
        while sum(walls) < self.seconds:
            t = time.perf_counter()
            with tracer.span("bench.pass") if tracer is not None else nullcontext():
                out = self.one_pass(self.path("corpus"), tracer)
            walls.append(time.perf_counter() - t)
            self.attempted += 1
            recalls.append(self.check_pass(out, self.docs, self.inp["planted_near"], self.junk, "curate"))
            first = first or out
            self.checks.add("curate.repeatable", out == first)
        n = self.inp["docs"].num_rows
        self.e2e = {
            "rows_per_s": n * len(walls) / sum(walls),
            "lag_p50_s": pct(walls, 50),
            "lag_p99_s": pct(walls, 99),
        }
        self.dump["passes"] = {"walls": walls, "recall": recalls, "pairs": len(first["pairs"])}
        if tracer is not None:
            spans = tracer.finish()
            passes = len(walls)

            def busy(name):
                return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / passes

            for metric, name in (
                ("textops.quality_s", "textops.quality"),
                ("dedup.exact_s", "dedup.exact"),
                ("dedup.minhash_s", "dedup.minhash"),
                ("dedup.clusters_s", "dedup.clusters"),
                ("mixture.sample_s", "mixture.sample"),
            ):
                self.layer[metric] = busy(name)
            self.layer["dedup.pairs_verified"] = len(first["pairs"])
            self.layer["dedup.jobs"] = sum(s["jobs"] for s in spans if s["name"].startswith("dedup.")) / passes
            self.dump["spans"] = spans
            self.dump["layers"] = probes.layer_summary(spans)
            t = time.perf_counter()
            off = self.one_pass(self.path("corpus"))
            t_off = time.perf_counter() - t
            ptr = probes.Tracer(self.spark, "parity")
            t = time.perf_counter()
            on = self.one_pass(self.path("corpus"), ptr)
            t_on = time.perf_counter() - t
            self.checks.add("parity.outputs", off == on == first)
            self.layer["trace.overhead_ratio"] = t_on / t_off


WORKLOADS = {w.name: w for w in (SnapshotAppend, QueueBacklog, UpsertStream, CurateCorpus)}
