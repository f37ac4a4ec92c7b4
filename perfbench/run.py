"""Transcript-pipeline benchmark.

Drives the public entry ``wolf_quake_spark.plans.pipeline.run_resumable``
over benchmark-generated transcripts, checks every pass against an
independent oracle, and prints its metrics.  Run it from the repository root:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 10 --trace 0

One run is one driver process at ``local[<cores>]`` with one client (a closed
loop: one pipeline pass at a time):

1. set-up: ``build_session`` and the cold first drain (``setup_s``);
2. one warm-up drain, checked but not timed;
3. until ``--seconds`` have passed: a simulated crash (the last half of the
   manifest's batch records are dropped) and the ``run_resumable`` call that
   recovers from it (``recover_s``), then a steady drain from an empty
   output directory to a complete manifest (``turns_per_s``,
   ``peak_rss_mb``).  Every ``run_batch`` call is timed (``batch_s``).

Each drain and recovery is checked: manifest sink totals and the read-back
aggregate sinks against the oracle, and a recovery's batch records against
the drain it recovered.  ``--trace 1`` instead runs a traced iteration
between two untraced drains, profiles each layer over one batch (twice,
checking that counts repeat) and prints the per-layer metrics (see
tracing.py, NOTES.md).

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (passes) and ``metrics``.  The exit code is 0 only if every pass
was correct.  Everything is written under ``.perfbench/`` in the repository
root; generated inputs stay there (keyed by workload and seed), everything
else is removed when the run ends, and every process the run started (the
Spark JVM and the Python workers below it) has ended before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# A 2 GB driver heap holds these inputs with room to spare and keeps the
# benchmark small next to other work on the machine.
DRIVER_MEMORY = "2g"
# A recovery with nothing to re-run (one-batch workloads) only lists, plans
# and skips, well under a second; it is repeated and its median kept.
SKIP_REPS = 15

E2E_UNITS = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "batch_s.p50": "s",
    "batch_s.p75": "s",
    "recover_s": "s",
}
# peak_rss_mb is a per-layer metric because it is bimodal between runs of
# one seed (the driver JVM settles at ~1.4 GB or ~2.7 GB resident), which no
# end-to-end bound could hold; untraced runs still print it.
LAYER_UNITS = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.self_s": "s",
    "scan.input_bytes": "bytes",
    "scan.tasks": "count",
    "extract.self_s": "s",
    "extract.rows_in": "count",
    "extract.rows_out": "count",
    "extract.yield": "ratio",
    "sessionize.self_s": "s",
    "sessionize.shuffle_bytes": "bytes",
    "sessionize.spill_bytes": "bytes",
    "sessionize.max_task_s": "s",
    "sessionize.task_skew": "ratio",
    "enrich.self_s": "s",
    "route.self_s": "s",
    "route.rows_out": "count",
    "validate.self_s": "s",
    "validate.shuffle_bytes": "bytes",
    "validate.rows_out": "count",
    "aggregates.self_s": "s",
    "aggregates.shuffle_bytes": "bytes",
    "aggregates.rows_out": "count",
    "catalog.write_s": "s",
    "catalog.calls": "count",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "pipeline.jobs_per_batch": "count",
    "pipeline.stages_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.persist_bytes": "bytes",
    "pipeline.overhead_s": "s",
    "checkpoint.record_s": "s",
    "checkpoint.manifest_bytes": "bytes",
    "checkpoint.skip_s": "s",
    "jvm.gc_s": "s",
    "spill_bytes": "bytes",
    "trace.overhead_s": "s",
}
# Count metrics that must repeat exactly between the two layer profiles of
# a traced run (times and the manifest, which records wall times, do not).
PROFILE_COUNTS = (
    "extract.rows_out", "route.rows_out", "validate.rows_out", "aggregates.rows_out",
    "pipeline.persist_bytes", "scan.tasks",
    "sessionize.shuffle_bytes", "sessionize.spill_bytes",
    "validate.shuffle_bytes", "aggregates.shuffle_bytes",
)


def quantile(values: list[float], q: int) -> float:
    """The q-th quartile (1..3) as ``statistics.quantiles(n=4)`` gives it."""
    return values[0] if len(values) == 1 else statistics.quantiles(values, n=4)[q - 1]


# ---------------------------------------------------------------------------
# Memory sampling from outside the JVM and the Python workers
# ---------------------------------------------------------------------------

def _descendants() -> list[int]:
    """Every live descendant of this process (the driver JVM, the PySpark
    daemon and its workers), read from /proc; zombies are left out."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(d))
    found, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _tree_rss() -> int:
    """Resident bytes of every descendant of this process."""
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


# ---------------------------------------------------------------------------
# Process hygiene: nothing this run starts outlives it
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    PySpark worker whose parent exits becomes this process's child and can
    be waited for instead of living on under init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become child subreaper; orphans are found "
              "only while their parent lives", file=sys.stderr)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace: float = 10.0) -> None:
    """Stop the JVM that PySpark launched and every process below it, and
    wait until each has ended.  ``SparkSession.stop`` leaves the gateway JVM
    running until the Python process exits, and it then dies on its own,
    after this process is gone; so close its stdin (the JVM exits on EOF),
    wait for it, and then wait for, terminate or kill whatever is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(grace)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        now = time.monotonic()
        if now >= deadline:
            sig = signal.SIGTERM if now < deadline + grace else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s and
    keeps the peak over each ``window``."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self._lock = threading.Lock()
        self._peak: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = _tree_rss()
            with self._lock:
                if self._peak is not None:
                    self._peak = max(self._peak, rss)

    @contextmanager
    def window(self, peaks_mb: list[float]):
        with self._lock:
            self._peak = _tree_rss()
        try:
            yield
        finally:
            rss = _tree_rss()
            with self._lock:
                peaks_mb.append(max(self._peak, rss) / 2**20)
                self._peak = None

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Passes and their checks
# ---------------------------------------------------------------------------

class Runner:
    def __init__(self, spark, spec, input_dir: str, turns: int, expected, out_dir: str,
                 tracer) -> None:
        self.spark = spark
        self.spec = spec
        self.turns = turns
        self.input_dir = input_dir
        self.exp = expected
        self.out = out_dir
        self.tracer = tracer
        self.n_batches = -(-spec.n_files // spec.files_per_batch)
        self.attempted = 0
        self.failed = 0
        self.drained: dict[str, dict] = {}  # batch records of the latest drain

    def _run(self) -> float:
        from wolf_quake_spark.plans.pipeline import run_resumable

        t0 = time.monotonic()
        run_resumable(self.spark, self.input_dir, self.out, files_per_batch=self.spec.files_per_batch)
        return time.monotonic() - t0

    def drain(self) -> float | None:
        """Empty output dir → complete manifest; returns wall seconds, or
        None if the pass raised or disagreed with the oracle."""
        shutil.rmtree(self.out, ignore_errors=True)
        wall = self._attempt("drain", self._run)
        if wall is not None:
            self.drained = self._records()
        return wall

    def crash(self) -> int:
        """Drop the last half (rounded down) of the manifest's batch
        records, as if the process died before recording them; their sink
        directories stay behind and are overwritten by the recovery.
        Returns the number of records dropped."""
        path = os.path.join(self.out, "_manifest.json")
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        n = len(data["batches"])
        data["batches"] = data["batches"][: n - n // 2]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(data, f)
        return n // 2

    def recover(self) -> float | None:
        """Crash, then time the ``run_resumable`` call that recovers."""
        reps = 1 if self.crash() else SKIP_REPS
        return self._attempt(
            "recover", lambda: statistics.median(self._run() for _ in range(reps))
        )

    def _records(self) -> dict[str, dict]:
        from wolf_quake_spark.plans.checkpoint import Manifest

        return {r.batch_id: r.sink_counts for r in Manifest(self.out).records()}

    def _attempt(self, name: str, fn) -> float | None:
        self.attempted += 1
        try:
            wall = fn()
            problems = self.check(recovered=name == "recover")
        except Exception:  # a pass that raises is a failed pass; keep going
            traceback.print_exc()
            problems = [f"{name} raised"]
        if problems:
            self.failed += 1
            print(f"perfbench: {name} pass failed: " + "; ".join(problems), file=sys.stderr)
            return None
        return wall

    def check(self, recovered: bool) -> list[str]:
        """Manifest totals and read-back aggregate sinks against the oracle;
        after a recovery, also its batch records against the fresh drain."""
        from pyspark.sql import functions as F

        from wolf_quake_spark.plans.checkpoint import Manifest
        from wolf_quake_spark.sources.catalog import SinkCatalog

        exp = self.exp
        problems = []
        records = self._records()
        if len(records) != self.n_batches:
            problems.append(f"{len(records)} batch records, expected {self.n_batches}")
        if recovered and records != self.drained:
            problems.append("recovered batch records differ from the fresh drain")
        totals = Manifest(self.out).totals()
        for sink, n in exp.sinks.items():
            if totals.get(sink) != n:
                problems.append(f"sink {sink}: manifest {totals.get(sink)} rows, oracle {n}")

        cat = SinkCatalog(self.spark, self.out)
        n, kills = cat.read("game_totals").agg(F.count(F.lit(1)), F.sum("total_kills")).first()
        if (n, kills) != (exp.sinks["game_totals"], exp.total_kills):
            problems.append(f"game_totals rows/kills {n}/{kills}, oracle "
                            f"{exp.sinks['game_totals']}/{exp.total_kills}")
        hist = cat.read("mod_histogram").groupBy("mod_name").agg(
            F.count(F.lit(1)).alias("rows"), F.sum("kills").alias("kills")
        ).collect()
        if sum(r["rows"] for r in hist) != exp.sinks["mod_histogram"] or {
            r["mod_name"]: r["kills"] for r in hist
        } != exp.kills_by_mod:
            problems.append("mod_histogram kills per mod_name differ from the oracle")
        row = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in
                   ("conv_id", "game_id", "rank", "client_id", "name", "score")]
        )
        n, score, crc = cat.read("player_ranking").agg(
            F.count(F.lit(1)), F.sum("score"), F.sum(F.crc32(row.cast("binary")))
        ).first()
        if (n, score, crc) != (exp.sinks["player_ranking"], exp.score, exp.roster_crc):
            problems.append(f"player_ranking rows/score/hash {n}/{score}/{crc}, oracle "
                            f"{exp.sinks['player_ranking']}/{exp.score}/{exp.roster_crc}")
        return problems


# ---------------------------------------------------------------------------
# Set-up
# ---------------------------------------------------------------------------

def _isolate(run_dir: str) -> None:
    """Keep every temporary file of this run under ``run_dir`` and make the
    package importable by Spark's Python workers (they inherit this
    environment through the JVM)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]


def _inputs(spec, seed: int):
    """Generated input dir for (workload, seed), written once and reused."""
    lay = gen.layout(spec, seed)
    path = os.path.join(WORK, "inputs", f"{spec.name}-{seed}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(path), prefix=".gen-")
        gen.write_inputs(spec, lay, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path, lay


def _session(run_dir: str, cores: int, trace: bool):
    from wolf_quake_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
    }
    if trace:
        from tracing import event_log_conf

        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    return build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


# ---------------------------------------------------------------------------
# The two kinds of run
# ---------------------------------------------------------------------------

def measure(runner: Runner, seconds: float, setup_s: float) -> dict[str, float]:
    """One warm-up drain, then untraced steady iterations until ``seconds``
    have passed.  The warm-up is checked but not timed: the first pass
    after the cold one still runs 15-40 % slower while the JIT catches up,
    and whether a run fits one or two timed iterations would otherwise
    decide how much of that a run's median sees."""
    rates, recovers, peaks = [], [], []
    sampler = RssSampler()
    try:
        with runner.tracer:
            runner.drain()
            runner.tracer.batches.clear()
            deadline = time.monotonic() + seconds
            while True:
                wall = runner.recover()
                if wall is not None:
                    recovers.append(wall)
                with sampler.window(peaks):
                    wall = runner.drain()
                if wall is not None:
                    rates.append(runner.turns / wall)
                if time.monotonic() >= deadline:
                    break
    finally:
        sampler.close()
    batch = [b[3] for b in runner.tracer.batches]
    if not (rates and recovers and batch):
        return {}
    return {
        "turns_per_s": statistics.median(rates),
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(peaks),
        "batch_s.p50": statistics.median(batch),
        "batch_s.p75": quantile(batch, 3),
        "recover_s": statistics.median(recovers),
    }


def trace_run(spark, runner: Runner, start_s: float, cold_s: float, run_dir: str) -> dict:
    """Untraced, traced and untraced iterations, then two layer profiles
    over the first batch; per-layer metrics come from the wrappers, the
    profiles and the event log."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from tracing import EventLog, Tracer, log_metrics, profile_layers
    from wolf_quake_spark.plans.checkpoint import plan_batches

    # untraced drains before and after the traced one, so JIT warm-up still
    # going on in the first steady passes does not pass for tracing cost
    runner.recover()
    plain, tracer = runner.tracer, Tracer(spark.sparkContext, full=True)
    peaks: list[float] = []
    sampler = RssSampler()
    try:
        with plain, sampler.window(peaks):
            before = runner.drain()
        with tracer:
            tracer.phase = "recover"
            t_rec = time.monotonic()
            rec_wall = runner.recover()
            rec_batches = [b for b in tracer.batches if b[0].startswith("recover")]
            skip_s = rec_batches[0][2] - t_rec if rec_batches else rec_wall
            tracer.phase = "drain"
            n_writes = len(tracer.writes)
            traced = runner.drain()
        written = [
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(runner.out)
            for f in files
            if not f.startswith(("_", "."))
        ]
        manifest_bytes = os.path.getsize(os.path.join(runner.out, "_manifest.json"))
        with plain, sampler.window(peaks):
            after = runner.drain()
    finally:
        sampler.close()
    if None in (before, rec_wall, traced, after):
        return {}
    untraced = (before + after) / 2

    first = plan_batches(spark.read.parquet(runner.input_dir).inputFiles(), runner.spec.files_per_batch)[0][1]
    paths = [urlparse(f).path for f in first]
    lines_in = sum(
        t.count("\n") + 1
        for p in paths
        for t in pq.read_table(p, columns=["text"]).column("text").to_pylist()
    )
    profiles = [profile_layers(spark, first, tag) for tag in ("p1", "p2")]
    spark.stop()
    log = EventLog(os.path.join(run_dir, "eventlog"))
    for tag, prof in zip(("p1", "p2"), profiles):
        prof.update(log_metrics(log, tag))
    if any(profiles[0][k] != profiles[1][k] for k in PROFILE_COUNTS):
        diff = {k: (profiles[0][k], profiles[1][k]) for k in PROFILE_COUNTS
                if profiles[0][k] != profiles[1][k]}
        print(f"perfbench: layer counts differ between profiles: {diff}", file=sys.stderr)
        runner.failed += 1
    runner.attempted += 1
    prof = {k: min(p[k] for p in profiles) for k in profiles[0]}

    drain_batches = [b for b in tracer.batches if b[0].startswith("drain")]
    _, first_id, _, first_wall = drain_batches[0]
    first_writes = [w for b, w in tracer.writes[n_writes:] if b == first_id]
    per_batch = [log.groups[b[0]] for b in drain_batches]
    out = {
        "peak_rss_mb": statistics.median(peaks),
        "session.start_s": start_s,
        "scan.input_bytes": sum(os.path.getsize(p) for p in paths),
        "session.warmup_s": cold_s - untraced,
        "extract.rows_in": lines_in,
        "extract.yield": prof["extract.rows_out"] / lines_in,
        "catalog.write_s": sum(first_writes) - prof["persist_s"] - prof["noop_sinks_s"],
        "catalog.calls": len(tracer.writes) - n_writes,
        "catalog.files_written": len(written),
        "catalog.bytes_written": sum(written),
        "pipeline.jobs_per_batch": statistics.median(g.jobs for g in per_batch),
        "pipeline.stages_per_batch": statistics.median(g.stages for g in per_batch),
        "pipeline.tasks_per_batch": statistics.median(g.tasks for g in per_batch),
        "pipeline.overhead_s": first_wall - sum(first_writes),
        "checkpoint.record_s": statistics.median(tracer.records),
        "checkpoint.manifest_bytes": manifest_bytes,
        "checkpoint.skip_s": skip_s,
        "jvm.gc_s": log.total.gc_ms / 1000,
        "spill_bytes": log.total.spill,
        "trace.overhead_s": traced - untraced,
    }
    out.update({k: v for k, v in prof.items() if k in LAYER_UNITS})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wolf_quake_spark", "__init__.py")):
        print(f"perfbench: no wolf_quake_spark package under {ROOT}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an error, so the processes stop and run_dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        _isolate(run_dir)
        import oracle
        from tracing import Tracer

        spec = gen.SPECS[args.workload]
        input_dir, lay = _inputs(spec, args.seed)
        expected = oracle.expect(lay)
        cores = len(os.sched_getaffinity(0))

        t0 = time.monotonic()
        spark = _session(run_dir, cores, bool(args.trace))
        start_s = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            runner = Runner(spark, spec, input_dir, lay.n_turns, expected,
                            os.path.join(run_dir, "out"), Tracer(spark.sparkContext, full=False))
            cold = runner.drain()
            setup_s = start_s + (cold or 0.0)
            if args.trace:
                metrics = trace_run(spark, runner, start_s, cold or 0.0, run_dir)
                units = LAYER_UNITS
            else:
                metrics = measure(runner, args.seconds, setup_s)
                units = E2E_UNITS
        finally:
            spark.stop()
    finally:
        try:
            stop_processes()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    correct = runner.failed == 0 and cold is not None and set(units) <= set(metrics)
    for name, unit in {**E2E_UNITS, **LAYER_UNITS}.items():
        if name in metrics:
            print(f"{name:28s} {metrics[name]:>16.6g} {unit}")
    print(f"{'fail_ratio':28s} {runner.failed / runner.attempted:>16.6g} ratio "
          f"({runner.failed} of {runner.attempted} passes)")
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
