"""Per-layer tracing from outside the program.

Three sources, all installed or read from this file:

* ``Tracer`` wraps the public entry points the batch loop goes through
  (``plans.pipeline.run_batch``, ``SinkCatalog.write_batch_counted``,
  ``Manifest.record``), timing each call and putting every batch's Spark
  jobs in a job group of their own;
* ``profile_layers`` materializes each layer's public-function output over
  one batch of input as its own labelled job (``noop`` writes), the way
  ``scripts/profile_stages.py`` does: the prefixes scan → ``extract_events``
  → ``assign_games`` are timed cumulatively, then route, enrich, validate
  and aggregates run over the persisted sessionized frame;
* ``EventLog`` reads the Spark event log after the session stops and sums
  task metrics (tasks, shuffle bytes, spill, GC, task times) by job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

from wolf_quake_spark.data_model import EV_KILL
from wolf_quake_spark.operators.aggregates import game_totals, mod_histogram, player_ranking
from wolf_quake_spark.operators.enrich import enrich_mod
from wolf_quake_spark.operators.extract import extract_events
from wolf_quake_spark.operators.route import route
from wolf_quake_spark.operators.sessionize import assign_games
from wolf_quake_spark.operators.validate import orphan_references
from wolf_quake_spark.plans import checkpoint, pipeline
from wolf_quake_spark.sources import catalog


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for one plain-JSON event log file per application."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Group:
    """Task metrics summed over every stage run under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write: int = 0
    spill: int = 0
    gc_ms: int = 0
    # per stage: (shuffle bytes read, summed run ms, task durations in ms)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0, []]))

    def busiest_reducer(self) -> list[int]:
        """Task durations of the shuffle-reading stage with the most run
        time: the stage a window or aggregate over an exchange runs in."""
        reducers = [v for v in self.stage_tasks.values() if v[0] > 0]
        return max(reducers, key=lambda v: v[1])[2] if reducers else []


class EventLog:
    def __init__(self, log_dir: str) -> None:
        (name,) = os.listdir(log_dir)
        self.groups: dict[str, Group] = defaultdict(Group)
        self.total = Group()
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    self.groups[grp].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[e["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerStageCompleted":
                    self.groups[stage_group.get(e["Stage Info"]["Stage ID"])].stages += 1
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    grp = self.groups[stage_group.get(e["Stage ID"])]
                    for g in (grp, self.total):
                        self._add_task(g, e)

    @staticmethod
    def _add_task(g: Group, e: dict) -> None:
        m, info = e["Task Metrics"], e["Task Info"]
        g.tasks += 1
        g.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics", {})
        st = g.stage_tasks[e["Stage ID"]]
        st[0] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        st[1] += m.get("Executor Run Time", 0)
        st[2].append(info["Finish Time"] - info["Launch Time"])


class Tracer:
    """Wraps the batch loop's entry points while installed (``with``).

    With ``full=False`` only ``run_batch`` is timed, which the untraced
    runs need for ``batch_s``; no job groups are set and nothing else is
    wrapped."""

    def __init__(self, sc, full: bool) -> None:
        self.sc = sc
        self.full = full
        self.phase = "untraced"
        self.batches: list[tuple[str, str, float, float]] = []  # group, batch id, start, wall
        self.writes: list[tuple[str, float]] = []  # batch id, wall
        self.records: list[float] = []
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, wrap) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, wrap(orig))

    def __enter__(self) -> "Tracer":
        def run_batch(orig):
            def wrapped(transcripts, cat, batch_id, *a, **kw):
                group = f"{self.phase}:{len(self.batches)}"
                if self.full:
                    self.sc.setJobGroup(group, f"run_batch {batch_id}")
                t0 = time.monotonic()
                try:
                    return orig(transcripts, cat, batch_id, *a, **kw)
                finally:
                    self.batches.append((group, batch_id, t0, time.monotonic() - t0))
                    if self.full:
                        self.sc.setJobGroup("bench", "outside run_batch")
            return wrapped

        def write(orig):
            def wrapped(cat, df, sink, batch_id):
                t0 = time.monotonic()
                try:
                    return orig(cat, df, sink, batch_id)
                finally:
                    self.writes.append((batch_id, time.monotonic() - t0))
            return wrapped

        def record(orig):
            def wrapped(manifest, rec):
                t0 = time.monotonic()
                try:
                    return orig(manifest, rec)
                finally:
                    self.records.append(time.monotonic() - t0)
            return wrapped

        self._patch(pipeline, "run_batch", run_batch)
        if self.full:
            self._patch(catalog.SinkCatalog, "write_batch_counted", write)
            self._patch(checkpoint.Manifest, "record", record)
        return self

    def __exit__(self, *exc) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)


def _noop(df, group: str, sc) -> tuple[float, int]:
    """Materialize ``df`` in its own job group; returns (seconds, rows)."""
    sc.setJobGroup(group, group)
    obs = Observation()
    t0 = time.monotonic()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").format("noop").save()
    wall = time.monotonic() - t0
    return wall, int(obs.get["n"])


def profile_layers(spark, files: list[str], tag: str) -> dict[str, float]:
    """Self time and row counts of each layer over one batch of input
    files.  Job groups are ``<tag>:<layer>`` so two profiles in one
    session can be told apart in the event log."""
    sc = spark.sparkContext
    tr = spark.read.parquet(*files)
    g = lambda name: f"{tag}:{name}"  # noqa: E731
    out: dict[str, float] = {}
    t_scan, _ = _noop(tr, g("scan"), sc)
    t_ex, out["extract.rows_out"] = _noop(extract_events(tr), g("extract"), sc)
    t_ss, _ = _noop(assign_games(extract_events(tr)), g("sessionize"), sc)
    out["scan.self_s"] = t_scan
    out["extract.self_s"] = t_ex - t_scan
    out["sessionize.self_s"] = t_ss - t_ex

    sc.setJobGroup(g("persist"), "persist")
    t0 = time.monotonic()
    sess = assign_games(extract_events(tr)).persist(StorageLevel.DISK_ONLY)
    sess.count()
    out["persist_s"] = time.monotonic() - t0
    out["pipeline.persist_bytes"] = sum(
        r.diskSize() + r.memSize() for r in sc._jsc.sc().getRDDStorageInfo()
    )
    try:
        routed = route(sess, with_orphans=False)
        t_route = 0.0
        out["route.rows_out"] = 0
        for name, df in routed.items():
            t, n = _noop(df, g(f"route.{name}"), sc)
            t_route += t
            out["route.rows_out"] += n
        kill_rows = sess.filter(F.col("event_type") == EV_KILL).select(
            "conv_id", "turn_idx", "line_no", "killer_id", "victim_id", "mod_id", "game_id"
        )
        t_plain, _ = _noop(kill_rows, g("enrich.base"), sc)
        t_enriched, _ = _noop(enrich_mod(kill_rows), g("enrich"), sc)
        out["enrich.self_s"] = t_enriched - t_plain
        out["route.self_s"] = t_route - out["enrich.self_s"]
        out["validate.self_s"], out["validate.rows_out"] = _noop(
            orphan_references(sess), g("validate"), sc
        )
        out["aggregates.self_s"] = out["aggregates.rows_out"] = 0
        for agg in (game_totals, mod_histogram, player_ranking):
            t, n = _noop(agg(sess), g("aggregates"), sc)
            out["aggregates.self_s"] += t
            out["aggregates.rows_out"] += n
    finally:
        sess.unpersist()
        sc.setJobGroup("bench", "outside profile")
    out["noop_sinks_s"] = t_route + out["validate.self_s"] + out["aggregates.self_s"]
    return out


def log_metrics(log: EventLog, tag: str) -> dict[str, float]:
    """Counts, bytes, spill and task skew of one profile's job groups."""
    grp = lambda name: log.groups[f"{tag}:{name}"]  # noqa: E731
    ss = grp("sessionize")
    window = ss.busiest_reducer()
    med = statistics.median(window) if window else 0
    return {
        "scan.tasks": grp("scan").tasks,
        "sessionize.shuffle_bytes": ss.shuffle_write,
        "sessionize.spill_bytes": ss.spill,
        "sessionize.max_task_s": max(window, default=0) / 1000,
        "sessionize.task_skew": max(window) / med if med else 1.0,
        "validate.shuffle_bytes": grp("validate").shuffle_write,
        "aggregates.shuffle_bytes": grp("aggregates").shuffle_write,
    }
