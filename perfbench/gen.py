"""Seeded transcript generator for the pipeline benchmark.

The program under test only ever sees the parquet files written here.  A
workload is built from ``N_TEMPLATES`` distinct *game templates* (each a
Quake-style log with its own game, player and kill counts and prose share)
spread across conversations, so the oracle folds each template once, not
every conversation.

Every template carries a stated share of lines that must not parse cleanly:

* ``MALFORMED_SHARE`` of event slots become gated lines that extraction
  rejects: a timestamp with no event token, a non-numeric killer, a victim
  id above u32::MAX, a non-numeric ClientConnect id;
* ``ORPHAN_SHARE`` of kills and renames reference a client that never
  connected in that game, which ``operators.validate`` turns into rejects.

Inputs are written with pyarrow (no Spark), conv-partitioned: a
conversation's turns never span two batches.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

WORLD_ID = 1022
MAX_MOD_ID = 28
MALFORMED_SHARE = 0.01
ORPHAN_SHARE = 0.02
N_TEMPLATES = 24
LINES_PER_TURN = 6
EPOCH = 1704067200

_ROLES = ("user", "assistant", "tool")
_TOOLS = ("bash", "python", "browser", "search", "editor", "read", "grep", None)
_NAMES = (
    "Isgalamido", "Dono da Bola", "Mocinha", "Zeh", "Oootsimo", "Assasinu Credi",
    "Mal", "Chessus", "UnnamedPlayer", "Fasano Again", "Maluquinho", "Kabum",
)

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


_TS = re.compile(r" (\d+):(\d\d) ")


def _shifted(line: str, secs: int) -> str:
    """``line`` with its leading game clock moved ``secs`` seconds later.
    The parser only checks the clock's shape, so every copy of a template
    parses the same while no two conversations share their text."""
    m = _TS.match(line)
    if m is None:
        return line
    t = int(m[1]) * 60 + int(m[2]) + secs
    return f" {t // 60}:{t % 60:02d} " + line[m.end():]


@dataclass(frozen=True)
class Template:
    lines: tuple[str, ...]

    def turns(self, shift: int = 0) -> list[str]:
        n = LINES_PER_TURN
        lines = [_shifted(ln, shift) for ln in self.lines] if shift else self.lines
        return ["\n".join(lines[i : i + n]) for i in range(0, len(lines), n)]


@dataclass(frozen=True)
class Spec:
    """How one workload lays its conversations out on disk."""

    name: str
    turns: int  # total turns, whatever the seed
    n_files: int
    files_per_batch: int


# Sized so that one run, set-up included, stays near 45 s at local[4]; see
# NOTES.md for why each workload exists.
SPECS = {
    "bulk": Spec("bulk", turns=24_000, n_files=8, files_per_batch=64),
    "many-batches": Spec("many-batches", turns=4_800, n_files=12, files_per_batch=4),
}


class _Clock:
    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.t = rng.randrange(0, 60)

    def __call__(self) -> str:
        self.t += self.rng.randrange(0, 3)
        return f"{self.t // 60}:{self.t % 60:02d}"


def _malformed(rng: random.Random, ts: str) -> str:
    return rng.choice(
        (
            f" {ts}",
            f" {ts} Kill: x{rng.randrange(9)} 3 7: bad killer",
            f" {ts} Kill: 2 {4_294_967_296 + rng.randrange(99)} 7: victim overflow",
            f" {ts} ClientConnect: -{rng.randrange(1, 9)}",
        )
    )


def make_template(rng: random.Random) -> Template:
    """One seeded game log exercising every parser branch: world and self
    kills, unknown means-of-death ids, renames, reconnects, ignored tags,
    prose that fails the timestamp gate, a kill-less InitGame (roster leak),
    malformed gated lines, orphan references and an open game at EOF."""
    clock = _Clock(rng)
    n_games = rng.randint(2, 7)
    max_players = rng.randint(2, 10)
    prose_share = rng.uniform(0.05, 0.4)
    out: list[str] = []
    for g in range(n_games):
        out.append(f" {clock()} InitGame: \\sv_hostname\\bench\\mapname\\q3dm{g}")
        ids = rng.sample(range(2, 40), rng.randint(2, max_players))
        for cid in ids:
            out.append(f" {clock()} ClientConnect: {cid}")
            name = rng.choice(_NAMES)
            out.append(f" {clock()} ClientUserinfoChanged: {cid} n\\{name}\\t\\0\\model\\sarge")
            out.append(f" {clock()} ClientBegin: {cid}")
        kill_less = rng.random() < 0.15
        n_kills = 0 if kill_less else rng.randint(5, 80)
        for _ in range(n_kills):
            if rng.random() < prose_share:
                out.append(f"assistant: game {g} is going on, {rng.choice(_NAMES)} leads")
            if rng.random() < MALFORMED_SHARE:
                out.append(_malformed(rng, clock()))
            if rng.random() < ORPHAN_SHARE:
                out.append(
                    f" {clock()} ClientUserinfoChanged: {rng.randrange(40, 60)} n\\ghost\\t\\0"
                )
            orphan = rng.random() < ORPHAN_SHARE
            killer = WORLD_ID if rng.random() < 0.2 else rng.choice(ids)
            victim = rng.randrange(40, 60) if orphan and killer == WORLD_ID else rng.choice(ids)
            if orphan and killer != WORLD_ID:
                killer = rng.randrange(40, 60)
            mod_id = rng.randint(0, MAX_MOD_ID + 3)  # 0 and >28 are "Unknown"
            out.append(
                f" {clock()} Kill: {killer} {victim} {mod_id}: someone killed someone by MOD_{mod_id}"
            )
            if rng.random() < 0.08:
                out.append(f" {clock()} Item: {rng.randrange(1, 40)} weapon_rocketlauncher")
            if rng.random() < 0.04:
                cid = rng.choice(ids)
                out.append(
                    f" {clock()} ClientUserinfoChanged: {cid} n\\{rng.choice(_NAMES)}\\t\\1"
                )
            if rng.random() < 0.02:
                out.append(f" {clock()} ClientConnect: {rng.choice(ids)}")  # reconnect
        if not kill_less and g != n_games - 1:
            out.append(f" {clock()} ShutdownGame:")
            out.append(f" {clock()} " + "-" * 60)
    out.append(f" {clock()} say: match over")
    return Template(tuple(out))


@dataclass
class Layout:
    """What was generated: the templates and which one each conversation
    copies."""

    templates: list[Template]
    conv_templates: list[int]

    @property
    def n_turns(self) -> int:
        per = [len(t.turns()) for t in self.templates]
        return sum(per[i] for i in self.conv_templates)


def layout(spec: Spec, seed: int) -> Layout:
    """Seeded templates and conversations.  Conversations are drawn until
    the spec's turn count is reached, so the total is the same to within one
    template whatever the seed and throughput compares across seeds."""
    rng = random.Random(f"{spec.name}:{seed}")
    templates = [make_template(rng) for _ in range(N_TEMPLATES)]
    sizes = [len(t.turns()) for t in templates]
    convs, total = [], 0
    while total < spec.turns:
        convs.append(rng.randrange(N_TEMPLATES))
        total += sizes[convs[-1]]
    return Layout(templates, convs)


def conv_id(k: int) -> str:
    return f"conv-{k:07d}"


def _table(rows: list[tuple[str, int, str]]) -> pa.Table:
    conv = [r[0] for r in rows]
    idx = [r[1] for r in rows]
    return pa.table(
        {
            "conv_id": pa.array(conv, pa.string()),
            "turn_idx": pa.array(idx, pa.int32()),
            "role": pa.array([_ROLES[i % 3] for i in idx], pa.string()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "tool": pa.array([_TOOLS[i % len(_TOOLS)] for i in idx], pa.string()),
            "ts": pa.array([(EPOCH + i) * 1_000_000 for i in idx], pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def write_inputs(spec: Spec, lay: Layout, out_dir: str) -> None:
    """Write ``spec.n_files`` parquet files; conversation ``k`` goes whole
    to file ``k % n_files``."""
    files: list[list[tuple[str, int, str]]] = [[] for _ in range(spec.n_files)]
    for k, ti in enumerate(lay.conv_templates):
        cid = conv_id(k)
        turns = lay.templates[ti].turns(shift=(k * 7919) % 36_000)
        files[k % spec.n_files].extend((cid, i, txt) for i, txt in enumerate(turns))
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        rows.sort(key=lambda r: (r[0], r[1]))
        pq.write_table(_table(rows), os.path.join(out_dir, f"part-{i:05d}.parquet"))
