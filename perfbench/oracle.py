"""Independent expected results for a generated workload.

A pure-Python line accumulator with the pipeline's lenient-mode semantics
(the same fold as ``tests/oracle.py::scan_lines``), extended to produce what
one pipeline run writes: the row count of every sink and checksums of the
three aggregate sinks.  Each template is folded once; conversations are
copies of a template (their game clocks differ, which the parser only checks
for shape), so only the roster checksum, which includes ``conv_id``, is
computed per conversation.

Sink row semantics mirrored here:

* ``kills``, ``game_boundaries``, ``player_state`` hold every valid event of
  their type, including the discarded tail after the last flush;
* ``rejects`` holds every malformed gated line plus the orphan references
  (kill credit or rename of a client with no earlier connect in the game)
  that fall inside a flushed game;
* ``game_totals`` has one row per flushed game, ``mod_histogram`` one per
  (game, means-of-death label), ``player_ranking`` one per rostered player.
"""

from __future__ import annotations

import zlib
from collections import Counter
from dataclasses import dataclass, field

from gen import Layout, conv_id
from wolf_quake_spark.data_model import MOD_LOOKUP_ROWS, UNKNOWN_MOD

WORLD_ID = 1022
U32_MAX = 4_294_967_295
MOD_LABEL = dict(MOD_LOOKUP_ROWS)
SINKS = (
    "kills", "game_boundaries", "player_state", "rejects",
    "game_totals", "mod_histogram", "player_ranking",
)


def _u32(tok: str) -> int | None:
    t = tok[1:] if tok.startswith("+") else tok
    if not t or not t.isascii() or not t.isdigit():
        return None
    v = int(t)
    return v if v <= U32_MAX else None


@dataclass
class Game:
    total_kills: int = 0
    hist: Counter = field(default_factory=Counter)  # mod label -> kills
    players: dict = field(default_factory=dict)  # client id -> [name, score]
    orphans: int = 0


@dataclass
class Fold:
    """The result of folding one conversation's lines."""

    games: list[Game]
    sinks: Counter

    def ranked(self) -> list[tuple[int, int, int, str, int]]:
        """(game_id, rank, client_id, name, score), ranked by score desc
        then client id, as ``player_ranking`` orders them."""
        out = []
        for gid, g in enumerate(self.games, start=1):
            order = sorted(g.players.items(), key=lambda kv: (-kv[1][1], kv[0]))
            for rank, (cid, (name, score)) in enumerate(order, start=1):
                out.append((gid, rank, cid, name, score))
        return out


def fold(lines) -> Fold:
    games: list[Game] = []
    sinks: Counter = Counter()
    cur = Game()

    def flush() -> None:
        nonlocal cur
        sinks["rejects"] += cur.orphans
        games.append(cur)
        cur = Game()

    for line in lines:
        parts = line.split()
        if not parts:
            continue
        t = parts[0]
        if len(t) < 4 or not all(c in "0123456789:" for c in t):
            continue
        if len(parts) < 2:
            sinks["rejects"] += 1
            continue
        ev = parts[1]
        if ev == "InitGame:":
            sinks["game_boundaries"] += 1
            if cur.hist:
                flush()
        elif ev == "ShutdownGame:":
            sinks["game_boundaries"] += 1
            flush()
        elif ev in ("ClientConnect:", "ClientUserinfoChanged:"):
            cid = _u32(parts[2]) if len(parts) > 2 else None
            if cid is None:
                sinks["rejects"] += 1
                continue
            sinks["player_state"] += 1
            if ev == "ClientConnect:":
                cur.players.setdefault(cid, ["unknown", 0])
            elif cid in cur.players:
                cur.players[cid][0] = " ".join(parts[3:])[2:].split("\\", 1)[0]
            else:
                cur.orphans += 1
        elif ev == "Kill:":
            killer = _u32(parts[2]) if len(parts) > 2 else None
            victim = _u32(parts[3]) if len(parts) > 3 else None
            mod_tok = parts[4] if len(parts) > 4 else ""
            mod = _u32(mod_tok[:-1]) if len(mod_tok) > 1 else None
            if killer is None or victim is None or mod is None:
                sinks["rejects"] += 1
                continue
            sinks["kills"] += 1
            cur.total_kills += 1
            cur.hist[MOD_LABEL.get(mod, UNKNOWN_MOD)] += 1
            credit = victim if killer == WORLD_ID else killer
            if credit in cur.players:
                cur.players[credit][1] += -1 if killer == WORLD_ID else 1
            else:
                cur.orphans += 1
    for g in games:
        sinks["game_totals"] += 1
        sinks["mod_histogram"] += len(g.hist)
        sinks["player_ranking"] += len(g.players)
    return Fold(games, sinks)


def roster_crc(conv: str, ranked) -> int:
    """Order-free checksum of ranked roster rows: the sum of CRC-32s of
    ``conv|game|rank|client|name|score``, the same string Spark's
    ``concat_ws`` builds when the sink is read back."""
    return sum(
        zlib.crc32("|".join((conv, *map(str, row))).encode()) for row in ranked
    )


@dataclass
class Expect:
    sinks: dict
    total_kills: int
    kills_by_mod: dict
    score: int
    roster_crc: int


def expect(lay: Layout) -> Expect:
    folds = [fold(t.lines) for t in lay.templates]
    work = [(conv_id(k), folds[ti]) for k, ti in enumerate(lay.conv_templates)]
    sinks: Counter = Counter({s: 0 for s in SINKS})
    kills_by_mod: Counter = Counter()
    total = score = crc = 0
    for conv, f in work:
        sinks.update(f.sinks)
        ranked = f.ranked()
        crc += roster_crc(conv, ranked)
        score += sum(r[4] for r in ranked)
        for g in f.games:
            total += g.total_kills
            kills_by_mod.update(g.hist)
    return Expect(dict(sinks), total, dict(kills_by_mod), score, crc)
