"""Line-by-line accumulator oracle for tests.

Implements the pipeline's specified semantics (SURVEY.md §2) as a direct
sequential fold, the way the reference does it natively — used ONLY in tests
to cross-check the distributed/declarative Spark formulation, in particular
the closed-form sessionization in operators/sessionize.py.

Lenient-mode semantics (the pipeline default): malformed gated lines become
rejects; kills always count toward totals/histogram, but score/name mutations
apply only to already-connected players.
"""

from __future__ import annotations

from dataclasses import dataclass, field

WORLD_ID = 1022
U32_MAX = 4_294_967_295


@dataclass
class OGame:
    total_kills: int = 0
    hist: dict[int, int] = field(default_factory=dict)  # mod_id -> count
    players: dict[int, tuple[str, int]] = field(default_factory=dict)  # id -> (name, kills)


def _u32(tok: str) -> int | None:
    t = tok[1:] if tok.startswith("+") else tok
    if not t or not t.isascii() or not t.isdigit():
        return None
    v = int(t)
    return v if v <= U32_MAX else None


def scan_lines(lines: list[str]) -> tuple[list[OGame], list[str]]:
    """Returns (finished games, reject reasons in line order)."""
    games, rejects, _ = _fold(lines)
    return games, [reason for _, reason, _ in rejects]


def sink_rows(lines: list[str]) -> dict[str, list[tuple]]:
    """Expected rows of the pipeline's seven sinks for one conversation whose
    i-th turn is ``lines[i]``; every routed row is keyed by that turn index.

    Routed rows carry the game id of the flush that closes their game (a
    flushing marker gets its own game's id, anything after the last flush
    gets None).  Orphan-reference rejects are only raised for rows of a
    finished game: the discarded EOF tail is never validated.

    * ``kills``           — (turn, killer, victim, mod, game)
    * ``game_boundaries`` — (turn, "init" | "shutdown", is_flush, game)
    * ``player_state``    — (turn, "connect" | "userinfo", client, name, game)
    * ``rejects``         — (turn, reason)
    * ``game_totals``     — (game, total kills)
    * ``mod_histogram``   — (game, mod id, kills); ids, not labels
    * ``player_ranking``  — (game, client, name, score, rank)
    """
    games, rejects, routed = _fold(lines)
    out: dict[str, list[tuple]] = {
        "kills": [],
        "game_boundaries": [],
        "player_state": [],
        "rejects": [
            (i, reason) for i, reason, game in rejects if game != _DROPPED
        ],
    }
    for sink, row in routed:
        out[sink].append(tuple(row))
    out["game_totals"] = [(g, game.total_kills) for g, game in enumerate(games, 1)]
    out["mod_histogram"] = [
        (g, mod, n) for g, game in enumerate(games, 1) for mod, n in game.hist.items()
    ]
    out["player_ranking"] = [
        (g, cid, name, score, rank)
        for g, game in enumerate(games, 1)
        for rank, (cid, (name, score)) in enumerate(
            sorted(game.players.items(), key=lambda kv: (-kv[1][1], kv[0])), 1
        )
    ]
    return {sink: sorted(rows, key=lambda r: r[:2]) for sink, rows in out.items()}


# game id of orphan rejects raised in the discarded EOF tail
_DROPPED = "dropped"


def _fold(lines: list[str]):
    """The reference's forward pass.  Returns (finished games, rejects as
    (line, reason, game) — game is None for extract-stage rejects — and
    routed rows as (sink, row) with the row's game id as its last field)."""
    games: list[OGame] = []
    rejects: list[list] = []
    routed: list[tuple[str, list]] = []
    pending: list[list] = []  # rows of the open game, stamped at its flush
    cur = OGame()

    def flush():
        nonlocal cur
        games.append(cur)
        cur = OGame()
        for row in pending:
            row[-1] = len(games)
        pending.clear()

    def emit(sink: str, *fields) -> None:
        row = [*fields, None]
        pending.append(row)
        routed.append((sink, row))

    def orphan(i: int, reason: str) -> None:
        row = [i, reason, _DROPPED]
        pending.append(row)
        rejects.append(row)

    for i, line in enumerate(lines):
        parts = line.split()
        if not parts:
            continue
        t = parts[0]
        if len(t) < 4 or not all(c in "0123456789:" for c in t):
            continue
        if len(parts) < 2:
            rejects.append([i, "log_part_not_found:event", None])
            continue
        ev = parts[1]
        if ev == "InitGame:":
            emit("game_boundaries", i, "init", bool(cur.hist))
            if cur.hist:
                flush()
        elif ev == "ShutdownGame:":
            emit("game_boundaries", i, "shutdown", True)
            flush()
        elif ev == "ClientConnect:":
            if len(parts) < 3:
                rejects.append([i, "log_part_not_found:client_id", None])
                continue
            cid = _u32(parts[2])
            if cid is None:
                rejects.append([i, "parse_int_error", None])
                continue
            emit("player_state", i, "connect", cid, None)
            cur.players.setdefault(cid, ("unknown", 0))
        elif ev == "ClientUserinfoChanged:":
            if len(parts) < 3:
                rejects.append([i, "log_part_not_found:client_id", None])
                continue
            cid = _u32(parts[2])
            if cid is None:
                rejects.append([i, "parse_int_error", None])
                continue
            rest = " ".join(parts[3:])
            name = rest[2:].split("\\", 1)[0]
            emit("player_state", i, "userinfo", cid, name)
            if cid in cur.players:
                cur.players[cid] = (name, cur.players[cid][1])
            else:
                orphan(i, "unexpected_error:player_not_found")
        elif ev == "Kill:":
            if len(parts) < 3:
                rejects.append([i, "log_part_not_found:killer_id", None])
                continue
            killer = _u32(parts[2])
            if killer is None:
                rejects.append([i, "parse_int_error", None])
                continue
            if len(parts) < 4:
                rejects.append([i, "log_part_not_found:victim_id", None])
                continue
            victim = _u32(parts[3])
            if victim is None:
                rejects.append([i, "parse_int_error", None])
                continue
            if len(parts) < 5 or len(parts[4]) <= 1:
                rejects.append([i, "log_part_not_found:mean_id", None])
                continue
            mod = _u32(parts[4][:-1])
            if mod is None:
                rejects.append([i, "parse_int_error", None])
                continue
            emit("kills", i, killer, victim, mod)
            cur.total_kills += 1
            cur.hist[mod] = cur.hist.get(mod, 0) + 1
            credit = victim if killer == WORLD_ID else killer
            delta = -1 if killer == WORLD_ID else 1
            if credit in cur.players:
                nm, k = cur.players[credit]
                cur.players[credit] = (nm, k + delta)
            else:
                orphan(
                    i,
                    "unexpected_error:victim_not_found"
                    if killer == WORLD_ID
                    else "unexpected_error:killer_not_found",
                )
        # any other tag: ignored
    return games, rejects, routed
