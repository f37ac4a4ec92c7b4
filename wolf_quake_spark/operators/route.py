"""Stage — fan-out routing to per-event-type sinks (SURVEY.md §2.1 S3, §1.3).

Every gated line routes to exactly one sink family:

* ``kills``           — typed Kill records, enriched with ``mod_name``
* ``game_boundaries`` — InitGame/ShutdownGame markers with flush disposition
* ``player_state``    — ClientConnect / ClientUserinfoChanged
* ``rejects``         — malformed gated lines (extract-stage reasons) plus,
  in lenient mode, the reference's runtime-abort analogs
  (operators/validate.py)

Sink schemas follow FIXTURES.md §5.  The input is the sessionized frame, so
every routed row carries its ``game_id`` lineage (NULL = discarded EOF tail).

``ROUTES`` maps each sink to its own builder, so a caller can construct and
land every sink independently (plans/pipeline.py builds each one on its own
thread); ``route`` builds all four.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wolf_quake_spark.data_model import (
    EV_CONNECT,
    EV_INIT,
    EV_KILL,
    EV_REJECT,
    EV_SHUTDOWN,
    EV_USERINFO,
)
from wolf_quake_spark.operators.enrich import enrich_mod
from wolf_quake_spark.operators.validate import orphan_references

BASE = ("conv_id", "turn_idx", "line_no")


def kills_sink(sessionized: DataFrame) -> DataFrame:
    return enrich_mod(
        sessionized.filter(F.col("event_type") == EV_KILL).select(
            *BASE, "killer_id", "victim_id", "mod_id", "game_id", F.col("raw").alias("text")
        )
    ).select(
        *BASE, "killer_id", "victim_id", "mod_id", "mod_name", "game_id", "text"
    )


def boundaries_sink(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(
        F.col("event_type").isin(EV_INIT, EV_SHUTDOWN)
    ).select(
        *BASE,
        F.when(F.col("event_type") == EV_INIT, F.lit("init"))
        .otherwise(F.lit(EV_SHUTDOWN))
        .alias("kind"),
        "is_flush",
        "game_id",
    )


def player_state_sink(sessionized: DataFrame) -> DataFrame:
    return sessionized.filter(
        F.col("event_type").isin(EV_CONNECT, EV_USERINFO)
    ).select(
        *BASE,
        F.when(F.col("event_type") == EV_CONNECT, F.lit("connect"))
        .otherwise(F.lit("userinfo"))
        .alias("kind"),
        "client_id",
        "name",
        "game_id",
    )


def rejects_sink(sessionized: DataFrame, with_orphans: bool = True) -> DataFrame:
    rejects = sessionized.filter(F.col("event_type") == EV_REJECT).select(
        *BASE, "reason", "raw"
    )
    if with_orphans:
        rejects = rejects.unionByName(orphan_references(sessionized))
    return rejects


ROUTES: dict[str, Callable[[DataFrame], DataFrame]] = {
    "kills": kills_sink,
    "game_boundaries": boundaries_sink,
    "player_state": player_state_sink,
    "rejects": rejects_sink,
}


def route(sessionized: DataFrame, with_orphans: bool = True) -> dict[str, DataFrame]:
    out = {name: build(sessionized) for name, build in ROUTES.items() if name != "rejects"}
    out["rejects"] = rejects_sink(sessionized, with_orphans)
    return out
