"""Schemas, constants, and the enrichment dimension.

The reference's data model (see SURVEY.md §1):

* ``WORLD_ID = 1022`` — the ``<world>`` pseudo-player
  (reference: src/quake3_data.rs:4).
* A 29-way means-of-death dimension: ids 1..28 map to named causes, any other
  id is ``Unknown`` (reference: src/quake3_data.rs:69-139).  Here it is a
  29-row lookup table that gets broadcast-joined; the total-function "never
  fails" property becomes ``coalesce(mod_name, 'Unknown')``.
* Reject reasons mirror the reference's error enum
  (src/quake3_parser/errors.rs:5-19).
"""

from __future__ import annotations

from pyspark.sql import types as T

WORLD_ID = 1022

# Event-type tags used throughout the pipeline (the reference dispatches on
# the raw tokens "InitGame:", "ShutdownGame:", "ClientConnect:",
# "ClientUserinfoChanged:", "Kill:" — parser.rs:179-213).
EV_INIT = "init"
EV_SHUTDOWN = "shutdown"
EV_KILL = "kill"
EV_CONNECT = "connect"
EV_USERINFO = "userinfo"
EV_REJECT = "reject"
EV_IGNORED = "ignored"  # audit mode only: recognized-timestamp line, unhandled tag
EV_DROPPED = "dropped"  # audit mode only: line that failed the timestamp gate

BOUNDARY_EVENTS = (EV_INIT, EV_SHUTDOWN)

EVENT_TAGS = {
    "InitGame:": EV_INIT,
    "ShutdownGame:": EV_SHUTDOWN,
    "ClientConnect:": EV_CONNECT,
    "ClientUserinfoChanged:": EV_USERINFO,
    "Kill:": EV_KILL,
}

# Reject reason codes (analogs of errors.rs:5-19).
R_LOG_PART_NOT_FOUND = "log_part_not_found"  # LogPartNotFound(part)
R_PARSE_INT = "parse_int_error"  # ParseIntError
R_UNEXPECTED = "unexpected_error"  # UnexpectedError(msg)

U32_MAX = 4_294_967_295

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Unified extracted-event schema: one row per recognized event line or reject.
# ``raw`` preserves the original line byte-for-byte (text byte-identity is a
# pipeline invariant — BASELINE.json input_hint).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("line_no", T.IntegerType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("killer_id", T.LongType(), True),
        T.StructField("victim_id", T.LongType(), True),
        T.StructField("mod_id", T.LongType(), True),
        T.StructField("client_id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("raw", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Means-of-death dimension (ids and display labels from quake3_data.rs:69-139)
# ---------------------------------------------------------------------------

MOD_LOOKUP_ROWS: list[tuple[int, str]] = [
    (1, "Shotgun"),
    (2, "Gauntlet"),
    (3, "Machinegun"),
    (4, "Grenade"),
    (5, "Grenade Splash"),
    (6, "Rocket"),
    (7, "Rocket Splash"),
    (8, "Plasma"),
    (9, "Plasma Splash"),
    (10, "Railgun"),
    (11, "Lightning"),
    (12, "Bfg"),
    (13, "Bfg Splash"),
    (14, "Water"),
    (15, "Slime"),
    (16, "Lava"),
    (17, "Crush"),
    (18, "Telefrag"),
    (19, "Falling"),
    (20, "Suicide"),
    (21, "TargetLaser"),
    (22, "TriggerHurt"),
    (23, "Nail"),
    (24, "Chaingun"),
    (25, "ProximityMine"),
    (26, "Kamikaze"),
    (27, "Juiced"),
    (28, "Grapple"),
]

UNKNOWN_MOD = "Unknown"

# Tool-tag enrichment dimension for the transcript ``tool`` column (pipeline
# side; no reference analog — the north_star asks for an analogous broadcast
# lookup for tool tags).
TOOL_LOOKUP_ROWS: list[tuple[str, str]] = [
    ("bash", "execution"),
    ("python", "execution"),
    ("browser", "retrieval"),
    ("search", "retrieval"),
    ("editor", "mutation"),
    ("write", "mutation"),
    ("read", "inspection"),
    ("grep", "inspection"),
]

UNKNOWN_TOOL_CATEGORY = "other"


def mod_lookup_df(spark):
    """The 29-row broadcastable dimension table.

    An inline ``VALUES`` table is a local relation: broadcasting it needs no
    Spark job.  ``createDataFrame`` on a Python list would instead
    parallelize pickled rows, so every enrich_mod broadcast ran a job of
    Python worker tasks just to rebuild these 29 rows."""
    rows = ", ".join(f"({mod_id}L, '{name}')" for mod_id, name in MOD_LOOKUP_ROWS)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS mod_lookup(mod_id, mod_name)")


def tool_lookup_df(spark):
    return spark.createDataFrame(TOOL_LOOKUP_ROWS, "tool string, tool_category string")
