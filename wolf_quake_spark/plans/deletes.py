"""Iceberg-style merge-on-read row-level deletes: equality deletes,
POSITION deletes, and deletion vectors.

An equality delete file records key tuples plus the SEQUENCE NUMBER at
which the delete was committed; at read time a data row is dead iff some
delete with a HIGHER sequence number matches its keys (Iceberg spec
§Row-level deletes / §Sequence numbers).  Deleting 10^6 conv_ids from a
10^12-turn table therefore writes a few MB of delete files and rewrites
nothing; readers pay one broadcast join until a compaction folds the
deletes in.

A POSITION delete names a dead row by physical address instead:
``(file_path, pos)`` — the Iceberg v2 position-delete file schema — with
``pos`` the row's ordinal within its data file.  This is what engine-side
``DELETE``/``MERGE`` write after a scan has located the target rows: no
key columns needed, applies to exactly one physical row, and needs no
sequence applicability (the address names the file directly; re-written
files get new addresses).  The Spark-native source of the address is the
``_metadata.file_path`` / ``_metadata.row_index`` hidden scan columns, so
positions come from the same scan that evaluated the predicate — no
bookkeeping column materialized in the data.

DELETION VECTORS (Iceberg v3 / Delta DVs) are the compacted form: one
bitmap per data file marking dead ordinals, stored sparsely as
``(file_path, word, bits)`` rows — only words containing deletions exist
(the flat-file stand-in for a Puffin roaring-bitmap blob; 60-bit words,
the repo-wide portable-int64 convention of plans/bloom_index.py).
``rewrite_position_deletes`` folds accumulated position-delete files into
the vector store (Iceberg's ``rewrite_position_delete_files`` maintenance
action), after which readers apply one broadcast (file, word)-keyed left
join + a bit test instead of an ever-growing anti join: read cost is
O(deleted/60) broadcast rows no matter how many DELETE commits produced
them, and new position deletes landing after the rewrite still apply
(``dv_covers_seq`` tracks the fold horizon).

Emulation convention (same as the rest of ``plans/``): data appends land
under ``data/seq=N/`` and delete files under ``deletes/seq=M/`` with a
JSON log tracking the sequence counter.  The read path:

1. aggregate the (typically tiny) delete relation to ``max(seq)`` per
   key tuple — at most one row per deleted key,
2. broadcast it into a left join against the data scan,
3. keep rows where no delete matched or the delete predates the row
   (``delete_seq <= data_seq`` — a row re-inserted AFTER a delete
   survives it, the Iceberg re-insert semantics).

``compact_deletes`` rewrites the survivors as one new data append and
clears the delete directory — the maintenance job that caps read-side
join cost; row-identity equality with the MoR read is pytest-enforced.

Reference parity: beyond-reference surface (the reference never mutates
its input); driven by the north rule's Iceberg-table framing.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

SEQ_LOG = "_seq_log.json"
DV_WORD_BITS = 60  # keep 1 << bit positive in signed int64 (bloom_index rule)


def _load(table_dir: str) -> dict:
    try:
        with open(os.path.join(table_dir, SEQ_LOG)) as fh:
            state = json.load(fh)
    except FileNotFoundError:
        state = {"last_seq": 0, "key_cols": None}
    # older tables predate the deletion-vector fields
    state.setdefault("dv_version", 0)
    state.setdefault("dv_covers_seq", 0)
    return state


def _dump(table_dir: str, state: dict) -> None:
    # tmp + os.replace (atomic on POSIX), same discipline as
    # plans/snapshots._dump: a crash mid-write must never leave a
    # truncated seq log that wedges every later _load
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, SEQ_LOG)
    with open(path + ".tmp", "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def append_data(df: DataFrame, table_dir: str) -> int:
    """Append a data file set at the next sequence number."""
    _recover(table_dir)
    state = _load(table_dir)
    seq = state["last_seq"] + 1
    df.write.mode("errorifexists").parquet(
        os.path.join(table_dir, "data", f"seq={seq}")
    )
    state["last_seq"] = seq
    _dump(table_dir, state)
    return seq


def append_equality_deletes(
    keys: DataFrame, table_dir: str, key_cols: list[str]
) -> int:
    """Commit an equality-delete file: kills every matching data row with
    a lower sequence number.  Key columns are pinned on first use."""
    _recover(table_dir)
    state = _load(table_dir)
    if state["key_cols"] is None:
        state["key_cols"] = key_cols
    elif state["key_cols"] != key_cols:
        raise ValueError(f"delete key cols pinned to {state['key_cols']}")
    seq = state["last_seq"] + 1
    keys.select(*key_cols).distinct().write.mode("errorifexists").parquet(
        os.path.join(table_dir, "deletes", f"seq={seq}")
    )
    state["last_seq"] = seq
    _dump(table_dir, state)
    return seq


def append_position_deletes(deletes: DataFrame, table_dir: str) -> int:
    """Commit a position-delete file: ``(file_path, pos)`` rows naming dead
    row addresses (Iceberg v2 position-delete schema).  No sequence
    applicability needed — the address names a specific physical file —
    but the commit still takes the next sequence number so the deletion-
    vector fold horizon (``dv_covers_seq``) can bound which files it
    absorbed.

    An EMPTY delete set (idempotent / no-match ``delete_where``) commits
    nothing: once any seq dir exists, every later read pays the
    ``_metadata`` address projection plus an anti-join against it, so an
    empty file would permanently tax the table for a no-op.  Returns the
    committed seq, or the current ``last_seq`` unchanged when nothing was
    written.

    Crash-safe: the parquet lands in an underscore-staged dir
    (reader-invisible, the journal discipline), is renamed to ``seq=N``
    only when non-empty, and the seq-log bump commits it.  A crash before
    the rename leaves a ``_staging_seq=`` orphan (reclaimed by
    ``_recover``); a crash between rename and seq-log bump leaves a bare
    ``seq=N`` dir above the logged ``last_seq``, which ``_recover`` rolls
    BACK (the delete never committed) so the next commit at seq N cannot
    hit ``errorifexists`` and wedge."""
    _recover(table_dir)
    state = _load(table_dir)
    seq = state["last_seq"] + 1
    staged = os.path.join(table_dir, "pos_deletes", f"_staging_seq={seq}")
    path = os.path.join(table_dir, "pos_deletes", f"seq={seq}")
    deletes.select("file_path", F.col("pos").cast("long")).distinct().write.mode(
        "overwrite"
    ).parquet(staged)
    if deletes.sparkSession.read.parquet(staged).limit(1).count() == 0:
        shutil.rmtree(staged)
        return state["last_seq"]
    os.rename(staged, path)
    state["last_seq"] = seq
    _dump(table_dir, state)
    return seq


def delete_where(spark: SparkSession, table_dir: str, condition) -> tuple[int, int]:
    """Engine-side ``DELETE WHERE``: locate matching LIVE rows via the
    hidden ``_metadata`` scan columns and commit their addresses as one
    position-delete file — the plan every MoR engine runs for DELETE/MERGE
    (scan → predicate → write positions; the data files are never touched).
    Returns ``(seq, n_rows_deleted)``.

    The scan is the MoR view (already-dead rows are not re-deleted), so
    repeated identical calls are idempotent after the first: they find 0
    matches and commit NOTHING (the returned seq is the unchanged
    ``last_seq`` and n is 0) — an empty delete file would make every
    later read pay the address projection + anti-join forever."""
    live = _mor_with_address(spark, table_dir)
    hits = live.where(condition).select(
        F.col("_wqs_fp").alias("file_path"), F.col("_wqs_pos").alias("pos")
    )
    # one table scan, not two: commit the delete file first, then count
    # the (tiny) committed parquet instead of re-running the MoR scan
    before = _load(table_dir)["last_seq"]
    seq = append_position_deletes(hits, table_dir)
    if seq == before:  # empty delete set: nothing committed
        return seq, 0
    n = spark.read.parquet(
        os.path.join(table_dir, "pos_deletes", f"seq={seq}")
    ).count()
    return seq, n


def rewrite_position_deletes(spark: SparkSession, table_dir: str) -> dict:
    """Fold accumulated position-delete files into the deletion-vector
    store (Iceberg's ``rewrite_position_delete_files`` maintenance action):
    one sparse bitmap relation ``(file_path, word, bits)`` replacing N
    delete files — read cost drops from an N-file anti join to one
    broadcast word-keyed join + bit test, O(deleted/60) rows total.

    Crash-safe: the merged vectors land in a versioned dir
    (``dvs/v=K``), the seq-log update (pointing at K and recording the
    covered horizon) is the atomic commit point, and superseded
    pos-delete/DV dirs are removed only after it — a crash in between
    leaves them orphaned but ignored (the read path consults only the
    committed pointer/horizon), reclaimed on the next rewrite."""
    _recover(table_dir)
    state = _load(table_dir)
    pos_dir = os.path.join(table_dir, "pos_deletes")
    dvs_dir = os.path.join(table_dir, "dvs")
    # reclaim what a crash between the commit (_dump) and the cleanup left
    # behind: already-folded delete files (seq <= covers horizon) and any
    # DV generation other than the committed one.  Idempotent, runs every
    # call, so a single crash can't wedge later rewrites or inflate their
    # folded_files count.
    if os.path.isdir(pos_dir):
        for d in os.listdir(pos_dir):
            if d.startswith("seq=") and int(d[4:]) <= state["dv_covers_seq"]:
                shutil.rmtree(os.path.join(pos_dir, d))
    if os.path.isdir(dvs_dir):
        for d in os.listdir(dvs_dir):
            if d.startswith("v=") and int(d[2:]) != state["dv_version"]:
                shutil.rmtree(os.path.join(dvs_dir, d))
    have_pos = os.path.isdir(pos_dir) and any(
        d.startswith("seq=") for d in os.listdir(pos_dir)
    )
    if not have_pos:
        return {"dv_version": state["dv_version"], "folded_files": 0}
    pend = (
        spark.read.option("basePath", pos_dir)
        .parquet(pos_dir)
        .where(F.col("seq") > state["dv_covers_seq"])
    )
    bits = pend.select(
        "file_path",
        (F.col("pos") / DV_WORD_BITS).cast("long").alias("word"),
        F.expr(
            f"shiftleft(cast(1 as bigint), cast(pos % {DV_WORD_BITS} as int))"
        ).alias("b"),
    ).groupBy("file_path", "word").agg(F.expr("bit_or(b)").alias("bits"))
    old_v = state["dv_version"]
    if old_v:
        prev = spark.read.parquet(os.path.join(table_dir, "dvs", f"v={old_v}"))
        bits = (
            bits.unionByName(prev)
            .groupBy("file_path", "word")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )
    new_v = old_v + 1
    dv_dir = os.path.join(table_dir, "dvs", f"v={new_v}")
    # overwrite, not errorifexists: an uncommitted v=new_v orphan from a
    # crash between this write and the _dump below must not wedge the
    # retry (the pre-clean above removes it, but overwrite also guards
    # the window inside THIS call)
    bits.write.mode("overwrite").parquet(dv_dir)
    n_folded = len([d for d in os.listdir(pos_dir) if d.startswith("seq=")])
    state["dv_version"] = new_v
    state["dv_covers_seq"] = state["last_seq"]
    _dump(table_dir, state)  # atomic commit point
    shutil.rmtree(pos_dir)
    if old_v:
        shutil.rmtree(os.path.join(table_dir, "dvs", f"v={old_v}"), ignore_errors=True)
    return {"dv_version": new_v, "folded_files": n_folded}


def _mor_scan(spark: SparkSession, table_dir: str, with_address: bool) -> DataFrame:
    """ONE MoR read path for both faces (``read_mor`` / ``delete_where``):
    recovery ALWAYS runs first — the strategy decision (are there
    positional deletes?) must see post-roll-forward state, or a crashed
    merge's deletes would be rolled in by the scan that then ignores them.
    The physical-address columns (hidden ``_metadata`` struct, projected
    at the scan before any join) are added only when positional deletes
    exist or the caller asked for them, so equality-only tables keep the
    plain-scan plan shape."""
    _recover(table_dir)
    state = _load(table_dir)
    data_dir = os.path.join(table_dir, "data")
    data = spark.read.option("basePath", data_dir).parquet(data_dir)
    user_cols = [c for c in data.columns if c != "seq"]
    pos_dir = os.path.join(table_dir, "pos_deletes")
    has_posdel = bool(state["dv_version"]) or (
        os.path.isdir(pos_dir) and any(d.startswith("seq=") for d in os.listdir(pos_dir))
    )
    project_address = with_address or has_posdel
    cols = [F.col(c) for c in user_cols]
    cols.append(F.col("seq") if "seq" in data.columns else F.lit(0).alias("seq"))
    if project_address:
        cols.append(F.col("_metadata.file_path").alias("_wqs_fp"))
        cols.append(F.col("_metadata.row_index").alias("_wqs_pos"))
    data = data.select(*cols)

    # 1. equality deletes: max-seq-per-key broadcast left join
    del_dir = os.path.join(table_dir, "deletes")
    if os.path.isdir(del_dir) and os.listdir(del_dir):
        key_cols = state["key_cols"]
        dels = (
            spark.read.option("basePath", del_dir)
            .parquet(del_dir)
            .groupBy(*key_cols)
            .agg(F.max("seq").alias("_del_seq"))
        )
        data = (
            data.join(broadcast(dels), on=key_cols, how="left")
            .where(F.col("_del_seq").isNull() | (F.col("_del_seq") <= F.col("seq")))
            .drop("_del_seq")
        )

    # 2. deletion vectors: broadcast (file, word)-keyed left join + bit test
    if not has_posdel:
        if with_address:
            return data.select(*user_cols, "_wqs_fp", "_wqs_pos")
        return data.select(*user_cols)
    if state["dv_version"]:
        dv = spark.read.parquet(
            os.path.join(table_dir, "dvs", f"v={state['dv_version']}")
        ).select(
            F.col("file_path").alias("_dv_fp"),
            F.col("word").alias("_dv_word"),
            F.col("bits").alias("_dv_bits"),
        )
        data = (
            data.join(
                broadcast(dv),
                (F.col("_wqs_fp") == F.col("_dv_fp"))
                & ((F.col("_wqs_pos") / DV_WORD_BITS).cast("long") == F.col("_dv_word")),
                "left",
            )
            .where(
                F.col("_dv_bits").isNull()
                | (
                    F.expr(
                        f"(_dv_bits >> cast(_wqs_pos % {DV_WORD_BITS} as int)) & 1"
                    )
                    == 0
                )
            )
            .drop("_dv_fp", "_dv_word", "_dv_bits")
        )

    # 3. position deletes newer than the DV fold horizon: broadcast anti join
    if os.path.isdir(pos_dir) and any(
        d.startswith("seq=") for d in os.listdir(pos_dir)
    ):
        pd = (
            spark.read.option("basePath", pos_dir)
            .parquet(pos_dir)
            .where(F.col("seq") > state["dv_covers_seq"])
            .select(F.col("file_path").alias("_pd_fp"), F.col("pos").alias("_pd_pos"))
            .distinct()
        )
        data = data.join(
            broadcast(pd),
            (F.col("_wqs_fp") == F.col("_pd_fp"))
            & (F.col("_wqs_pos") == F.col("_pd_pos")),
            "left_anti",
        )
    if with_address:
        return data.select(*user_cols, "_wqs_fp", "_wqs_pos")
    return data.select(*user_cols)


def _mor_with_address(spark: SparkSession, table_dir: str) -> DataFrame:
    """The MoR scan with each live row's physical address exposed as
    ``_wqs_fp`` / ``_wqs_pos`` (consumed by ``delete_where`` /
    ``merge_mor``)."""
    return _mor_scan(spark, table_dir, with_address=True)


def read_mor(spark: SparkSession, table_dir: str) -> DataFrame:
    """Merge-on-read scan: data minus equality deletes (sequence-
    applicable, broadcast max-seq-per-key join), minus deletion-vector
    bits, minus uncompacted position deletes (broadcast anti join) — every
    delete representation applied in one pass with the data side never
    shuffling.  Rolls any interrupted operation forward FIRST (single-
    writer assumption) so survivors are never seen twice and a recovered
    merge's position deletes are never skipped."""
    return _mor_scan(spark, table_dir, with_address=False)


JOURNAL = "_compact_journal.json"


def _recover(table_dir: str) -> None:
    """Finish or discard an interrupted compaction (single-writer).

    Crash windows (the journal is the commit point, written only after the
    rewrite is row-count-verified):

    * no journal + an ``_compacting_seq=`` orphan → the crash predates the
      commit point: remove the orphan, nothing else changed.
    * journal present → roll FORWARD: rename the staged dir into place if
      that hadn't happened yet (underscore prefix keeps it invisible to
      readers until this moment), then retire the journal's old data dirs
      and the delete dir, bump the seq log, drop the journal.  Every step
      is idempotent, so recovery itself may crash and rerun.
    """
    data_dir = os.path.join(table_dir, "data")
    pos_dir = os.path.join(table_dir, "pos_deletes")
    jpath = os.path.join(table_dir, JOURNAL)

    def _drop_orphans() -> None:
        for base, prefixes in (
            (data_dir, ("_compacting_seq=", "_merge_seq=")),
            (pos_dir, ("_merge_seq=", "_staging_seq=")),
        ):
            if os.path.isdir(base):
                for d in os.listdir(base):
                    if d.startswith(prefixes):
                        shutil.rmtree(os.path.join(base, d))
        # roll BACK a position-delete commit that crashed between the
        # staged-dir rename and the seq-log bump: a bare pos_deletes
        # seq=N dir above the logged last_seq never committed, and the
        # next commit at seq N would otherwise collide permanently.
        # Safe only in this no-journal path — a pending merge journal
        # legitimately creates seq > last_seq during roll-forward.
        if os.path.isdir(pos_dir):
            last = _load(table_dir)["last_seq"]
            for d in os.listdir(pos_dir):
                # a seq= name this module never writes is left alone
                # rather than wedging every recovery on its parse
                if d.startswith("seq=") and d[4:].isdigit() and int(d[4:]) > last:
                    shutil.rmtree(os.path.join(pos_dir, d))

    if not os.path.exists(jpath):
        _drop_orphans()
        return
    try:
        with open(jpath) as fh:
            j = json.load(fh)
    except (json.JSONDecodeError, OSError):
        # journals are written atomically (tmp + rename), so an
        # unparseable one predates that discipline or is fs corruption —
        # either way the swap never started (renames happen strictly
        # after the journal commit), so drop it, reclaim the staged
        # orphans, and let the operation be redone (plans/compact.py
        # learned this the hard way: one truncated journal wedged every
        # subsequent call in recovery)
        os.remove(jpath)
        _drop_orphans()
        return
    if "merge" in j:
        # merge roll-forward: two renames (data append + position deletes),
        # each idempotent, then the single seq-log bump commits both
        dseq, pseq = j["merge"]["data_seq"], j["merge"]["pos_seq"]
        for base, seqno in ((data_dir, dseq), (pos_dir, pseq)):
            staged = os.path.join(base, f"_merge_seq={seqno}")
            final = os.path.join(base, f"seq={seqno}")
            if os.path.isdir(staged) and not os.path.isdir(final):
                os.rename(staged, final)
        state = _load(table_dir)
        if state["last_seq"] < pseq:
            state["last_seq"] = pseq
            _dump(table_dir, state)
        os.remove(jpath)
        return
    staged = os.path.join(data_dir, f"_compacting_seq={j['new_seq']}")
    final = os.path.join(data_dir, f"seq={j['new_seq']}")
    if os.path.isdir(staged) and not os.path.isdir(final):
        os.rename(staged, final)
    for d in j["old_dirs"]:
        p = os.path.join(data_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p)
    for dead in ("deletes", "pos_deletes", "dvs"):
        p = os.path.join(table_dir, dead)
        if os.path.isdir(p):
            shutil.rmtree(p)
    state = _load(table_dir)
    if state["last_seq"] < j["new_seq"] or state["dv_version"]:
        state["last_seq"] = max(state["last_seq"], j["new_seq"])
        # the rewrite folded every delete representation in; clear the
        # deletion-vector pointer so readers stop looking for dvs/
        state["dv_version"] = 0
        state["dv_covers_seq"] = 0
        _dump(table_dir, state)
    os.remove(jpath)


def compact_deletes(spark: SparkSession, table_dir: str) -> dict:
    """Materialize the MoR view as one new data append, then retire the
    old data files and all delete files.

    Crash-safe via a journaled swap (plans/compact.py discipline): the
    rewrite lands in an underscore-staged dir Spark readers ignore, is
    row-count-verified, then a journal commits the swap; ``_recover``
    (run here and by ``read_mor``) rolls an interrupted swap forward so
    readers can never see survivors twice and the seq counter can never
    collide with a half-finished rewrite."""
    _recover(table_dir)
    survivors = read_mor(spark, table_dir)
    n_before = survivors.count()
    state = _load(table_dir)
    seq = state["last_seq"] + 1
    data_dir = os.path.join(table_dir, "data")
    staged = os.path.join(data_dir, f"_compacting_seq={seq}")
    survivors.write.mode("overwrite").parquet(staged)
    n_after = spark.read.parquet(staged).count()
    if n_after != n_before:
        shutil.rmtree(staged)
        raise RuntimeError(f"compaction row mismatch {n_before} != {n_after}")
    old_dirs = [
        d for d in os.listdir(data_dir) if d.startswith("seq=")
    ]
    jpath = os.path.join(table_dir, JOURNAL)
    with open(jpath + ".tmp", "w") as fh:
        json.dump({"new_seq": seq, "old_dirs": old_dirs}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(jpath + ".tmp", jpath)  # atomic commit point
    _recover(table_dir)  # roll the committed swap forward
    return {"rows": n_after, "data_seq": seq}


def merge_mor(
    spark: SparkSession, table_dir: str, source: DataFrame, key_cols: list[str]
) -> dict:
    """Merge-on-read ``MERGE INTO`` (upsert): position-delete every matched
    target row and append the full source as one new data file set — the
    Iceberg v2 MoR MERGE write path.  No existing data file is rewritten
    (contrast plans/snapshots.merge_cow, the copy-on-write strategy that
    rewrites whole files); readers pay the usual MoR broadcast joins until
    ``rewrite_position_deletes`` / ``compact_deletes`` folds the debt.

    Source keys must be unique (the standard MERGE cardinality rule —
    one source row per target row — enforced up front).

    Atomic for readers: both the data append and the delete file stage
    under underscore dirs Spark readers ignore, a journal is the commit
    point, and ``_recover`` rolls the two renames forward — a crash
    anywhere leaves either the complete old view or the complete new one,
    never updated rows without their deletes (or vice versa).

    Scale shape: one MoR scan semi-joined to the source keys (AQE
    broadcasts the typical small-source MERGE; a huge backfill source
    shuffles both sides on the keys, which is then the right plan), plus
    one source write.  Matched-row addresses are O(matched), not O(table).
    """
    _recover(table_dir)
    state = _load(table_dir)
    n_src = source.count()
    src_keys = source.select(*key_cols).distinct()
    if src_keys.count() != n_src:
        raise ValueError("MERGE source has duplicate keys (cardinality rule)")

    live = _mor_with_address(spark, table_dir)
    hits = live.join(src_keys, key_cols, "left_semi").select(
        F.col("_wqs_fp").alias("file_path"), F.col("_wqs_pos").alias("pos")
    )

    data_seq, pos_seq = state["last_seq"] + 1, state["last_seq"] + 2
    data_dir = os.path.join(table_dir, "data")
    pos_dir = os.path.join(table_dir, "pos_deletes")
    staged_data = os.path.join(data_dir, f"_merge_seq={data_seq}")
    staged_pos = os.path.join(pos_dir, f"_merge_seq={pos_seq}")
    source.write.mode("errorifexists").parquet(staged_data)
    hits.distinct().write.mode("errorifexists").parquet(staged_pos)
    n_staged = spark.read.parquet(staged_data).count()
    if n_staged != n_src:
        shutil.rmtree(staged_data)
        shutil.rmtree(staged_pos)
        raise RuntimeError(f"merge staging row mismatch {n_src} != {n_staged}")
    n_del = spark.read.parquet(staged_pos).count()

    jpath = os.path.join(table_dir, JOURNAL)
    with open(jpath + ".tmp", "w") as fh:
        json.dump({"merge": {"data_seq": data_seq, "pos_seq": pos_seq}}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(jpath + ".tmp", jpath)  # atomic commit point
    _recover(table_dir)  # roll the committed merge forward
    return {"data_seq": data_seq, "rows_replaced": n_del, "rows_upserted": n_src}
