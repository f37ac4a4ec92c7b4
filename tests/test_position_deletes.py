"""Merge-on-read POSITION deletes + deletion vectors (plans/deletes.py).

Iceberg v2 position-delete semantics ((file_path, pos) addresses from the
hidden _metadata scan columns) and the v3 deletion-vector fold — row
identity, idempotence, fold-horizon correctness, and compaction all
pytest-pinned (ops surface: no SQL oracle, same as equality deletes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wolf_quake_spark.plans.deletes import (
    append_data,
    append_equality_deletes,
    append_position_deletes,
    compact_deletes,
    delete_where,
    read_mor,
    rewrite_position_deletes,
)


def _addresses(spark, table_dir, condition):
    """Physical (file_path, pos) addresses of raw data rows matching a
    predicate — the hand-rolled version of what delete_where scans."""
    data_dir = f"{table_dir}/data"
    return (
        spark.read.option("basePath", data_dir)
        .parquet(data_dir)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "*",
        )
        .where(condition)
        .select("file_path", "pos")
    )


def _mk_table(spark, tmp_path, n=100, parts=4):
    table = str(tmp_path / "t")
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("txt-"), F.col("id")).alias("text"),
    )
    append_data(df.repartition(parts), table)
    return table


def test_position_delete_removes_exactly_named_rows(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    dead = _addresses(spark, table, F.col("doc_id") % 10 == 3)
    n_dead = dead.count()
    append_position_deletes(dead, table)
    out = read_mor(spark, table)
    assert out.count() == 100 - n_dead
    assert out.where(F.col("doc_id") % 10 == 3).count() == 0
    # survivors are byte-identical rows, each exactly once
    expect = spark.range(100).where(F.col("id") % 10 != 3).count()
    assert out.select("doc_id").distinct().count() == expect


def test_delete_where_parity_and_idempotence(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    seq, n = delete_where(spark, table, F.col("grp") == 2)
    assert n == spark.range(100).where(F.col("id") % 7 == 2).count()
    out = read_mor(spark, table)
    assert out.where(F.col("grp") == 2).count() == 0
    assert out.count() == 100 - n
    # second identical DELETE finds nothing (scan is the MoR view)
    _, n2 = delete_where(spark, table, F.col("grp") == 2)
    assert n2 == 0
    assert read_mor(spark, table).count() == 100 - n


def test_deletion_vector_fold_preserves_view_and_later_deletes_apply(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    delete_where(spark, table, F.col("doc_id") < 15)
    delete_where(spark, table, F.col("doc_id").between(40, 44))
    before = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    info = rewrite_position_deletes(spark, table)
    assert info["dv_version"] == 1 and info["folded_files"] >= 2
    after = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert after == before  # the fold is a pure representation change
    # position deletes landing AFTER the fold still apply (dv_covers_seq)
    delete_where(spark, table, F.col("doc_id") == 99)
    got = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert got == [d for d in before if d != 99]
    # a second fold absorbs them into v2 and keeps the view fixed
    info2 = rewrite_position_deletes(spark, table)
    assert info2["dv_version"] == 2
    assert sorted(r["doc_id"] for r in read_mor(spark, table).collect()) == got


def test_equality_and_position_deletes_compose(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    keys = spark.createDataFrame([(5,), (6,)], "doc_id long")
    append_equality_deletes(keys, table, ["doc_id"])
    delete_where(spark, table, F.col("doc_id") == 7)
    out = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert out == [d for d in range(100) if d not in (5, 6, 7)]


def test_compaction_folds_all_delete_kinds(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    append_equality_deletes(spark.createDataFrame([(1,)], "doc_id long"), table, ["doc_id"])
    delete_where(spark, table, F.col("doc_id") == 2)
    rewrite_position_deletes(spark, table)
    delete_where(spark, table, F.col("doc_id") == 3)
    want = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    info = compact_deletes(spark, table)
    assert info["rows"] == len(want)
    import os

    assert not os.path.isdir(f"{table}/pos_deletes")
    assert not os.path.isdir(f"{table}/dvs")
    got = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert got == want
    # post-compaction deletes work from a clean slate
    delete_where(spark, table, F.col("doc_id") == 4)
    assert sorted(r["doc_id"] for r in read_mor(spark, table).collect()) == [
        d for d in want if d != 4
    ]


def test_mor_scan_never_shuffles_data_side(spark, tmp_path):
    """All three delete representations apply via broadcast joins — the
    10^12-row data side must plan zero exchanges."""
    table = _mk_table(spark, tmp_path)
    append_equality_deletes(spark.createDataFrame([(1,)], "doc_id long"), table, ["doc_id"])
    delete_where(spark, table, F.col("doc_id") == 2)
    rewrite_position_deletes(spark, table)
    delete_where(spark, table, F.col("doc_id") == 3)
    plan = read_mor(spark, table)._jdf.queryExecution().executedPlan().toString()
    # all three delete representations join as broadcasts
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3
    # the only exchanges are the delete-side pre-aggregations (max-seq-per-
    # key and the position distinct), each feeding a BroadcastExchange —
    # i.e. bounded by the DELETE relation, never by the data scan
    assert plan.count("Exchange hashpartitioning") == 2
    # the data side is a plain scan leaf (first FileScan, carrying the user
    # columns) — never the probe side of anything but broadcasts
    data_scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "doc_id" in data_scan and "text" in data_scan


def test_merge_mor_upserts_and_inserts(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    from wolf_quake_spark.plans.deletes import merge_mor

    src = spark.createDataFrame(
        [(10, 99, "UPDATED-10"), (11, 99, "UPDATED-11"), (500, 99, "NEW-500")],
        "doc_id long, grp long, text string",
    )
    info = merge_mor(spark, table, src, ["doc_id"])
    assert info["rows_replaced"] == 2 and info["rows_upserted"] == 3
    out = {r["doc_id"]: (r["grp"], r["text"]) for r in read_mor(spark, table).collect()}
    assert len(out) == 101  # 100 originals - 2 replaced + 3 source
    assert out[10] == (99, "UPDATED-10") and out[11] == (99, "UPDATED-11")
    assert out[500] == (99, "NEW-500")
    assert out[12] == (12 % 7, "txt-12")  # untouched rows intact
    # duplicate source keys rejected (MERGE cardinality rule)
    dup = spark.createDataFrame(
        [(1, 0, "a"), (1, 0, "b")], "doc_id long, grp long, text string"
    )
    import pytest

    with pytest.raises(ValueError):
        merge_mor(spark, table, dup, ["doc_id"])
    # a second merge on the same key replaces the FIRST merge's row
    src2 = spark.createDataFrame([(10, 7, "AGAIN-10")], "doc_id long, grp long, text string")
    info2 = merge_mor(spark, table, src2, ["doc_id"])
    assert info2["rows_replaced"] == 1
    out2 = {r["doc_id"]: r["text"] for r in read_mor(spark, table).collect()}
    assert out2[10] == "AGAIN-10" and len(out2) == 101


def test_merge_mor_crash_windows(spark, tmp_path):
    """Staged-but-unjournaled merges vanish; journaled ones roll forward
    exactly once — readers see the complete old view or the complete new
    one, never deletes without their matching append."""
    import json
    import os

    from wolf_quake_spark.plans.deletes import merge_mor

    table = _mk_table(spark, tmp_path, n=20, parts=2)
    before = sorted(r["doc_id"] for r in read_mor(spark, table).collect())

    # window A: both dirs staged, crash BEFORE the journal commit point
    spark.createDataFrame([(5, 0, "ghost")], "doc_id long, grp long, text string") \
        .write.parquet(f"{table}/data/_merge_seq=30")
    spark.createDataFrame([("f", 1)], "file_path string, pos long") \
        .write.parquet(f"{table}/pos_deletes/_merge_seq=31")
    assert sorted(r["doc_id"] for r in read_mor(spark, table).collect()) == before
    assert not os.path.isdir(f"{table}/data/_merge_seq=30")
    assert not os.path.isdir(f"{table}/pos_deletes/_merge_seq=31")

    # window B: journal written, crash before the renames — read rolls the
    # merge forward exactly once
    dead = _addresses(spark, table, F.col("doc_id") == 3)
    spark.createDataFrame([(3, 9, "ROLLED-3")], "doc_id long, grp long, text string") \
        .write.parquet(f"{table}/data/_merge_seq=40")
    dead.write.parquet(f"{table}/pos_deletes/_merge_seq=41")
    with open(f"{table}/{'_compact_journal.json'}", "w") as fh:
        json.dump({"merge": {"data_seq": 40, "pos_seq": 41}}, fh)
    rows = read_mor(spark, table).collect()
    # COUNT, not just distinct keys: the roll-forward must apply the
    # recovered position deletes in the same read — a fast path that
    # recovers but skips them would return doc_id=3 twice
    assert len(rows) == 20
    out = {r["doc_id"]: r["text"] for r in rows}
    assert out[3] == "ROLLED-3" and len(out) == 20
    assert not os.path.exists(f"{table}/_compact_journal.json")
    # seq counter moved past the recovered merge: the next commit can't collide
    info = merge_mor(
        spark, table,
        spark.createDataFrame([(0, 1, "after")], "doc_id long, grp long, text string"),
        ["doc_id"],
    )
    assert info["data_seq"] > 41
    out2 = {r["doc_id"]: r["text"] for r in read_mor(spark, table).collect()}
    assert out2[0] == "after" and out2[3] == "ROLLED-3" and len(out2) == 20


def test_dv_rewrite_crash_windows_never_wedge(spark, tmp_path):
    """Crash between the DV write and the seq-log commit leaves an orphan
    dvs/v=K; crash between the commit and the cleanup leaves folded seq=
    dirs and the old DV generation.  Both must be reclaimed by the next
    rewrite — not wedge it or inflate its folded count."""
    import os
    import shutil

    table = _mk_table(spark, tmp_path)
    delete_where(spark, table, F.col("doc_id") < 10)

    # window A: uncommitted dvs/v=1 orphan (crash before _dump)
    os.makedirs(f"{table}/dvs/v=1")
    with open(f"{table}/dvs/v=1/junk.parquet", "w") as fh:
        fh.write("orphan")
    info = rewrite_position_deletes(spark, table)
    assert info["dv_version"] == 1 and info["folded_files"] == 1
    view1 = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert view1 == list(range(10, 100))

    # window B: resurrect already-folded delete dirs + a stale old DV dir
    # (crash after _dump, before cleanup) — next rewrite reclaims both and
    # reports a no-op fold, and the view never changes
    delete_where(spark, table, F.col("doc_id") == 50)  # seq above horizon
    shutil.copytree(f"{table}/dvs/v=1", f"{table}/dvs/v=0_stale_probe")
    os.rename(f"{table}/dvs/v=0_stale_probe", f"{table}/dvs/v=0")
    info2 = rewrite_position_deletes(spark, table)
    assert info2["dv_version"] == 2 and info2["folded_files"] == 1  # only the new file
    assert not os.path.isdir(f"{table}/dvs/v=0")
    assert not os.path.isdir(f"{table}/dvs/v=1")
    got = sorted(r["doc_id"] for r in read_mor(spark, table).collect())
    assert got == [d for d in range(10, 100) if d != 50]
    # pure no-op rewrite: nothing pending, version unchanged
    info3 = rewrite_position_deletes(spark, table)
    assert info3 == {"dv_version": 2, "folded_files": 0}


def test_recover_skips_an_unexpected_seq_dir(spark, tmp_path):
    import os

    from wolf_quake_spark.plans.deletes import _recover

    table = _mk_table(spark, tmp_path, n=10, parts=1)
    os.makedirs(f"{table}/pos_deletes/seq=junk")
    _recover(table)  # a non-numeric seq= name must not wedge recovery
    assert os.path.isdir(f"{table}/pos_deletes/seq=junk")
