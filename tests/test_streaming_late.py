"""Watermark semantics: rows arriving after the watermark has passed
their window are dropped, and append-mode windows only emit once
finalized — asserted on a hand-built two-batch stream.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.streaming.windows import read_events_stream

BASE = 1_700_000_400  # epoch seconds, 600s-aligned so windows line up


def _events_file(path, rows, mtime):
    """rows: list of (event_id, offset_sec); mtime orders the batches
    (the file source processes oldest-modified first)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [(BASE + r[1]) * 1_000_000_000 for r in rows], pa.int64()
                ),
                "user_id": pa.array([10] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row for a window that was finalized in an earlier batch must
    be dropped (numRowsDroppedByWatermark), not resurrect the window.
    (A late row landing in the same batch where the watermark first
    passes its window still merges — eviction happens at batch end —
    so the late file must arrive one batch after finalization.)"""
    d = str(tmp_path)
    # batch 0: window [0,600) gets one event; max ts 1300 pushes the
    # post-batch watermark to 700, past the window end.
    _events_file(f"{d}/a.parquet", [(1, 0), (2, 1300)], 1_000_000)
    # batch 1: fresh event; at batch end window [0,600) is emitted and
    # its state evicted.
    _events_file(f"{d}/b.parquet", [(4, 1400)], 2_000_000)
    # batch 2: a LATE event for the closed window [0,600) — dropped.
    _events_file(f"{d}/c.parquet", [(3, 300)], 3_000_000)

    ev = read_events_stream(
        spark, d, glob="*.parquet", options={"maxFilesPerTrigger": "1"}
    ).withWatermark("ts", "600 seconds")
    agg = (
        ev.groupBy(F.window("ts", "600 seconds"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("window.start").alias("win_start"), "n"
        )
    )
    name = "late_test_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.win_start - BASE, r.n) for r in spark.table(name).collect()}
    # window [0,600) finalized with count 1 — the late event_id=3 was
    # dropped (count 2 = watermark failed to discard late data).
    assert got == {(0, 1)}
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p["stateOperators"]
    )
    assert dropped == 1


def test_stream_dedup_state_spans_batches(spark, tmp_path):
    """A duplicate key arriving in a LATER micro-batch must be
    suppressed by the dedup state store, not just within-batch
    hashing. Two batches share key (10, 'click'); batch 1 also
    introduces a fresh user — exactly one output row per key."""
    from mapreduce_chisquare_spark.streaming.windows import dedup_stream

    d = str(tmp_path)
    _events_file(f"{d}/a.parquet", [(1, 0), (2, 10)], 1_000_000)
    _events_file(f"{d}/b.parquet", [(3, 20), (4, 30)], 2_000_000)
    # make batch 1's second row a different user so the distinct key
    # set is {(10, click), (77, click)}
    import pyarrow.parquet as _pq
    import pyarrow as _pa

    t = _pq.read_table(f"{d}/b.parquet")
    user = t.column("user_id").to_pylist()
    user[-1] = 77
    t = t.set_column(
        t.schema.get_field_index("user_id"), "user_id", _pa.array(user, _pa.int64())
    )
    _pq.write_table(t, f"{d}/b.parquet")
    os.utime(f"{d}/b.parquet", (2_000_000, 2_000_000))

    out = dedup_stream(
        spark, d, glob="*.parquet", options={"maxFilesPerTrigger": "1"}
    )
    rows = [(r.user_id, r.event_type) for r in out.collect()]
    assert sorted(rows) == [(10, "click"), (77, "click")]


def test_incremental_chi_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across a restart: run the incremental χ² stream
    over HALF the input files, then drop the remaining files into the
    source dir and re-run with the SAME checkpoint. The resumed query
    must process only the new files (no double counting), and the
    final merged relation must equal the one-shot batch answer."""
    import shutil

    from mapreduce_chisquare_spark.sources.fixtures import (
        docs_multifile_dir,
    )
    from mapreduce_chisquare_spark.streaming.chisquare_stream import (
        incremental_chi_square,
    )

    sf = "/root/testdata/sf0.001"
    full = docs_multifile_dir(sf, 4)
    files = sorted(
        f for f in os.listdir(full) if f.endswith(".parquet")
    )
    assert len(files) == 4
    src = tmp_path / "src"
    src.mkdir()
    for f in files[:2]:
        shutil.copy(os.path.join(full, f), src / f)
    run = str(tmp_path / "run")

    first = incremental_chi_square(
        spark, sf, in_dir=str(src), run_dir=run
    ).collect()
    assert len(first) > 0  # partial corpus already yields a relation

    for f in files[2:]:
        shutil.copy(os.path.join(full, f), src / f)
    resumed = incremental_chi_square(
        spark, sf, in_dir=str(src), run_dir=run
    )

    batch = incremental_chi_square(spark, sf, parts=4)
    want = {(r.term, r.category): r.chi2 for r in batch.collect()}
    got = {(r.term, r.category): r.chi2 for r in resumed.collect()}
    assert got == want


def test_multifile_parts_have_increasing_mtimes(tmp_path, monkeypatch):
    """The file source reads one part per trigger in modification-time
    order, so a split fixture's parts carry strictly increasing mtimes
    in part order, and a directory whose READY marker lacks the format
    tag is rebuilt with them."""
    from mapreduce_chisquare_spark.sources import fixtures

    monkeypatch.setattr(fixtures, "_CACHE", tmp_path)
    d = tmp_path / "orders_stream_sf0.001_4"
    d.mkdir()
    (d / "_FIXTURE_READY").touch()  # marker of an untagged build
    out = fixtures.table_multifile_dir("/root/testdata/sf0.001", "orders")
    assert out == str(d)
    mtimes = [os.stat(d / f"part{i}.parquet").st_mtime_ns for i in range(4)]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert (d / "_FIXTURE_READY").read_text() == fixtures._MULTIFILE_FIXTURE_FMT
