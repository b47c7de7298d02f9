"""Native session-window sessionization: state merges across
micro-batches (separate AvailableNow runs sharing a checkpoint), sessions
close exactly once when the watermark passes their end plus the gap, and
the stream equals its batch twin s02."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from data_pipeline_foundations_spark.streaming.stateful import (
    OUT_SCHEMA, sessionize_stream,
)

T0 = dt.datetime(2025, 6, 1, 10, 0, 0)
SCHEMA = "event_id long, ts timestamp, user_id long"


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


def _run(spark, events_dir, out_dir, ckpt):
    stream = (spark.readStream.schema(SCHEMA).format("parquet").load(events_dir))
    q = (sessionize_stream(stream)
         .writeStream.outputMode("append")
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    try:
        return spark.read.parquet(out_dir).collect()
    except Exception:  # no output committed yet
        return []


def _drain(spark, events_dir, name):
    """Drain ``events_dir`` one file per micro-batch into a memory table;
    return the output rows and the rows dropped by the watermark."""
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(events_dir))
    q = (sessionize_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(s.numRowsDroppedByWatermark for p in q.recentProgress
                  for s in p.stateOperators)
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return rows, dropped


def _write_files(spark, events_dir, *batches):
    """One parquet file per batch, written oldest-first, so a
    ``maxFilesPerTrigger=1`` source reads them in that order."""
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("append").parquet(events_dir)


def test_sessionize_stream_equals_batch(spark, sf_dir, tmp_path):
    """The events drained as two event-time-ordered files plus a far-future
    flush event give exactly the batch s02 sessions (minus session_no),
    with no row dropped by the watermark."""
    from pyspark.sql import functions as F

    from data_pipeline_foundations_spark.registry import all_queries
    from data_pipeline_foundations_spark.tables import load

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    ts = sorted(r.ts for r in ev.select("ts").distinct().collect())
    cut = ts[len(ts) // 2]  # no timestamp lands in both files
    events_dir = str(tmp_path / "events")
    for part in (ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)):
        part.coalesce(1).write.mode("append").parquet(events_dir)
    flush_user = -1
    _write_files(spark, events_dir,
                 [(-1, ts[-1] + dt.timedelta(days=7), flush_user)])

    rows, dropped = _drain(spark, events_dir, "sessionize_eq_batch")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    got = sorted(tuple(r[c] for c in cols) for r in rows
                 if r.user_id != flush_user)
    want = sorted(tuple(r[c] for c in cols) for r in
                  all_queries()["s02_sessionization"].fn(spark, sf_dir)
                  .drop("session_no").collect())
    assert got == want and len(want) > 0
    assert dropped == 0


def test_sessionize_gap_boundary(spark, tmp_path):
    """A gap of exactly ``gap_minutes`` keeps one session; one microsecond
    more splits it (the same ``> 30 min`` rule as s02)."""
    events_dir = str(tmp_path / "ev")
    over = _mins(30) + dt.timedelta(microseconds=1)
    _write_files(spark, events_dir,
                 [(1, _mins(0), 1), (2, _mins(30), 1),
                  (3, _mins(0), 2), (4, over, 2)],
                 [(5, _mins(1000), 3)])  # flush: closes the sessions above
    rows, dropped = _drain(spark, events_dir, "sessionize_gap")
    got = sorted((r.user_id, r.session_start, r.session_end, r.n_events)
                 for r in rows)
    assert got == [(1, _mins(0), _mins(30), 2),
                   (2, _mins(0), _mins(0), 1), (2, over, over, 1)]
    assert dropped == 0


def test_sessionize_null_user_and_ts(spark, tmp_path):
    """Events with a NULL ts are dropped; NULL user_id events form their
    own sessions, as any other user's would."""
    events_dir = str(tmp_path / "ev")
    _write_files(spark, events_dir,
                 [(1, _mins(0), None), (2, _mins(5), None),
                  (3, None, 1), (4, _mins(0), 1), (5, None, 2),
                  (6, None, None)],
                 [(7, _mins(1000), 3)])
    rows, _ = _drain(spark, events_dir, "sessionize_nulls")
    got = sorted(((r.user_id, r.session_start, r.session_end, r.n_events)
                  for r in rows), key=str)
    assert got == sorted([(None, _mins(0), _mins(5), 2),
                          (1, _mins(0), _mins(0), 1)], key=str)


def test_sessionize_output_schema(spark, tmp_path):
    from pyspark.sql.types import StructType

    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path))
    got = sessionize_stream(stream).schema
    want = StructType.fromDDL(OUT_SCHEMA)
    assert [(f.name, f.dataType) for f in got] == \
        [(f.name, f.dataType) for f in want]


def test_sessionize_across_microbatches(spark, tmp_path):
    events_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows, name):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1) \
            .write.mode("append").parquet(events_dir)

    # batch 1: user 1 two events 5min apart; user 2 one event
    write_batch([(1, _mins(0), 1), (2, _mins(5), 1), (3, _mins(2), 2)], "b1")
    out1 = _run(spark, events_dir, str(tmp_path / "out"), ckpt)
    assert out1 == []  # nothing closed yet — sessions still open in state

    # batch 2: user 1 event 120min later → gap > 30; user 1's first
    # session closes when the watermark passes end + gap, inside the same
    # availableNow run. User 2's event at 12min MERGES with state
    # (proving state survived the restart), and the merged session closes
    # in that run too: the watermark advanced to 120min, past user 2's
    # 12+30min gap, so no earlier event can still arrive.
    write_batch([(4, _mins(120), 1), (5, _mins(12), 2)], "b2")
    out2 = {(r.user_id, r.session_start): r for r in
            _run(spark, events_dir, str(tmp_path / "out"), ckpt)}
    assert set(out2) == {(1, _mins(0)), (2, _mins(2))}
    closed = out2[(1, _mins(0))]
    assert closed.session_end == _mins(5) and closed.n_events == 2
    u2 = out2[(2, _mins(2))]
    assert u2.session_end == _mins(12) and u2.n_events == 2  # merged 2+12

    # batch 3: far-future events advance the watermark past user 1's open
    # 120min session's end + gap, so it closes; the new 400min sessions
    # stay open in state.
    write_batch([(6, _mins(400), 1), (7, _mins(400), 2)], "b3")
    out3 = {(r.user_id, r.session_start): r for r in
            _run(spark, events_dir, str(tmp_path / "out"), ckpt)}
    u1b = out3[(1, _mins(120))]
    assert u1b.session_end == _mins(120) and u1b.n_events == 1
    assert (1, _mins(400)) not in out3 and (2, _mins(400)) not in out3
    # exactly-once: the batch-1 session appears once across all outputs
    assert len([k for k in out3 if k == (1, _mins(0))]) == 1
