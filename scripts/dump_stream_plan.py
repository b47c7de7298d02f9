"""Dump the physical plan of sessionize_stream's last micro-batch.

Usage: python scripts/dump_stream_plan.py --sf-dir SF_DIR --suffix before

Writes the events of ``--sf-dir`` as two event-time-ordered parquet files
plus a far-future flush event, drains ``sessionize_stream`` over them with
``maxFilesPerTrigger=1`` and ``availableNow`` into a memory sink, and
writes ``StreamingQuery.explain()`` of the last micro-batch to
``<out-dir>/sessionize_stream_<suffix>.txt``. Expression ids, plan ids,
object hashes, run ids and the scratch directory are normalised so that
two dumps diff cleanly.
"""
from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import io
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from data_pipeline_foundations_spark.session import get_spark  # noqa: E402
from data_pipeline_foundations_spark.streaming.stateful import (  # noqa: E402
    sessionize_stream,
)
from data_pipeline_foundations_spark.tables import load  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out-dir", default=os.path.join(ROOT, "plans", "pr4"))
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)

    spark = get_spark("dump_stream_plan", shuffle_partitions=4)
    ev = load(spark, args.sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        ts = sorted(r.ts for r in ev.select("ts").distinct().collect())
        last, cut = ts[-1], ts[len(ts) // 2]
        for part in (ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
                     spark.createDataFrame(
                         [(-1, last + dt.timedelta(days=7), -1)], ev.schema)):
            part.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (sessionize_stream(stream).writeStream.outputMode("append")
             .format("memory").queryName("dump_sessionize")
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue().replace(tmp, "<tmp>")
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"@[0-9a-f]+\b", "@<hash>", plan)
    plan = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<id>", plan)
    path = os.path.join(args.out_dir, f"sessionize_stream_{args.suffix}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
