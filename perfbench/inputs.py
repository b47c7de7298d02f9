"""Seeded benchmark inputs.

Every run derives its own copy of the vendored sf0.01 tables
(``data/sf0.01``, byte-identical to the generator's seed-42 output; see
``data/sf0.01/SHA256SUMS``) into a scratch directory. The seed sets:

  - a row permutation of every table (same schema, same physical types,
    one file with one row group per table, as the source);
  - the cut points that split ``events`` (in event-time order) and
    ``documents`` into stream files.

The program under test only ever sees these derived files, and every
correctness check runs against the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Appended as the last events stream file: one far-future event of a user
# id the data never uses. It advances the watermark past every open
# session, so the event-time timeouts of the sessionization twin fire and
# the streamed sessions become comparable with the batch twin.
FLUSH_USER = -1
FLUSH_TYPE = "flush"
DOCS_EVENT_TS = dt.datetime(2024, 1, 1)


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def derive_tables(dst: str, seed: int, names: tuple[str, ...] = TABLES) -> None:
    """Write a seeded row permutation of each source table to ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for name in names:
        src = os.path.join(SOURCE_DIR, f"{name}.parquet")
        table = pq.read_table(src)
        perm = _rng(seed, TABLES.index(name)).permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)),
                       os.path.join(dst, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1),
                       compression="snappy")


def _cuts(seed: int, salt: int, n_rows: int, n_files: int) -> list[int]:
    """Seeded cut points splitting n_rows into n_files chunks of nearly
    equal size: each inner cut moves at most a tenth of a chunk away from
    the even split, so the seed varies where batches begin, not how much
    work each one holds."""
    size = n_rows / n_files
    jitter = _rng(seed, salt).uniform(-0.1, 0.1, n_files - 1) * size
    inner = [round(i * size + j) for i, j in zip(range(1, n_files), jitter)]
    return [0, *inner, n_rows]


def _write_chunks(table: pa.Table, cuts: list[int], dst: str) -> list[str]:
    os.makedirs(dst, exist_ok=True)
    paths = []
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(dst, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        paths.append(path)
    return paths


def _utc(table: pa.Table, column: str) -> pa.Table:
    """Mark a naive timestamp column as UTC: the values stay the same, and
    Spark's file stream source reads it as TimestampType (the streaming
    twins declare that schema)."""
    i = table.schema.get_field_index(column)
    return table.set_column(i, column,
                            table[column].cast(pa.timestamp("us", tz="UTC")))


def split_events(tables_dir: str, dst: str, seed: int, n_files: int) -> list[str]:
    """Split the derived events into ``n_files`` files in event-time order
    (file k holds no event earlier than any event of file k-1), plus the
    flush file. A file stream source with ``maxFilesPerTrigger=1`` then
    never sees a late row."""
    ev = pq.read_table(os.path.join(tables_dir, "events.parquet"))
    ev = _utc(ev, "ts")
    ev = ev.take(pc.sort_indices(ev, [("ts", "ascending"),
                                      ("event_id", "ascending")]))
    paths = _write_chunks(ev, _cuts(seed, 101, ev.num_rows, n_files), dst)
    last = pc.max(ev["ts"]).as_py()
    flush = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([last + dt.timedelta(days=7)], ev.schema.field("ts").type),
        "user_id": pa.array([FLUSH_USER], pa.int64()),
        "event_type": pa.array([FLUSH_TYPE]),
        "value": pa.array([0.0]),
        "props": pa.array([None], pa.string()),
    }).select(ev.column_names).cast(ev.schema)
    path = os.path.join(dst, f"part-{len(paths):03d}.parquet")
    pq.write_table(flush, path)
    return [*paths, path]


def split_documents(tables_dir: str, dst: str, seed: int, n_files: int) -> list[str]:
    """Split the derived documents (in their permuted order) into
    ``n_files`` stream files. Every document gets the same ``event_ts``, so
    the whole stream falls inside one dedup watermark horizon."""
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"))
    docs = docs.append_column(
        "event_ts", pa.array([DOCS_EVENT_TS] * docs.num_rows,
                             pa.timestamp("us", tz="UTC")))
    return _write_chunks(docs, _cuts(seed, 102, docs.num_rows, n_files), dst)
