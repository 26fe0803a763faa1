"""Seeded, vectorized input generator for the benchmark.

Produces change events in the logical schema of
``binlog_processer_spark.sources.generator`` (doc_id, doc_num, source, r,
tokens, n_tok, op, event_seq, commit_ts, create_ts, file_id, bucket,
table_key, sign) from a numpy ``Generator`` seeded by the workload seed, so
the same seed gives byte-identical inputs. Timestamps are kept as unix
seconds (``commit_s``/``create_s``) in the logical parquet; the Spark side
turns them into timestamps before serializing.

The program under test only ever sees the raw wire lines (written by
``functions.parse.serialize_expr``, optionally truncated by
``functions.parse.corrupt_expr``) and the routing dimension. The logical
parquet stays with the benchmark, which computes its reference answers from
it (reference.py).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# few sinks keep the program's per-sink fixed cost (one routed file per
# sink, tree and month) small next to the per-row work
N_SOURCES = 2
N_BUCKETS = 4
N_SINKS = N_SOURCES * N_BUCKETS
FILES_PER_SOURCE = 4
EPOCH_S = 1704067200  # 2024-01-01 00:00:00 UTC
# event_seq = day * SEQ_DAY + doc * 4 + r keeps sequences unique across
# days and ordered by day (doc < 2.5e8, r < 4)
SEQ_DAY = 1_000_000_000
DAY1_MIN = 31 * 1440  # day 1 starts 2024-02-01 00:00 UTC
# sink 0 (src0#0) is hot: HOT_SHARE of docs plus a uniform share of the
# rest puts 46% of all docs there
HOT_SHARE = (0.46 - 1 / N_SINKS) / (1 - 1 / N_SINKS)
OPS = pa.array(["Create", "Update", "Delete"])
CREATE, UPDATE, DELETE = 0, 1, 2
IGNORED_SINK = "src1#3"


def routing_table() -> pa.Table:
    """Routing dimension (table_key → sink attributes); one sink is on the
    ignore list, so its events are counted but not routed."""
    rows = []
    for sn in range(N_SOURCES):
        src = f"src{sn}"
        for b in range(N_BUCKETS):
            rows.append(
                (
                    f"{src}#{b}",
                    f"inst{b % 2}",
                    f"db_{src}{b % 2 + 1}",
                    f"db_{src}",
                    f"t{b}",
                    f"db_{src}.t{b}",
                    f"{src}#{b}" == IGNORED_SINK,
                )
            )
    names = [
        "table_key", "db_instance", "database_sharded", "database_name",
        "table_name", "route", "ignored",
    ]
    return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


def _tokens(rng: np.random.Generator, n: int, min_tok: int, max_tok: int):
    n_tok = rng.integers(min_tok, max_tok + 1, n).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, 32000, int(offsets[-1]), dtype=np.int32)
    return n_tok, pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _sign(rng: np.random.Generator, n: int) -> pa.Array:
    # rare administrative archive-flag rows: ~1% set, ~1% clear
    u = rng.random(n)
    sign = np.where(u < 1 / 97, 1, 0).astype(np.int32)
    return pa.array(sign, mask=u >= 2 / 97)


def _sinks(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(source, bucket) per doc, with the hot sink at 46%."""
    sink = np.where(rng.random(n) < HOT_SHARE, 0, rng.integers(0, N_SINKS, n))
    return sink // N_BUCKETS, sink % N_BUCKETS


def _cat(*parts) -> pa.Array:
    """Element-wise string concatenation of literals and integer arrays."""
    cols = [
        p if isinstance(p, (str, pa.Array)) else pa.array(p).cast(pa.string())
        for p in parts
    ]
    return pc.binary_join_element_wise(*cols, "")


def _table(
    rng, doc, src, bucket, r, op, event_seq, commit_s, create_s, day,
    min_tok, max_tok,
) -> pa.Table:
    n = len(doc)
    n_tok, tokens = _tokens(rng, n, min_tok, max_tok)
    file_j = rng.integers(0, FILES_PER_SOURCE, n)
    source = _cat("src", src)
    return pa.table(
        {
            "doc_id": pa.array(doc).cast(pa.string()),
            "doc_num": doc.astype(np.int64),
            "source": source,
            "r": r.astype(np.int32),
            "tokens": tokens,
            "n_tok": n_tok,
            "op": pc.take(OPS, pa.array(op)),
            "event_seq": event_seq.astype(np.int64),
            "commit_s": commit_s.astype(np.int64),
            "create_s": create_s.astype(np.int64),
            "file_id": _cat(source, f"-d{day}-f", file_j),
            "bucket": bucket.astype(np.int32),
            "table_key": _cat(source, "#", bucket),
            "sign": _sign(rng, n),
        }
    )


def _base_events(rng, doc0: int, n_docs: int, min_tok: int, max_tok: int):
    """Day 0: 1-3 events per doc; the first is a Create, later ones Update,
    and the last of a multi-event doc is a Delete one time in four."""
    doc = doc0 + np.arange(n_docs, dtype=np.int64)
    src, bucket = _sinks(rng, n_docs)
    create_min = rng.integers(0, 20_000, n_docs)
    k = rng.integers(1, 4, n_docs)
    idx = np.repeat(np.arange(n_docs), k)
    starts = np.repeat(np.cumsum(k) - k, k)
    r = np.arange(len(idx)) - starts
    last = r == k[idx] - 1
    op = np.where(r == 0, CREATE, UPDATE)
    op[last & (r > 0) & (rng.random(len(idx)) < 0.25)] = DELETE
    # commit times increase along a doc's events, each gap under 2000 min,
    # so every base commit lands in January 2024 (one part_month per tree)
    # and day 1 (February) is strictly later
    gap = rng.integers(0, 2000, len(idx))
    cg = np.cumsum(gap)
    commit_min = create_min[idx] + cg - (cg[starts] - gap[starts])
    cols = (
        doc[idx], src[idx], bucket[idx], r, op,
        doc[idx] * 4 + r,
        EPOCH_S + commit_min * 60,
        EPOCH_S + create_min[idx] * 60,
    )
    return cols, (doc, src, bucket, create_min)


def _day1_events(rng, base_docs, n_events: int):
    """Day 1 increment: 60% single Update/Delete events on existing docs,
    40% new docs (Create, sometimes followed by an Update)."""
    doc, src, bucket, create_min = base_docs
    n_old = min(int(n_events * 0.6), len(doc))
    pick = rng.choice(len(doc), n_old, replace=False)
    old_op = np.where(rng.random(n_old) < 0.8, UPDATE, DELETE)
    n_new_docs = max(1, (n_events - n_old) * 2 // 3)
    new_doc = int(doc.max()) + 1 + np.arange(n_new_docs, dtype=np.int64)
    k = rng.integers(1, 3, n_new_docs)
    idx = np.repeat(np.arange(n_new_docs), k)
    r_new = np.arange(len(idx)) - np.repeat(np.cumsum(k) - k, k)
    new_src, new_bucket = _sinks(rng, n_new_docs)
    new_create_min = DAY1_MIN + rng.integers(0, 720, n_new_docs)

    d = np.concatenate([doc[pick], new_doc[idx]])
    r = np.concatenate([np.zeros(n_old, dtype=np.int64), r_new])
    op = np.concatenate([old_op, np.where(r_new == 0, CREATE, UPDATE)])
    commit_min = np.concatenate(
        [
            DAY1_MIN + rng.integers(0, 1440, n_old),
            new_create_min[idx] + 720 * r_new,
        ]
    )
    cols = (
        d,
        np.concatenate([src[pick], new_src[idx]]),
        np.concatenate([bucket[pick], new_bucket[idx]]),
        r, op,
        SEQ_DAY + d * 4 + r,
        EPOCH_S + commit_min * 60,
        EPOCH_S + np.concatenate([create_min[pick], new_create_min[idx]]) * 60,
    )
    return cols


def generate(
    seed: int,
    n_docs: int,
    min_tok: int,
    max_tok: int,
    day1_frac: float = 0.0,
) -> list[pa.Table]:
    """Logical events per day: ``[day0]`` or, with ``day1_frac`` > 0,
    ``[day0, day1]`` where day 1 holds about ``day1_frac`` × day-0 events
    with its own file_ids."""
    rng = np.random.default_rng(seed)
    doc0 = int(rng.integers(0, 10_000_000))
    cols, base_docs = _base_events(rng, doc0, n_docs, min_tok, max_tok)
    days = [_table(rng, *cols, 0, min_tok, max_tok)]
    if day1_frac > 0:
        n1 = max(1, int(days[0].num_rows * day1_frac))
        cols1 = _day1_events(rng, base_docs, n1)
        days.append(_table(rng, *cols1, 1, min_tok, max_tok))
    return days


def write_logical(tables: list[pa.Table], out_dir: str,
                  n_files: int) -> list[str]:
    """Each day's events as ``n_files`` parquet files in ``<out_dir>/day<d>``
    (one Spark read task per file); returns the day directories."""
    dirs = []
    for day, t in enumerate(tables):
        d = os.path.join(out_dir, f"day{day}")
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(t.slice(i * step, step),
                           os.path.join(d, f"part-{i:03d}.parquet"))
        dirs.append(d)
    return dirs


def write_raw(spark, logical_dir: str, raw_dir: str, corrupt: bool) -> None:
    """Serialize one day's logical events to raw wire lines with the
    program's own ``serialize_expr`` (and ``corrupt_expr`` for the
    quarantine workload): one raw parquet file per logical file."""
    from pyspark.sql import functions as F

    from binlog_processer_spark.functions.parse import (
        corrupt_expr,
        serialize_expr,
    )

    ev = (
        spark.read.parquet(logical_dir)
        .withColumn("commit_ts", F.timestamp_seconds("commit_s"))
        .withColumn("create_ts", F.timestamp_seconds("create_s"))
    )
    raw = serialize_expr()
    if corrupt:
        raw = corrupt_expr(raw, F.col("doc_num"), F.col("r"))
    ev.select(raw.alias("raw")).write.parquet(raw_dir)
