"""End-to-end batch plan: parse → enrich → route → write → aggregate.

This is the Spark restatement of the reference's resolve entry point
(SURVEY.md §3.1, binlog-main BinlogMain.java → TaskProcessor → BinlogFileReader
→ PartitionWriterManager): one linear DataFrame DAG instead of MQ + thread
pools. The raw-event scan + parse + broadcast enrich + routing expressions run
shuffle-free inside one codegen stage; the only shuffles are the soft-delete
window (which doubles as the fan-out write clustering) and the final
aggregates (keyed by sink).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_raw, split_quarantine
from ..operators import aggregate as agg
from ..operators.enrich import enrich_routing
from ..operators.resume import ProcessedManifest, remaining_events
from ..operators.route import PARTITION_COLS, route, sign_timeline
from ..storage.table import SnapshotTable


@dataclass
class PipelineResult:
    metrics: dict = field(default_factory=dict)
    tables: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    raw_df: DataFrame,
    routing_df: DataFrame,
    out_dir: str,
    resume: bool = True,
    with_metrics: bool = True,
    profile: bool = False,
    stats_columns: list[str] | None = None,
    write_clustering: str = "rebalance",
) -> PipelineResult:
    """raw_df: one `raw` string column (the serialized event log).
    routing_df: broadcast dimension (table_key → sink attributes).
    Writes snapshot tables under out_dir; returns metrics + table handles.

    ``with_metrics=False`` drops the per-batch parse-latency stamping (and
    its percentiles from the result) — the latency column rides the persisted
    relation through the whole job, so benchmarks measure both settings.
    ``profile=True`` materializes the parse cache as its own action so
    ``phase_sec`` attributes parse separately from the write (same total
    work — the write then reads the cache — but one extra cache pass).

    A run's quarantine rows (``status``, ``raw`` of every line that failed
    to parse) are held on the driver, as its lineage rows are: they ride
    the parse observation out of the one parse pass and are committed
    driver-side. A quarantine too large for driver memory has no spill
    path.
    """
    t0 = time.time()
    phases: dict[str, float] = {}
    manifest = ProcessedManifest(os.path.join(out_dir, "_processed.json"))
    already_done = manifest.load() if resume else set()

    # ONE physical parse pass, ZERO extra materializations: the quarantine
    # rows and the parse-latency percentiles ride the write action as an
    # `observe()` (CollectMetrics) node on the parsed stream — no persist of
    # the parsed relation and no second parse. An earlier design cached
    # parsed (7M+ rows of token arrays) just to serve those outputs; on a
    # shared memory bus that cache write was a second copy of the whole fact
    # table, and at 10^12 rows it would be a second copy of the corpus. The
    # quarantine is the rare lane, so its (status, raw) pairs are collected
    # into the observation itself — OK rows contribute a NULL that
    # collect_list skips.
    parsed = parse_raw(raw_df, with_metrics=with_metrics)
    quarantine_schema = parsed.select("status", "raw").schema
    obs = Observation("parse_metrics")
    obs_exprs = [
        F.collect_list(
            F.when(F.col("status") != "OK", F.struct("status", "raw"))
        ).alias("quarantine"),
    ]
    if with_metrics:
        obs_exprs.append(
            F.percentile_approx("parse_batch_us", [0.5, 0.95, 0.99])
            .alias("lat_pcts")
        )
    parsed = parsed.observe(obs, *obs_exprs)
    if profile:
        # profile mode: materialize the parse separately so phase_sec can
        # attribute it (costs the cache pass the production path no longer has)
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
        t = time.time()
        parsed.count()
        phases["parse_persist"] = round(time.time() - t, 3)
    good, _ = split_quarantine(parsed)
    if with_metrics:
        good = good.drop("parse_batch_us")
    # the wire's (source, bucket) is the TABLE_MAP key (tableId analogue)
    good = good.withColumn(
        "table_key",
        F.concat_ws("#", F.col("source"), F.col("bucket").cast("string")),
    )
    if resume:
        good = remaining_events(good, already_done)

    enriched = enrich_routing(good, routing_df)
    # Soft-delete needs the sign timeline, and deriving it from `enriched`
    # (route()'s default) re-executes the whole scan→parse subtree as the
    # broadcast-subquery job — a SECOND full hex-decode of every token
    # payload just to find the rare administrative sign rows. The sign field
    # is wire field 10, BEFORE the token payload (field 12), so a pure
    # codegen split_part prefilter on the raw line finds candidate rows
    # while scanning only the short fixed-field prefix — then the identical
    # parse→resume→enrich→filter chain runs on that sliver only. Bit-equal
    # by construction: concat_ws renders a NULL sign as the empty string, so
    # non-empty field 10 ⇔ sign IS NOT NULL, and corrupt/resumed/ignored
    # rows fall out of the sliver exactly as they fall out of `kept`.
    # The sliver holds only the rare sign rows, so it is parsed in ONE
    # Python task (each Python task has a fixed worker-side start cost);
    # the shuffle sits after the filter, so the raw scan stays parallel.
    sign_sliver = raw_df.filter(
        F.split_part(F.col("raw"), F.lit("|"), F.lit(10)) != F.lit("")
    ).repartition(1)
    sliver_good, _ = split_quarantine(parse_raw(sign_sliver, with_metrics=False))
    sliver_good = sliver_good.withColumn(
        "table_key",
        F.concat_ws("#", F.col("source"), F.col("bucket").cast("string")),
    )
    if resume:
        sliver_good = remaining_events(sliver_good, already_done)
    timeline = sign_timeline(enrich_routing(sliver_good, routing_df))
    # cluster_for_write: the one fact shuffle in the whole plan — pre-explode
    # repartition by sink so each partition dir is written by one task.
    # The envelope keeps `before`/`after` as derived views for queries, but
    # only `img` is persisted/written: the three structs share one token
    # array, and tripling it would triple shuffle, cache, and parquet bytes
    # (the dominant cost at 10^12 rows).
    # Written directly, never cached: caching would columnar-encode every
    # token array a second time, and no consumer needs the arrays again —
    # the aggregates below re-read the committed parquet with the token
    # column pruned away (a few % of the written bytes).
    routed, ignored_counts = route(
        enriched, cluster_for_write=write_clustering, sign_timeline=timeline
    )
    # storage flattens the image: img.doc_id / img.n_tok always equal the
    # top-level columns (with_envelope builds the image from the same row),
    # so persisting the struct would carry a second doc_id STRING and n_tok
    # through the shuffle, the cache, and the parquet encode — at 10^12 rows
    # that duplication is real bytes. Readers reconstruct the envelope from
    # (doc_id, n_tok, img_tokens).
    routed = routed.select(
        "tree",
        "db_instance",
        "database_name",
        "table_name",
        "part_month",
        "part_date",
        "doc_id",
        "op",
        "event_seq",
        "commit_ts",
        "create_ts",
        "file_id",
        "source",
        "n_tok",
        F.col("img.tokens").alias("img_tokens"),
    )
    try:
        tables = {
            name: SnapshotTable(os.path.join(out_dir, name))
            for name in (
                "routed",
                "sink_counts",
                "watermarks",
                "histograms",
                "lineage",
                "quarantine",
            )
        }
        t = time.time()
        tables["routed"].write(
            routed,
            partition_by=PARTITION_COLS,
            mode="overwrite" if not resume else "append",
            # opt-in zone maps (e.g. ["commit_ts"]): one footer pass at
            # commit; selective readers then plan file-skipping from the
            # manifest (SnapshotTable.read_where)
            stats_columns=stats_columns,
        )
        phases["route_write"] = round(time.time() - t, 3)
        # aggregates reflect the committed table (not just the increment) so
        # a resumed run republishes complete counts — the reference
        # re-derives counts from t_binlog_process_log the same way
        # (BaseDataCompare.java:38-67). One column-pruned scan feeds all four
        # outputs via a shared super-key rollup.
        t = time.time()
        committed = tables["routed"].read(spark)
        sink_counts, wm, hist, lineage, rollup_base = agg.single_pass_rollups(committed)

        # materialize the shared rollup ONCE before fanning out publishes —
        # otherwise the concurrent jobs below race to compute the same cached
        # partitions
        rollup_base.count()
        phases["rollup"] = round(time.time() - t, 3)

        # observed during the routed write — no extra pass over parsed
        try:
            observed = obs.get
        except Exception:
            # AQE's runtime empty-relation propagation can replace the whole
            # map subtree (including the CollectMetrics node) with an empty
            # LocalTableScan when the write increment turns out empty — e.g.
            # a fully-resumed rerun or an all-corrupt increment — and the
            # observation then surfaces as a schema-less row that fails to
            # deserialize. Recompute it with an explicit aggregate; this rare
            # path re-parses, but only on runs that wrote nothing.
            row = parse_raw(raw_df, with_metrics=with_metrics).agg(
                *obs_exprs
            ).collect()[0]
            observed = row.asDict()
        quarantine_rows = [tuple(r) for r in observed["quarantine"] or []]
        n_quarantine = len(quarantine_rows)
        lat = observed.get("lat_pcts") if with_metrics else None
        lat_p50, lat_p95, lat_p99 = lat if lat else (None, None, None)

        # the four aggregate outputs are tiny (per-sink cardinality), so
        # each is collected as Arrow and committed driver-side
        # (SnapshotTable.write_small): one collect job instead of a Spark
        # write job with its planning and committer tail. The collects are
        # submitted CONCURRENTLY — their fixed submit costs don't
        # parallelize inside one job — and Spark's scheduler handles
        # multi-threaded job submission natively.
        from concurrent.futures import ThreadPoolExecutor

        def _publish(name: str, df: DataFrame):
            data = df.toArrow()
            tables[name].write_small(spark, data, df.schema)
            return data

        t = time.time()
        with ThreadPoolExecutor(max_workers=5) as ex:
            f_pub = {
                name: ex.submit(_publish, name, df)
                for name, df in (
                    ("sink_counts", sink_counts),
                    ("watermarks", wm),
                    ("histograms", hist),
                    ("lineage", lineage),
                )
            }
            if n_quarantine:
                f_pub["quarantine"] = ex.submit(
                    tables["quarantine"].write_small,
                    spark, quarantine_rows, quarantine_schema,
                )
            # lineage is one row per file×sink: collected once, reused for
            # the manifest, the routed-row metric and the run report
            lineage_rows = f_pub["lineage"].result().to_pylist()
            for f in f_pub.values():
                f.result()
        rollup_base.unpersist()
        phases["publish"] = round(time.time() - t, 3)

        # one atomic catalog version pins every table this run committed:
        # a reader between the routed commit and a rollup commit sees the
        # PREVIOUS consistent set, never new data with stale counts
        # (storage/catalog.py). One JSON write.
        from ..storage.catalog import Catalog

        Catalog(out_dir).commit(
            {
                name: t.current_snapshot()
                for name, t in tables.items()
                if t.current_snapshot() is not None
            },
            note="pipeline",
        )

        # lineage spans the whole committed table; metrics report THIS run's
        # increment (the reference's per-run t_binlog_process_log semantics)
        files_done = sorted({r["file_id"] for r in lineage_rows})
        new_files = [f for f in files_done if f not in already_done]
        n_routed = sum(
            r["routed_cnt"]
            for r in lineage_rows
            if r["file_id"] not in already_done
        )
        manifest.mark(files_done)

        metrics = {
            "rows_routed": n_routed,
            "rows_failed": n_quarantine,
            "files_processed": len(new_files),
            # per-Arrow-batch parse wall time percentiles (BASELINE metrics
            # contract: rows parsed/routed/failed + parse-latency pcts)
            "parse_batch_us_p50": lat_p50,
            "parse_batch_us_p95": lat_p95,
            "parse_batch_us_p99": lat_p99,
            "wall_sec": round(time.time() - t0, 3),
            "phase_sec": phases,
        }
        # run-health report (the reference's t_binlog_process_report +
        # Prometheus counters, DBbiz.java:133-156 / PrometheusMetrics.java):
        # one narrow metric/value snapshot per run, next to lineage —
        # zero extra scans (cardinalities fold the collected lineage
        # rows) and one tiny single-file commit after wall_sec is
        # stamped (it reports that wall).
        from ..operators.report import (
            REPORT_SCHEMA_DDL,
            process_report_rows,
        )

        rpt_rows = process_report_rows(
            metrics,
            routed_files=len(tables["routed"].data_files()),
            # sink/tree cardinalities from the rows _publish_lineage
            # already collected — the report adds ZERO scans to the run
            lineage_rows=lineage_rows,
        )
        rpt_tbl = SnapshotTable(os.path.join(out_dir, "process_report"))
        from pyspark.sql.types import _parse_datatype_string

        rpt_tbl.write_small(
            spark,
            rpt_rows,
            _parse_datatype_string(REPORT_SCHEMA_DDL),
            mode="append",
        )
        tables["process_report"] = rpt_tbl
        return PipelineResult(metrics=metrics, tables=tables)
    finally:
        if profile:
            parsed.unpersist()
