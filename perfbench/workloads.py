"""The benchmark's workloads.

Each workload generates its inputs from the seed in ``setup``, runs one
timed repetition with ``rep`` (only public calls of the program), checks a
repetition's outputs against the DuckDB reference with ``check``, and can
replay the same work layer by layer under a ``Tracer`` with ``traced``.

- ingest_narrow: cold ``run_pipeline`` over short events (1-16 tokens) with
  ~0.5% truncated lines — per-row work and the quarantine path.
- ingest_wide: cold ``run_pipeline`` over clean events of up to 1024 tokens
  — per-byte work (hex decode, shuffle, parquet encode).
- daily_cycle: resumed ingest of a new day over the whole input directory,
  final-state replay + reconcile against a replica with seeded divergences,
  then a committed repair and a re-verify.

BENCHMARK.json lists ingest_narrow and daily_cycle only: on a 4-vCPU host each
run pays a cold JVM set-up of about 35 s, and the total time budget holds
two workloads' runs, not three. ingest_wide runs on request.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, replace

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from binlog_processer_spark.functions.parse import parse_raw, split_quarantine
from binlog_processer_spark.operators.aggregate import (
    final_state,
    single_pass_rollups,
)
from binlog_processer_spark.operators.enrich import enrich_routing
from binlog_processer_spark.operators.repair import KEYS, repair
from binlog_processer_spark.operators.resume import (
    ProcessedManifest,
    remaining_events,
)
from binlog_processer_spark.operators.route import (
    PARTITION_COLS,
    filter_system_schemas,
    route,
    sign_timeline,
    split_ignored,
)
from binlog_processer_spark.operators.verify import reconcile
from binlog_processer_spark.plans.pipeline import run_pipeline
from binlog_processer_spark.storage.catalog import Catalog
from binlog_processer_spark.storage.table import SnapshotTable

import gen
import probes
from reference import FINDING_CLASSES, Reference

# the routed columns the pipeline persists (plans/pipeline.py)
ROUTED_COLS = [
    "tree", "db_instance", "database_name", "table_name", "part_month",
    "part_date", "doc_id", "op", "event_seq", "commit_ts", "create_ts",
    "file_id", "source", "n_tok", "img.tokens AS img_tokens",
]
ROLLUP_COLS = [
    "tree", "db_instance", "database_name", "table_name", "part_date",
    "file_id", "op", "commit_ts",
]
PUBLISHED = ("sink_counts", "watermarks", "histograms", "lineage")
# input files per day: one parse task each, four waves on local[4]
RAW_FILES = 16


@dataclass(frozen=True)
class Sizes:
    n_docs: int
    min_tok: int
    max_tok: int
    corrupt: bool = False
    day1_frac: float = 0.0


SIZES = {
    "ingest_narrow": Sizes(50_000, 1, 16, corrupt=True),
    "ingest_wide": Sizes(6_000, 1, 1024),
    "daily_cycle": Sizes(12_000, 1, 16, day1_frac=0.05),
}


def table_key(df):
    """The TABLE_MAP key the pipeline derives from the wire's (source,
    bucket)."""
    return df.withColumn(
        "table_key",
        F.concat_ws("#", F.col("source"), F.col("bucket").cast("string")),
    )


def routed_events(spark, wh: str):
    """Update-tree routed rows as change records (one row per event)."""
    routed = SnapshotTable(os.path.join(wh, "routed")).read(spark)
    return routed.filter(F.col("tree") == "update").select(
        "database_name", "table_name", "doc_id", "op", "event_seq",
        "commit_ts", F.col("img_tokens").alias("tokens"),
    )


def _files(root: str, name: str) -> list[str]:
    return SnapshotTable(os.path.join(root, name)).data_files()


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Workload:
    """Inputs of one seed plus the reference answers computed from them."""

    resume = False

    def __init__(self, name: str, spark, work_dir: str, seed: int,
                 sizes: Sizes):
        self.name = name
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.sizes = sizes
        self._rep = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, name: str) -> str:
        self._rep += 1
        p = self.path(f"{name}-{self._rep}")
        shutil.rmtree(p, ignore_errors=True)
        return p

    def setup(self, checks) -> None:
        s = self.sizes
        days = gen.generate(self.seed, s.n_docs, s.min_tok, s.max_tok,
                            day1_frac=s.day1_frac)
        self.events_per_day = [t.num_rows for t in days]
        day_paths = gen.write_logical(days, self.path("logical"), RAW_FILES)
        routing_path = self.path("routing.parquet")
        pq.write_table(gen.routing_table(), routing_path)
        for i, p in enumerate(day_paths):
            gen.write_raw(self.spark, p, self.path("raw", f"day={i}"),
                          s.corrupt)
        self.routing = self.spark.read.parquet(routing_path)
        self.ref = Reference(day_paths, routing_path, s.corrupt)

    def raw(self, day: int | None = None):
        sub = ("raw",) if day is None else ("raw", f"day={day}")
        return self.spark.read.parquet(self.path(*sub))

    def cleanup(self, state: dict) -> None:
        for p in state.get("dirs", ()):
            shutil.rmtree(p, ignore_errors=True)

    def close(self) -> None:
        self.ref.close()

    # -- checks ----------------------------------------------------------------
    def check_ingest(self, checks, out: str, run: int,
                     metrics: dict | None) -> None:
        """Outputs of ingest run ``run`` (tables cover runs 0..run)."""
        ref = self.ref
        if metrics is not None:
            checks.equal("rows_routed", ref.n_routed_rows(run),
                         metrics["rows_routed"])
            checks.equal("rows_failed", ref.n_corrupt(run),
                         metrics["rows_failed"])
            checks.equal("files_processed", ref.routed_files(run),
                         metrics["files_processed"])
        checks.run("sink_counts_rows_differing", lambda: (
            0, ref.sink_counts_diff(_files(out, "sink_counts"), run)))
        checks.run("lineage_rows_differing", lambda: (
            0, ref.lineage_diff(_files(out, "lineage"), run)))
        checks.run("routed_hash", lambda: (
            ref.expected_routed_hash(run),
            ref.routed_hash(_files(out, "routed"))))
        checks.run("quarantine_rows", lambda: (
            ref.n_corrupt(run), ref.row_count(_files(out, "quarantine"))))

    # -- traced replay of the ingest layers --------------------------------------
    def traced_pipeline(self, tr, raw_df, out: str) -> dict:
        """parse → resume → enrich → route → write → read + rollup →
        publish → quarantine → catalog commit, each materialized at its
        boundary under its own span. Returns the boundary counts."""
        spark = self.spark
        c: dict = {}
        manifest = ProcessedManifest(os.path.join(out, "_processed.json"))
        done = manifest.load() if self.resume else set()
        tables = {
            n: SnapshotTable(os.path.join(out, n))
            for n in ("routed", *PUBLISHED, "quarantine")
        }
        cached = []
        with tr.span("parse", stages=True) as sp:
            parsed, c["parse.rows_in"] = _persist(
                parse_raw(raw_df, with_metrics=True))
            cached.append(parsed)
            row = parsed.agg(
                F.sum((F.col("status") != "OK").cast("long")).alias("bad"),
                F.percentile("parse_batch_us", [0.5, 0.99]).alias("p"),
            ).collect()[0]
            c["parse.rows_quarantined"] = int(row["bad"] or 0)
            c["parse.batch_us_p50"], c["parse.batch_us_p99"] = row["p"]
            sp["counts"].update(rows=c["parse.rows_in"])
        good, bad = split_quarantine(parsed)
        good = table_key(good.drop("parse_batch_us"))
        with tr.span("resume") as sp:
            seen = {r.file_id for r in good.select("file_id").distinct().collect()}
            c["resume.files_skipped"] = len(seen & done)
            good, n_good = _persist(remaining_events(good, done))
            cached.append(good)
            c["parse.useful_frac"] = n_good / max(1, c["parse.rows_in"])
            sp["counts"].update(rows=n_good)
        with tr.span("enrich") as sp:
            enriched, n_enriched = _persist(enrich_routing(good, self.routing))
            cached.append(enriched)
            c["enrich.rows_dropped"] = n_good - n_enriched
            sp["counts"].update(rows=n_enriched)
        with tr.span("route", stages=True) as sp:
            timeline = sign_timeline(enriched)
            routed, ignored = route(enriched, cluster_for_write="rebalance",
                                    sign_timeline=timeline)
            routed, c["route.rows_out"] = _persist(routed.selectExpr(*ROUTED_COLS))
            cached.append(routed)
            sp["counts"].update(rows=c["route.rows_out"])
        c["route.shuffle_write_mb"] = sp["stage"]["shuffle_write_b"] / 1e6
        kept, _ = split_ignored(filter_system_schemas(enriched))
        n_kept = kept.count()
        c["route.rows_ignored"] = int(
            ignored.agg(F.sum("ignored_cnt")).collect()[0][0] or 0)
        # every kept event becomes one row in each of the two trees
        c["route.rows_soft_deleted"] = n_kept - c["route.rows_out"] // 2
        task_bytes = sorted(
            r[0] for r in routed.groupBy(F.spark_partition_id())
            .agg(F.sum(4 * F.col("n_tok") + F.length("doc_id") + 64))
            .collect()
        )
        c["route.task_skew"] = (
            task_bytes[-1] / statistics.median(task_bytes) if task_bytes else 0.0
        )
        before = set(tables["routed"].data_files())
        with tr.span("table.write"):
            tables["routed"].write(
                routed, partition_by=PARTITION_COLS,
                mode="append" if self.resume else "overwrite")
        new_files = set(tables["routed"].data_files()) - before
        sizes = tables["routed"].file_sizes()
        c["table.files_written"] = len(new_files)
        c["table.bytes_written_mb"] = sum(
            v for k, v in sizes.items()
            if os.path.join(tables["routed"].root, k) in new_files) / 1e6
        with tr.span("table.read") as sp:
            committed, c["aggregate.base_rows"] = _persist(
                tables["routed"].read(spark).select(*ROLLUP_COLS))
            cached.append(committed)
            sp["counts"].update(rows=c["aggregate.base_rows"])
        with tr.span("aggregate.rollup") as sp:
            sink_counts, wm, hist, lineage, base = single_pass_rollups(committed)
            cached.append(base)
            sp["counts"].update(rows=base.count())
        with tr.span("aggregate.publish"):
            for name, df in zip(PUBLISHED, (sink_counts, wm, hist, lineage)):
                with tr.span(f"publish.{name}"):
                    tables[name].write(df.coalesce(1))
        lineage_files = lineage.select("file_id").distinct().collect()
        with tr.span("quarantine"):
            if c["parse.rows_quarantined"]:
                tables["quarantine"].write(bad)
        with tr.span("catalog.commit"):
            Catalog(out).commit(
                {n: t.current_snapshot() for n, t in tables.items()
                 if t.current_snapshot() is not None},
                note="pipeline",
            )
            manifest.mark(sorted(r.file_id for r in lineage_files))
        for df in cached:
            df.unpersist()
        return c


class Ingest(Workload):
    """One cold ``run_pipeline`` over the generated input per repetition."""

    def rep(self) -> dict:
        out = self.fresh("out")
        raw = self.raw()
        watch = probes.Stopwatch()
        res = run_pipeline(self.spark, raw, self.routing, out, resume=False)
        wall, cpu, jit = watch.read()
        return {
            "cycle_s": wall,
            "ingest_s": wall,
            "cycle_cpu_s": cpu,
            "ingest_cpu_s": cpu,
            "cycle_jit_s": jit,
            "events": sum(self.events_per_day),
            "pipeline": res.metrics,
            "out": out,
            "dirs": [out],
        }

    def check(self, checks, state: dict) -> None:
        self.check_ingest(checks, state["out"], 0, state.get("pipeline"))

    def traced(self, tr) -> dict:
        out = self.fresh("traced")
        with tr.span("workload"):
            counts = self.traced_pipeline(tr, self.raw(), out)
        return {"counts": counts, "out": out, "dirs": [out]}

    def check_traced(self, checks, state: dict) -> None:
        self.check_ingest(checks, state["out"], 0, None)


class DailyCycle(Workload):
    """Set-up ingests day 0 into a warehouse and stores a replica of the
    final state after day 1 with seeded divergences. Each repetition works
    on fresh copies of both: resumed ingest of the whole input directory,
    final-state replay + reconcile, committed repair, re-verify."""

    resume = True

    def setup(self, checks) -> None:
        super().setup(checks)
        self.pristine = self.path("pristine")
        wh = os.path.join(self.pristine, "wh")
        res = run_pipeline(self.spark, self.raw(0), self.routing, wh,
                           resume=True)
        self.check_ingest(checks, wh, 0, res.metrics)
        self.expected_findings = self.ref.build_replica(
            self.seed, self.path("replica.parquet"))
        replica = self.spark.read.parquet(self.path("replica.parquet")).select(
            *KEYS,
            F.timestamp_seconds("replica_ts_s").alias("replica_ts"),
            "replica_tokens",
        )
        SnapshotTable(os.path.join(self.pristine, "replica")).write(
            replica.repartition(8))

    def _copies(self, name: str) -> tuple[str, str]:
        d = self.fresh(name)
        shutil.copytree(self.pristine, d)
        return os.path.join(d, "wh"), os.path.join(d, "replica")

    def _findings(self, findings) -> dict[str, int]:
        got = dict.fromkeys(FINDING_CLASSES, 0)
        for r in findings.groupBy("finding").agg(F.count("*").alias("n")).collect():
            got[r["finding"]] = r["n"]
        return got

    def _hit_files(self, replica, findings) -> list[str]:
        """Replica data files holding a flagged key (the repair rewrites
        only these)."""
        flagged = findings.select(*KEYS).distinct()
        return sorted(
            r["f"] for r in replica.withColumn("f", F.input_file_name())
            .join(flagged, KEYS, "left_semi").select("f").distinct().collect()
        )

    def _verify_repair(self, wh: str, rp: str) -> dict:
        """Final-state replay + reconcile, then a repair committed to the
        replica (only the files holding a flagged key) and a re-verify."""
        spark = self.spark
        fs = final_state(routed_events(spark, wh)).persist()
        replica_tbl = SnapshotTable(rp)
        replica = replica_tbl.read(spark)
        findings = reconcile(None, replica, fs=fs).persist()
        found = self._findings(findings)
        snap = replica_tbl.current_snapshot()
        if sum(found.values()):
            hit = self._hit_files(replica, findings)
            repaired = repair(None, replica_tbl.read_files(spark, hit),
                              findings, fs=fs)
            snap = replica_tbl.rewrite_files(hit, repaired)
        after = reconcile(None, replica_tbl.read(spark, snapshot=snap),
                          fs=fs).count()
        findings.unpersist()
        fs.unpersist()
        return {"found": found, "after": after}

    def rep(self) -> dict:
        wh, rp = self._copies("cycle")
        raw = self.raw()
        watch = probes.Stopwatch()
        res = run_pipeline(self.spark, raw, self.routing, wh, resume=True)
        ingest_s, ingest_cpu_s, _ = watch.read()
        verdict = self._verify_repair(wh, rp)
        cycle_s, cycle_cpu_s, cycle_jit_s = watch.read()
        return {
            "cycle_s": cycle_s,
            "ingest_s": ingest_s,
            "cycle_cpu_s": cycle_cpu_s,
            "ingest_cpu_s": ingest_cpu_s,
            "cycle_jit_s": cycle_jit_s,
            "events": sum(self.events_per_day),
            "pipeline": res.metrics,
            "wh": wh,
            "replica": rp,
            **verdict,
            "dirs": [os.path.dirname(wh)],
        }

    def check_cycle(self, checks, state: dict) -> None:
        for cls in FINDING_CLASSES:
            checks.equal(f"findings.{cls}", self.expected_findings[cls],
                         state["found"][cls])
        checks.equal("findings_after_repair", 0, state["after"])
        checks.run("repaired_replica_hash", lambda: (
            self.ref.expected_replica_hash(),
            self.ref.replica_hash(SnapshotTable(state["replica"]).data_files()),
        ))

    def check(self, checks, state: dict) -> None:
        self.check_ingest(checks, state["wh"], 1, state.get("pipeline"))
        self.check_cycle(checks, state)

    def traced(self, tr) -> dict:
        spark = self.spark
        wh, rp = self._copies("traced")
        with tr.span("workload"):
            counts = self.traced_pipeline(tr, self.raw(), wh)
            with tr.span("verify.replay") as sp:
                fs, n_fs = _persist(final_state(routed_events(spark, wh)))
                sp["counts"].update(rows=n_fs)
            replica_tbl = SnapshotTable(rp)
            replica = replica_tbl.read(spark)
            with tr.span("verify") as sp:
                findings, n_found = _persist(reconcile(None, replica, fs=fs))
                found = self._findings(findings)
                sp["counts"].update(rows=n_found)
            with tr.span("repair") as sp:
                hit = self._hit_files(replica, findings)
                repaired, n_written = _persist(
                    repair(None, replica_tbl.read_files(spark, hit), findings,
                           fs=fs))
                snap = replica_tbl.rewrite_files(hit, repaired)
                sp["counts"].update(rows=n_written)
            with tr.span("verify.recheck"):
                after = reconcile(None, replica_tbl.read(spark, snapshot=snap),
                                  fs=fs).count()
        for df in (fs, findings, repaired):
            df.unpersist()
        counts.update({
            "verify.findings": n_found,
            "repair.rows_written": n_written,
            "repair.files_rewritten": len(hit),
        })
        return {"counts": counts, "wh": wh, "replica": rp, "found": found,
                "after": after, "dirs": [os.path.dirname(wh)]}

    def check_traced(self, checks, state: dict) -> None:
        self.check_ingest(checks, state["wh"], 1, None)
        self.check_cycle(checks, state)


def make(name: str, spark, work_dir: str, seed: int,
         scale: float = 1.0) -> Workload:
    sizes = SIZES[name]
    sizes = replace(sizes, n_docs=max(50, int(sizes.n_docs * scale)))
    cls = DailyCycle if name == "daily_cycle" else Ingest
    return cls(name, spark, work_dir, seed, sizes)
