"""End-to-end pipeline: generator → serialize → parse → enrich → route →
write → aggregates, with resume/no-duplicate semantics (SURVEY.md §3.1
restatement + §5 golden test)."""

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from binlog_processer_spark.functions.parse import (
    corrupt_expr,
    parse_raw,
    serialize_expr,
    split_quarantine,
)
from binlog_processer_spark.operators.aggregate import single_pass_rollups
from binlog_processer_spark.plans import pipeline as pipeline_mod
from binlog_processer_spark.plans.pipeline import run_pipeline
from binlog_processer_spark.sources.generator import generate_corpus, routing_dim
from binlog_processer_spark.storage.table import SnapshotTable


def _raw(spark, n_docs=200):
    return generate_corpus(spark, n_docs, partitions=4).select(
        serialize_expr().alias("raw")
    )


def _corrupt_raw(spark, n_docs=400):
    """Wire lines with ``corrupt_expr``'s deterministic ~0.5% truncation."""
    return generate_corpus(spark, n_docs, partitions=4).select(
        corrupt_expr(serialize_expr(), F.col("doc_num"), F.col("r")).alias("raw")
    )


def _expected_quarantine(spark, n_docs=400) -> Counter:
    """The lines ``corrupt_expr`` truncates, derived from the generator's
    own predicate — not from the parser under test."""
    ev = generate_corpus(spark, n_docs, partitions=4)
    bad = ev.filter((F.col("doc_num") * 5 + F.col("r")) % 211 == 7)
    return Counter(
        ("PARSE_ERROR", r.raw)
        for r in bad.select(F.substring(serialize_expr(), 1, 10).alias("raw"))
        .collect()
    )


def _quarantine(spark, res) -> Counter:
    return Counter(
        tuple(r) for r in res.tables["quarantine"].read(spark).collect()
    )


def _spy_parse(monkeypatch) -> list:
    """Record every DataFrame run_pipeline hands to parse_raw."""
    calls = []
    real = pipeline_mod.parse_raw

    def spy(df, *args, **kwargs):
        calls.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "parse_raw", spy)
    return calls


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert res.metrics["rows_failed"] == 0
    assert res.metrics["rows_routed"] > 0

    routed = res.tables["routed"].read(spark)
    counts = res.tables["sink_counts"].read(spark)
    # count parity: sum of per-sink counts == routed rows (A1 assertion)
    total = counts.select(
        F.sum(F.col("insert_cnt") + F.col("update_cnt") + F.col("delete_cnt"))
    ).collect()[0][0]
    assert total == routed.count() == res.metrics["rows_routed"]
    # dual trees double every surviving record
    trees = dict(
        routed.groupBy("tree").count().rdd.map(lambda r: (r.tree, r["count"])).collect()
    )
    assert trees["create"] == trees["update"]
    # token-array invariant: routed image tokens equal source tokens
    src = generate_corpus(spark, 200, partitions=4).select(
        "event_seq", F.col("tokens").alias("src_tokens")
    )
    joined = routed.filter(F.col("tree") == "update").join(src, "event_seq")
    bad = joined.filter(
        F.coalesce(F.col("img_tokens"), F.expr("cast(array() as array<int>)"))
        != F.col("src_tokens")
    )
    assert bad.count() == 0

    lineage = res.tables["lineage"].read(spark)
    assert lineage.count() > 0
    wm = res.tables["watermarks"].read(spark)
    assert wm.filter(F.col("max_commit_ts").isNull()).count() == 0


def test_pipeline_resume_no_duplicates(spark, tmp_path):
    out = str(tmp_path / "out2")
    full = run_pipeline(spark, _raw(spark), routing_dim(spark), out + "_ref")

    # first run sees only files src0-f0..: simulate partial input
    raw = generate_corpus(spark, 200, partitions=4)
    part1 = raw.filter(F.col("file_id").endswith("-f0")).select(
        serialize_expr().alias("raw")
    )
    r1 = run_pipeline(spark, part1, routing_dim(spark), out)
    assert r1.metrics["files_processed"] > 0

    # second run gets the FULL input; manifest anti-join must skip -f0 files
    r2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    routed = r2.tables["routed"].read(spark)
    # no duplicates: every (tree, event_seq) appears exactly once
    dups = routed.groupBy("tree", "event_seq").count().filter(F.col("count") > 1)
    assert dups.count() == 0
    # complete: rerun total equals the single-shot reference run
    assert routed.count() == full.tables["routed"].read(spark).count()


def test_pipeline_fully_resumed_rerun_metrics_survive_empty_increment(
    spark, tmp_path
):
    """A rerun whose every input file is already in the manifest writes an
    EMPTY increment; AQE's empty-relation propagation then eliminates the
    CollectMetrics (observe) node from the write plan, and the pipeline must
    fall back to its explicit-aggregate path for the parse metrics instead
    of surfacing a schema-less observation row (pipeline.py observe()
    fallback)."""
    out = str(tmp_path / "out3")
    r1 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert r1.metrics["files_processed"] > 0

    r2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    assert r2.metrics["files_processed"] == 0
    assert r2.metrics["rows_routed"] == 0
    assert r2.metrics["rows_failed"] == 0
    # latency percentiles still come back (via the fallback aggregate)
    assert r2.metrics["parse_batch_us_p50"] is not None
    # and the committed table still reads complete
    assert (
        r2.tables["routed"].read(spark).count()
        == r1.tables["routed"].read(spark).count()
    )


def test_pipeline_rebalance_clustering_equivalent_fewer_files(
    spark, tmp_path
):
    """write_clustering='rebalance' (AQE size-targeted write tasks, the
    default since the r4 A/B) must produce byte-identical table content to
    the salt-4 layout — clustering changes file layout only — with no more
    data files."""
    a = run_pipeline(
        spark, _raw(spark), routing_dim(spark), str(tmp_path / "a"),
        write_clustering="salt",
    )
    b = run_pipeline(
        spark, _raw(spark), routing_dim(spark), str(tmp_path / "b"),
        write_clustering="rebalance",
    )
    ra = a.tables["routed"].read(spark)
    rb = b.tables["routed"].read(spark)
    assert ra.count() == rb.count()
    assert ra.exceptAll(rb).isEmpty() and rb.exceptAll(ra).isEmpty()
    ca = {tuple(r) for r in a.tables["sink_counts"].read(spark).collect()}
    cb = {tuple(r) for r in b.tables["sink_counts"].read(spark).collect()}
    assert ca == cb
    assert len(b.tables["routed"].data_files()) <= len(
        a.tables["routed"].data_files()
    )


def test_pipeline_publishes_process_report(spark, tmp_path):
    """Every run writes <wh>/process_report (the reference's
    t_binlog_process_report + Prometheus-counter analogue): counter rows
    match the metrics dict, gauges are present, and a resumed rerun
    APPENDS its own (empty-increment) report generation."""
    out = str(tmp_path / "out")
    res = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    rep = {
        r["metric"]: r["value"]
        for r in res.tables["process_report"].read(spark).collect()
    }
    assert rep["rows_routed"] == res.metrics["rows_routed"]
    assert rep["rows_failed"] == res.metrics["rows_failed"]
    assert rep["files_processed"] == res.metrics["files_processed"]
    assert rep["trees"] == 2
    assert rep["sinks"] > 0
    n_r, n_f = res.metrics["rows_routed"], res.metrics["rows_failed"]
    assert rep["quarantine_ppm"] == (n_f * 1_000_000) // (n_r // 2 + n_f)
    assert rep["wall_ms"] > 0 and rep["rows_per_sec"] > 0
    for phase in ("route_write", "rollup", "publish"):
        assert f"phase_ms_{phase}" in rep
    assert rep["routed_files"] > 0

    res2 = run_pipeline(spark, _raw(spark), routing_dim(spark), out)
    rep2 = res2.tables["process_report"].read(spark)
    # two report generations now; the latest reports the empty increment
    assert rep2.count() == 2 * len(rep)
    latest_ts = rep2.agg(F.max("run_ts")).collect()[0][0]
    latest = {
        r["metric"]: r["value"]
        for r in rep2.filter(F.col("run_ts") == latest_ts).collect()
    }
    assert latest["rows_routed"] == 0 and latest["files_processed"] == 0


def test_quarantine_rows_ride_the_first_parse_pass(
    spark, tmp_path, monkeypatch
):
    """Corrupt lines are committed as the quarantine table straight from
    the parse observation: the table equals exactly the truncated lines,
    rows_failed counts them, and the full input is parsed ONCE (the sign
    sliver is a separate, filtered input)."""
    raw = _corrupt_raw(spark)
    expected = _expected_quarantine(spark)
    assert expected  # the fixture does contain corrupt lines
    calls = _spy_parse(monkeypatch)
    res = run_pipeline(spark, raw, routing_dim(spark), str(tmp_path / "out"))
    assert _quarantine(spark, res) == expected
    assert res.metrics["rows_failed"] == sum(expected.values())
    assert sum(df is raw for df in calls) == 1


def test_all_corrupt_increment_quarantines_via_observation_fallback(
    spark, tmp_path, monkeypatch
):
    """An increment whose every line is corrupt routes nothing: its write is
    empty, AQE drops the observation, and the fallback aggregate (the only
    other parse of the full input) must still carry the quarantine rows."""
    out = str(tmp_path / "out")
    run_pipeline(spark, _raw(spark, 100), routing_dim(spark), out)
    ev = generate_corpus(spark, 40, partitions=2)
    raw = ev.select(F.substring(serialize_expr(), 1, 10).alias("raw"))
    expected = Counter(("PARSE_ERROR", r.raw) for r in raw.collect())
    calls = _spy_parse(monkeypatch)
    res = run_pipeline(spark, raw, routing_dim(spark), out)
    assert res.metrics["rows_routed"] == 0
    assert _quarantine(spark, res) == expected
    assert res.metrics["rows_failed"] == sum(expected.values())
    assert sum(df is raw for df in calls) == 2


def test_fully_resumed_rerun_keeps_quarantine(spark, tmp_path):
    """A rerun over already-processed files writes an empty increment; the
    quarantine it commits still equals the input's corrupt lines."""
    out = str(tmp_path / "out")
    expected = _expected_quarantine(spark)
    run_pipeline(spark, _corrupt_raw(spark), routing_dim(spark), out)
    res = run_pipeline(spark, _corrupt_raw(spark), routing_dim(spark), out)
    assert res.metrics["files_processed"] == 0
    assert _quarantine(spark, res) == expected
    assert res.metrics["rows_failed"] == sum(expected.values())


def test_driver_committed_tables_match_spark_written(spark, tmp_path):
    """The five tables run_pipeline commits driver-side read back equal to
    the same relations written by a Spark job — same rows, same manifest
    schema, same parquet schema in the data files."""
    raw = _corrupt_raw(spark)
    res = run_pipeline(spark, raw, routing_dim(spark), str(tmp_path / "out"))
    sink_counts, wm, hist, lineage, base = single_pass_rollups(
        res.tables["routed"].read(spark)
    )
    _, bad = split_quarantine(parse_raw(raw))
    for name, df in (
        ("sink_counts", sink_counts),
        ("watermarks", wm),
        ("histograms", hist),
        ("lineage", lineage),
        ("quarantine", bad),
    ):
        ref = SnapshotTable(str(tmp_path / "spark" / name))
        ref.write(df.coalesce(1))
        got, want = res.tables[name].read(spark), ref.read(spark)
        assert got.schema == want.schema, name
        assert Counter(map(tuple, got.collect())) == Counter(
            map(tuple, want.collect())
        ), name
        got_file = pq.read_schema(res.tables[name].data_files()[0])
        want_file = pq.read_schema(ref.data_files()[0])
        assert got_file.equals(want_file, check_metadata=False), name
    base.unpersist()
    report = pq.read_schema(res.tables["process_report"].data_files()[0])
    assert report.field("run_ts").type == pa.timestamp("us", tz="UTC")
