"""Independent reference answers, computed with DuckDB.

Everything here is derived from the generated logical events (gen.py) and
the routing dimension, never from the program's own intermediate results:
the soft-delete flag is a window over event_seq (the program uses a
broadcast floor lookup), the final state is an ``arg_max`` replay, and the
program's committed outputs are read straight from their parquet data
files. Every comparison is a ``Checks`` entry, so a wrong answer raises the
benchmark's error rate instead of stopping it.
"""

from __future__ import annotations

import duckdb

SYSTEM_DATABASES = ("mysql", "infra")
SINK_KEY = "tree, db_instance, database_name, table_name, part_date"
LINEAGE_KEY = "file_id, tree, db_instance, database_name, table_name"
REPLICA_KEY = "database_name, table_name, doc_id"
FINDING_CLASSES = ("missing_create", "missing_update", "stale_update",
                   "ghost_delete")


class Checks:
    """Correctness checks of one run: each is attempted once and either
    passes or fails; a check whose evaluation raises counts as failed."""

    def __init__(self):
        self.failures: list[str] = []
        self.attempted = 0

    def equal(self, name: str, expected, actual) -> bool:
        self.attempted += 1
        if expected == actual:
            return True
        self.failures.append(f"{name}: expected {expected!r}, got {actual!r}")
        return False

    def run(self, name: str, fn) -> None:
        """``fn()`` returns (expected, actual); an exception fails it."""
        try:
            expected, actual = fn()
        except Exception as e:  # a raising check is a failed check
            self.attempted += 1
            self.failures.append(f"{name}: raised {type(e).__name__}: {e}")
            return
        self.equal(name, expected, actual)

    def fail(self, name: str, err: BaseException) -> None:
        """A program call that raised: one attempted, failed check."""
        self.attempted += 1
        self.failures.append(f"{name}: raised {type(err).__name__}: {err}")

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


class Reference:
    """Expected outputs for a sequence of ingest runs.

    ``day_paths[i]`` is the directory of logical events first ingested by
    run ``i`` (run 0 is the base load, run 1 the resumed daily increment). The
    soft-delete flag is evaluated per run, as each ``run_pipeline`` call
    derives its archive-flag timeline from the events it ingests.
    """

    def __init__(self, day_paths: list[str], routing_path: str,
                 corrupt: bool, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute("SET memory_limit = '1GB'")
        union = " UNION ALL ".join(
            f"SELECT *, {i} AS run FROM read_parquet('{p}/*.parquet')"
            for i, p in enumerate(day_paths)
        )
        corrupt_pred = "(doc_num * 5 + r) % 211 = 7" if corrupt else "false"
        c = self.con
        c.execute(f"CREATE TABLE routing AS SELECT * FROM read_parquet('{routing_path}')")
        c.execute(
            f"""CREATE TABLE ev AS SELECT *,
                  epoch_ms(commit_s * 1000) AS commit_ts,
                  epoch_ms(create_s * 1000) AS create_ts,
                  {corrupt_pred} AS corrupt
                FROM ({union})"""
        )
        systems = ", ".join(f"'{d}'" for d in SYSTEM_DATABASES)
        c.execute(
            f"""CREATE TABLE enriched AS
                SELECT e.*, t.db_instance, t.database_name, t.table_name,
                       t.ignored
                FROM ev e JOIN routing t
                  ON e.source || '#' || CAST(e.bucket AS VARCHAR) = t.table_key
                WHERE NOT e.corrupt"""
        )
        c.execute(
            f"""CREATE TABLE routed_ev AS
                WITH kept AS (
                  SELECT * FROM enriched
                  WHERE NOT ignored AND database_name NOT IN ({systems})),
                flagged AS (
                  SELECT *, last_value(sign IGNORE NULLS) OVER (
                      PARTITION BY run, database_name, table_name
                      ORDER BY event_seq
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag
                  FROM kept)
                SELECT * EXCLUDE (flag) FROM flagged
                WHERE NOT (op = 'Delete' AND coalesce(flag, 0) = 1)"""
        )
        # the two partition trees: every routed event lands in both
        c.execute(
            """CREATE TABLE routed_rows AS
               SELECT 'create' AS tree, CAST(create_ts AS DATE) AS part_date, *
               FROM routed_ev
               UNION ALL
               SELECT 'update', CAST(commit_ts AS DATE), * FROM routed_ev"""
        )

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    # -- expected counts -------------------------------------------------------
    def n_corrupt(self, run: int) -> int:
        return self.scalar(f"SELECT count(*) FROM ev WHERE run = {run} AND corrupt")

    def n_routed_rows(self, run: int) -> int:
        return self.scalar(f"SELECT count(*) FROM routed_rows WHERE run = {run}")

    def routed_files(self, run: int) -> int:
        return self.scalar(
            f"SELECT count(DISTINCT file_id) FROM routed_ev WHERE run = {run}"
        )

    # -- comparisons against the program's committed data files ----------------
    def _diff_rows(self, expected_sql: str, actual_sql: str) -> int:
        """Rows in either side but not the other (multiset difference)."""
        return self.scalar(
            f"""SELECT (SELECT count(*) FROM ({expected_sql} EXCEPT ALL {actual_sql}))
                     + (SELECT count(*) FROM ({actual_sql} EXCEPT ALL {expected_sql}))"""
        )

    def sink_counts_diff(self, files: list[str], through_run: int) -> int:
        cols = f"{SINK_KEY}, insert_cnt, update_cnt, delete_cnt"
        exp = f"""SELECT {SINK_KEY},
                    count(*) FILTER (op = 'Create') AS insert_cnt,
                    count(*) FILTER (op = 'Update') AS update_cnt,
                    count(*) FILTER (op = 'Delete') AS delete_cnt
                  FROM routed_rows WHERE run <= {through_run}
                  GROUP BY {SINK_KEY}"""
        act = f"SELECT {cols} FROM read_parquet({_files(files)})"
        return self._diff_rows(exp, act)

    def lineage_diff(self, files: list[str], through_run: int) -> int:
        cols = f"{LINEAGE_KEY}, routed_cnt, insert_cnt, update_cnt, delete_cnt"
        exp = f"""SELECT {LINEAGE_KEY}, count(*) AS routed_cnt,
                    count(*) FILTER (op = 'Create') AS insert_cnt,
                    count(*) FILTER (op = 'Update') AS update_cnt,
                    count(*) FILTER (op = 'Delete') AS delete_cnt
                  FROM routed_rows WHERE run <= {through_run}
                  GROUP BY {LINEAGE_KEY}"""
        act = f"SELECT {cols} FROM read_parquet({_files(files)})"
        return self._diff_rows(exp, act)

    def expected_routed_hash(self, through_run: int) -> tuple[int, int]:
        """Order-free (row count, hash sum) over (doc_id, event_seq, tree,
        tokens) of every routed row."""
        row = self.con.execute(
            f"""SELECT count(*),
                  coalesce(sum(hash(doc_id, event_seq, tree, tokens)::HUGEINT), 0)
                FROM routed_rows WHERE run <= {through_run}"""
        ).fetchone()
        return int(row[0]), int(row[1])

    def routed_hash(self, files: list[str]) -> tuple[int, int]:
        row = self.con.execute(
            f"""SELECT count(*),
                  coalesce(sum(hash(doc_id, event_seq, tree, img_tokens)::HUGEINT), 0)
                FROM read_parquet({_files(files)}, hive_partitioning = true,
                                  hive_types_autocast = false)"""
        ).fetchone()
        return int(row[0]), int(row[1])

    def row_count(self, files: list[str]) -> int:
        if not files:
            return 0
        return self.scalar(f"SELECT count(*) FROM read_parquet({_files(files)})")

    # -- final state, seeded replica, findings -----------------------------------
    def build_replica(self, seed: int, out_path: str) -> dict[str, int]:
        """Write a replica of the final state (all runs) with seeded
        divergences to ``out_path`` and return the expected finding count per
        class: 1% of live docs missing, 3% of Update-final docs stale by one
        hour, 10% of Delete-final docs left behind as ghosts."""
        c = self.con
        c.execute(
            f"""CREATE OR REPLACE TABLE fs AS
                SELECT {REPLICA_KEY},
                  arg_max(op, event_seq) AS final_op,
                  arg_max(commit_ts, event_seq) AS final_ts,
                  arg_max(tokens, event_seq) AS final_tokens,
                  hash(doc_id || ':{seed}') % 10000 AS u
                FROM routed_rows WHERE tree = 'update'
                GROUP BY {REPLICA_KEY}"""
        )
        c.execute(
            f"""COPY (
                  SELECT {REPLICA_KEY},
                    epoch(final_ts)::BIGINT
                      - CASE WHEN final_op = 'Update' AND u >= 100 AND u < 400
                             THEN 3600 ELSE 0 END AS replica_ts_s,
                    final_tokens AS replica_tokens
                  FROM fs
                  WHERE (final_op <> 'Delete' AND u >= 100)
                     OR (final_op = 'Delete' AND u < 1000)
                ) TO '{out_path}' (FORMAT PARQUET)"""
        )
        expected = dict.fromkeys(FINDING_CLASSES, 0)
        for cls, n in c.execute(
            """SELECT CASE
                 WHEN final_op = 'Create' AND u < 100 THEN 'missing_create'
                 WHEN final_op = 'Update' AND u < 100 THEN 'missing_update'
                 WHEN final_op = 'Update' AND u < 400 THEN 'stale_update'
                 WHEN final_op = 'Delete' AND u < 1000 THEN 'ghost_delete'
               END AS cls, count(*)
               FROM fs GROUP BY cls HAVING cls IS NOT NULL"""
        ).fetchall():
            expected[cls] = int(n)
        return expected

    def expected_replica_hash(self) -> tuple[int, int]:
        """(rows, hash sum) of the fully repaired replica: every live doc
        at its final commit time and final tokens."""
        row = self.con.execute(
            f"""SELECT count(*), coalesce(sum(hash({REPLICA_KEY},
                  epoch(final_ts)::BIGINT, final_tokens)::HUGEINT), 0)
                FROM fs WHERE final_op <> 'Delete'"""
        ).fetchone()
        return int(row[0]), int(row[1])

    def replica_hash(self, files: list[str]) -> tuple[int, int]:
        row = self.con.execute(
            f"""SELECT count(*), coalesce(sum(hash({REPLICA_KEY},
                  epoch(replica_ts)::BIGINT, replica_tokens)::HUGEINT), 0)
                FROM read_parquet({_files(files)})"""
        ).fetchone()
        return int(row[0]), int(row[1])

    def close(self) -> None:
        self.con.close()
