"""The SQL entry point (SURVEY.md §3.3: `engine.sql(...)` is the
primary analyst interface): register the star schema as views and run
Spark SQL directly — same catalog names the DuckDB oracle uses."""

from __future__ import annotations

from olap_project_spark.sources.registry import register_tables


class TestSqlEntry:
    def test_sql_over_registered_views(self, spark, sf_dir):
        register_tables(spark, sf_dir)
        row = spark.sql(
            """
            SELECT r_name, ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS v
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY v DESC
            LIMIT 1
            """
        ).collect()[0]
        assert row["r_name"] and float(row["v"]) > 0

    def test_sql_sees_normalized_event_timestamps(self, spark, sf_dir):
        register_tables(spark, sf_dir)
        got = spark.sql("SELECT MIN(hour(ts)) h FROM events").collect()[0]["h"]
        assert got == 0  # ts arrived as TimestampType, not raw ns longs


class TestCostBasedOptimizer:
    """ANALYZE TABLE feeds the CBO: after stats collection the optimized
    plan carries real rowCounts (not just sizeInBytes guesses), which is
    what drives join reordering and broadcast decisions at 100 TB —
    AQE fixes mistakes at runtime, CBO avoids making them at plan time."""

    def test_analyzed_stats_reach_the_plan(self, spark, sf_dir):
        from olap_project_spark.sources.registry import load_table

        # CBO estimation reads the conf of the session that OWNS the
        # cached relation — a child newSession()'s conf.set is ignored
        # here, so toggle on the root session and restore after.
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            load_table(spark, sf_dir, "nation").write.mode(
                "overwrite"
            ).saveAsTable("cbo_nation")
            spark.sql(
                "ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS"
            )
            cost = (
                spark.table("cbo_nation")
                .filter("n_regionkey = 1")
                ._jdf.queryExecution()
                .stringWithStats()
            )
            # with column stats the filter estimate is EXACT, not a guess
            n = spark.table("cbo_nation").filter("n_regionkey = 1").count()
            assert f"rowCount={n}" in cost
            spark.sql("DROP TABLE cbo_nation")
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")


class TestLakehouseSQL:
    """Round-12: the table-format verbs as SQL (export/lakehouse_sql.py)
    — a SQL-only user drives the same code paths the Python API does:
    exactly-once CTAS/INSERT, metadata-only alters, restore, optimize,
    vacuum, materialized views, and era-aware SELECT fall-through."""

    @staticmethod
    def _lk(spark, tmp_path):
        from olap_project_spark.export.lakehouse_sql import LakehouseSQL
        from olap_project_spark.export.manifest_sink import (
            ManifestSinkDataSource,
        )

        try:
            spark.dataSource.register(ManifestSinkDataSource)
        except Exception:  # noqa: BLE001 — already registered
            pass
        return LakehouseSQL(spark, str(tmp_path))

    def test_ctas_insert_select_roundtrip(self, spark, tmp_path, sf_dir):
        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql(
            "CREATE TABLE nat AS SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey < 10"
        )
        lk.sql(
            "INSERT INTO nat SELECT n_nationkey, n_name FROM nation "
            "WHERE n_nationkey >= 10"
        )
        got = lk.sql("SELECT COUNT(*) AS n, SUM(n_nationkey) AS s FROM nat")
        want = spark.sql(
            "SELECT COUNT(*) AS n, SUM(n_nationkey) AS s FROM nation"
        )
        assert got.collect() == want.collect()

    def test_ddl_verbs_drive_the_library_paths(
        self, spark, tmp_path, sf_dir
    ):
        import pytest as _pytest

        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql(
            "CREATE TABLE t AS SELECT n_nationkey AS k, n_name AS name, "
            "n_regionkey AS r FROM nation"
        )
        lk.sql("ALTER TABLE t RENAME COLUMN name TO label")
        # era-aware SELECT: pre-rename file serves under the new name
        n = lk.sql(
            "SELECT COUNT(*) AS n FROM t WHERE label IS NOT NULL"
        ).collect()[0]["n"]
        assert n == 25
        lk.sql("ALTER TABLE t DROP COLUMN r")
        assert "r" not in lk.sql("SELECT * FROM t").columns
        lk.sql("ALTER TABLE t ADD COLUMN z INT")
        assert "z" in lk.sql("SELECT * FROM t").columns
        with _pytest.raises(ValueError, match="unsupported ALTER"):
            lk.sql("ALTER TABLE t CLUSTER BY (k)")
        # restore below both alters brings the old shape back
        lk.sql("RESTORE TABLE t TO VERSION AS OF 1")
        assert set(lk.sql("SELECT * FROM t").columns) == {
            "k",
            "name",
            "r",
        }
        hist = lk.sql("DESCRIBE HISTORY t").collect()
        assert [h["kind"] for h in hist] == [
            "append",
            "alter",
            "alter",
            "alter",
            "restore",
        ]

    def test_optimize_vacuum_and_partition_spec(
        self, spark, tmp_path, sf_dir
    ):
        from olap_project_spark.export.manifest_sink import (
            current_partition_spec,
        )

        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql("CREATE TABLE ev AS SELECT ts, user_id, value FROM events")
        lk.sql("INSERT INTO ev SELECT ts, user_id, value FROM events")
        lk.sql(
            "ALTER TABLE ev SET PARTITION SPEC (days(ts), "
            "bucket(user_id, 8))"
        )
        assert current_partition_spec(lk.path("ev")) == [
            {"col": "ts", "kind": "days", "arg": None},
            {"col": "user_id", "kind": "bucket", "arg": 8},
        ]
        lk.sql("OPTIMIZE ev")
        hist = lk.sql("DESCRIBE HISTORY ev").collect()
        assert hist[-1]["kind"] == "rewrite"
        lk.sql("VACUUM ev")
        n = lk.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"]
        want = 2 * spark.sql("SELECT COUNT(*) FROM events").collect()[0][0]
        assert n == want

    def test_materialized_view_lifecycle_in_sql(
        self, spark, tmp_path, sf_dir
    ):
        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql(
            "CREATE TABLE ord AS SELECT o_orderstatus AS st, "
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents "
            "FROM orders WHERE o_orderkey % 2 = 0"
        )
        lk.sql(
            "CREATE MATERIALIZED VIEW ord_mv AS "
            "SELECT st, SUM(cents) AS sum_cents, COUNT(*) AS n "
            "FROM ord GROUP BY st"
        )
        lk.sql(
            "INSERT INTO ord SELECT o_orderstatus AS st, "
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents "
            "FROM orders WHERE o_orderkey % 2 = 1"
        )
        r = lk.sql("REFRESH MATERIALIZED VIEW ord_mv").collect()[0]
        assert r["mode"] == "incremental"
        got = sorted(
            tuple(x)
            for x in lk.sql(
                "SELECT st, sum_cents, n FROM ord_mv"
            ).collect()
        )
        want = sorted(
            tuple(x)
            for x in spark.sql(
                "SELECT o_orderstatus AS st, "
                "SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS s, "
                "COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
            ).collect()
        )
        assert got == want

    def test_delete_merge_and_metadata_tables(
        self, spark, tmp_path, sf_dir
    ):
        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql(
            "CREATE TABLE nat AS SELECT n_nationkey AS k, n_name AS v "
            "FROM nation"
        )
        r = lk.sql("DELETE FROM nat WHERE k < 5").collect()[0]
        assert r["matched_keys"] == "5"
        assert (
            lk.sql("SELECT COUNT(*) AS n FROM nat").collect()[0]["n"]
            == 20
        )
        lk.sql(
            "MERGE INTO nat USING (SELECT n_nationkey AS k, "
            "CONCAT(n_name, '!') AS v FROM nation "
            "WHERE n_nationkey >= 20) "
            "ON (k) WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        up = lk.sql(
            "SELECT COUNT(*) AS n FROM nat WHERE v LIKE '%!'"
        ).collect()[0]["n"]
        assert up == 5  # keys 20-24 upserted in place
        assert (
            lk.sql("SELECT COUNT(*) AS n FROM nat").collect()[0]["n"]
            == 20
        )
        # metadata tables: history/files as driver-side views
        hist = lk.sql(
            "SELECT kind, COUNT(*) AS n FROM nat__history GROUP BY kind"
        ).collect()
        kinds = {r["kind"]: r["n"] for r in hist}
        assert kinds["append"] == 1 and kinds["delete"] == 1
        assert kinds["merge"] == 1
        files_rows = lk.sql(
            "SELECT SUM(n_rows) AS s FROM nat__files"
        ).collect()[0]["s"]
        assert files_rows >= 20

    def test_show_tables_and_describe(self, spark, tmp_path, sf_dir):
        register_tables(spark, sf_dir)
        lk = self._lk(spark, tmp_path)
        lk.sql("CREATE TABLE a AS SELECT n_nationkey AS k FROM nation")
        lk.sql(
            "CREATE MATERIALIZED VIEW amv AS SELECT k, COUNT(*) AS n "
            "FROM a GROUP BY k"
        )
        rows = {
            (r["name"], r["kind"]) for r in lk.sql("SHOW TABLES").collect()
        }
        assert ("a", "table") in rows
        assert ("amv", "materialized_view") in rows
        desc = lk.sql("DESCRIBE a").collect()
        assert [(r["col_name"], r["data_type"]) for r in desc] == [
            ("k", "int")
        ]
