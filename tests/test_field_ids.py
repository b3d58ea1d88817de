"""PER-COLUMN FIELD IDS — the Delta column-mapping / Iceberg field-ID
mechanism, derived as a pure function of the manifest log
(``_field_id_history``): stable ids issued at column birth, carried by
renames, retired by drops, never reused. These tests pin the round-12
contract: the metadata surfaces (metadata_aggregate, table$partitions)
and the public batch reader answer EXACTLY over a renamed,
never-compacted log, and pre-rename files keep being PRUNED by their
name-keyed stats under the new name."""

from __future__ import annotations

import datetime

import pytest

from olap_project_spark.export.manifest_sink import (
    ManifestSinkDataSource,
    _field_id_history,
    _log,
    compact_snapshots,
    delete_where,
    drop_column,
    ensure_manifest_sink,
    metadata_aggregate,
    rename_column,
    table_partitions,
    write_partitioned,
)


@pytest.fixture(scope="module")
def registered(spark):
    try:
        spark.dataSource.register(ManifestSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered this session
        pass
    return spark


def _write(spark, path, rows, schema):
    (
        spark.createDataFrame(rows, schema)
        .coalesce(1)
        .write.format("manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )


class TestDerivation:
    def test_ids_stable_across_rename_and_fresh_after_drop(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a", 5)], "id int, name string, amt int")
        rename_column(path, "amt", "amount")
        _, cur1, ok1 = _field_id_history(_log(path))
        assert ok1 and cur1 == {"id": 1, "name": 2, "amount": 3}
        drop_column(path, "amount")
        compact_snapshots(registered, path, None)
        _write(registered, path, [(2, "b", 9)], "id int, name string, amount int")
        per, cur2, ok2 = _field_id_history(_log(path))
        # the re-added name gets a NEW id — generations never alias
        assert ok2 and cur2["amount"] == 4

    def test_per_index_tracks_write_era_names(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        _write(registered, path, [(2, "b")], "id int, label string")
        per, cur, ok = _field_id_history(_log(path))
        assert per[0] == {"id": 1, "name": 2}  # write-era names
        assert per[1] == {"id": 1, "label": 2}  # post-alter mapping
        assert per[2] == {"id": 1, "label": 2}
        assert cur == {"id": 1, "label": 2}


class TestMetadataAcrossRenames:
    def test_aggregate_exact_over_chained_renames_and_adds(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(registered, path, [(1, 10), (2, 20)], "id int, v int")
        rename_column(path, "v", "v2")
        _write(registered, path, [(3, 30, "x")], "id int, v2 int, note string")
        rename_column(path, "v2", "value")
        agg = metadata_aggregate(
            path, cols=["note"], minmax_cols=["value"]
        )
        assert agg["n_rows"] == 3
        # stats of BOTH pre-rename eras fold under the current name
        assert agg["cols"]["value"] == {
            "nulls": 0,
            "non_null": 3,
            "min": 10,
            "max": 30,
        }
        # the added column counts pre-addition files as all-null
        assert agg["cols"]["note"] == {"nulls": 2, "non_null": 1}

    def test_partitions_exact_across_transform_column_rename(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        rows = [
            (datetime.datetime(2024, m, d, 0, 0), m * 100 + d)
            for m in (1, 2)
            for d in (1, 5, 9)
        ]
        df = registered.createDataFrame(rows, "ts timestamp, v int")
        write_partitioned(registered, df, path, "ts", "month", n_files=2)
        rename_column(path, "ts", "event_ts")
        df2 = registered.createDataFrame(
            [(datetime.datetime(2024, 2, 14, 0, 0), 999)],
            "event_ts timestamp, v int",
        )
        write_partitioned(
            registered, df2, path, "event_ts", "month", n_files=1
        )
        tp = table_partitions(path)
        # spec identity survives the rename (field-id keyed), counts
        # fold from BOTH eras, the spec shows the CURRENT name
        assert tp["spec"]["col"] == "event_ts"
        assert tp["unaccounted_files"] == 0
        assert [(e["partition"], e["n_rows"]) for e in tp["partitions"]] == [
            ([648], 3),
            ([649], 4),
        ]


class TestPublicReaderAcrossRenames:
    def test_reads_both_eras_and_prunes_by_translated_stats(
        self, spark, tmp_path
    ):
        child = spark.newSession()
        child.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        fmt = ensure_manifest_sink(child)
        path = str(tmp_path / "t")
        for lo in (0, 100):  # two pre-rename files, k in [0,100), [100,200)
            (
                child.range(lo, lo + 100)
                .selectExpr("id as k", "id * 2 as v")
                .repartition(1)
                .write.format(fmt)
                .option("path", path)
                .mode("append")
                .save()
            )
        rename_column(path, "k", "key")
        (
            child.range(200, 300)
            .selectExpr("id as key", "id * 2 as v")
            .repartition(1)
            .write.format(fmt)
            .option("path", path)
            .mode("append")
            .save()
        )
        df = (
            child.read.format(fmt)
            .option("path", path)
            .option("pushdown", "true")
            .load()
            .filter("key >= 150")
        )
        # the filter on the NEW name prunes the first PRE-RENAME file
        # through its k-keyed zone map (field-id translation)
        assert df.rdd.getNumPartitions() == 2  # 1 of 3 files pruned
        assert df.count() == 150
        full = child.read.format(fmt).option("path", path).load()
        assert full.count() == 300
        assert full.selectExpr("sum(key)").collect()[0][0] == sum(
            range(300)
        )
        ensure_manifest_sink(spark)

    def test_filter_on_added_column_excludes_predating_files(
        self, spark, tmp_path
    ):
        child = spark.newSession()
        child.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        fmt = ensure_manifest_sink(child)
        path = str(tmp_path / "t")

        def w(rows, schema):
            (
                child.createDataFrame(rows, schema)
                .coalesce(1)
                .write.format(fmt)
                .option("path", path)
                .mode("append")
                .save()
            )

        w([(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        w([(2, "b", 7)], "id int, label string, w int")
        df = (
            child.read.format(fmt)
            .option("path", path)
            .option("pushdown", "true")
            .load()
            .filter("w = 7")
        )
        # the pre-addition file is excluded outright: its rows are
        # all-null for w and the comparison is null-rejecting
        assert df.rdd.getNumPartitions() == 1
        assert [(r.id, r.w) for r in df.collect()] == [(2, 7)]
        ensure_manifest_sink(spark)

    def test_tombstone_keyed_on_renamed_column_applies(
        self, registered, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a"), (2, "b")], "id int, name string"
        )
        rename_column(path, "name", "label")
        delete_where(
            registered,
            path,
            registered.createDataFrame([("a",)], "label string"),
        )
        got = (
            registered.read.format("manifest_sink")
            .option("path", path)
            .load()
            .collect()
        )
        # the tombstone's current-name key anti-joins rows served from
        # the pre-rename file under the translated name
        assert [(r.id, r.label) for r in got] == [(2, "b")]

    def test_reads_across_a_drop(self, registered, tmp_path):
        path = str(tmp_path / "t")
        _write(
            registered, path, [(1, "a", 5.0)],
            "id int, name string, amt double",
        )
        drop_column(path, "amt")
        _write(registered, path, [(2, "b")], "id int, name string")
        got = (
            registered.read.format("manifest_sink")
            .option("path", path)
            .load()
            .collect()
        )
        assert sorted((r.id, r.name) for r in got) == [(1, "a"), (2, "b")]


# ---------------------------------------------------------------------------
# Property: under ANY interleaving of appends / renames / drops /
# row-level deletes / merges / compactions, the era read equals a plain
# Python model folded in current-name space, and whenever the
# metadata-only aggregate answers, its row count is the model's.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_op = st.sampled_from(
    ["append", "rename", "delete", "merge", "compact", "addcol",
     "setspec"]
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_op, min_size=2, max_size=6))
@example(ops=["append", "delete", "delete", "delete", "merge", "delete"])
def test_era_read_matches_model_under_any_interleaving(
    registered, tmp_path, ops
):
    from olap_project_spark.export.manifest_sink import (
        compact_snapshots,
        delete_where,
        merge_upsert,
        read_evolved,
    )

    from olap_project_spark.export.manifest_sink import add_column

    import uuid as _uuid

    path = str(tmp_path / f"era_{_uuid.uuid4().hex[:12]}")
    vcol = "v0"
    vgen = 0
    extra: list[str] = []  # columns added by explicit ADD COLUMN
    model: dict[int, str] = {}
    next_k = 0
    started = False

    def schema():
        cols = [f"k int, {vcol} string"] + [f"{c} int" for c in extra]
        return ", ".join(cols)

    def pad(rows):
        return [r + (None,) * len(extra) for r in rows]

    for op in ops:
        if op == "append" or not started:
            rows = [(next_k + i, f"r{next_k + i}") for i in range(2)]
            next_k += 2
            _write(registered, path, pad(rows), schema())
            model.update(rows)
            started = True
        elif op == "rename":
            vgen += 1
            new = f"v{vgen}"
            rename_column(path, vcol, new)
            vcol = new
        elif op == "addcol":
            name = f"e{len(extra)}_{vgen}"
            add_column(path, name, "int")
            extra.append(name)
        elif op == "delete":
            # Once every row is gone, delete a key that never existed:
            # the delete must then match nothing.
            victim = min(model, default=next_k)
            delete_where(
                registered,
                path,
                registered.createDataFrame([(victim,)], "k int"),
            )
            model.pop(victim, None)
        elif op == "merge":
            # On an emptied table the update key is fresh too, so the
            # merge inserts both rows.
            target = min(model, default=next_k + 1)
            merge_upsert(
                registered,
                path,
                registered.createDataFrame(
                    pad([(target, "UP"), (next_k, "NEW")]),
                    schema(),
                ),
                keys=["k"],
            )
            model[target] = "UP"
            model[next_k] = "NEW"
            next_k = max(next_k, target) + 1
        elif op == "setspec":
            from olap_project_spark.export.manifest_sink import (
                set_partition_spec,
            )

            set_partition_spec(path, ("k", "bucket", 4))
        elif op == "compact":
            compact_snapshots(registered, path, None)
        got = sorted(
            (r["k"], r[vcol])
            for r in read_evolved(registered, path)
            .select("k", vcol)
            .collect()
        )
        assert got == sorted(model.items())
        try:
            agg = metadata_aggregate(path, cols=[vcol])
        except ValueError:
            pass  # unmaterialized tombstones: the strict refusal
        else:
            assert agg["n_rows"] == len(model)
            assert agg["cols"][vcol]["non_null"] == len(model)


class TestAddColumn:
    """Round-12 completion of the alter triple: ADD COLUMN as an
    explicit metadata-only commit with a fresh field id."""

    def test_add_is_metadata_only_and_backfills(
        self, registered, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            add_column,
            read_committed,
            table_history,
            table_schema,
        )

        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        v = add_column(path, "score", "bigint")
        assert v == 2
        assert table_history(path)[-1]["n_files"] == 0
        assert [f.name for f in table_schema(path).fields] == [
            "id",
            "name",
            "score",
        ]
        _write(
            registered, path, [(2, "b", 9)],
            "id int, name string, score bigint",
        )
        rows = sorted(
            (r.id, r.score)
            for r in read_committed(
                registered, path, table_schema(path)
            ).collect()
        )
        assert rows == [(1, None), (2, 9)]
        # metadata: pre-add file counts all-null, minmax from new file
        agg = metadata_aggregate(path, minmax_cols=["score"])
        assert agg["cols"]["score"] == {
            "nulls": 1,
            "non_null": 1,
            "min": 9,
            "max": 9,
        }
        per, cur, ok = _field_id_history(_log(path))
        assert ok and cur == {"id": 1, "name": 2, "score": 3}

    def test_add_composes_with_rename_eras(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            add_column,
            read_evolved,
        )

        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a")], "id int, name string")
        rename_column(path, "name", "label")
        add_column(path, "score", "int")
        _write(
            registered, path, [(2, "b", 5)],
            "id int, label string, score int",
        )
        rows = sorted(
            (r.id, r.label, r.score)
            for r in read_evolved(registered, path).collect()
        )
        assert rows == [(1, "a", None), (2, "b", 5)]

    def test_add_rejections(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            add_column,
            table_schema,
        )

        path = str(tmp_path / "t")
        _write(registered, path, [(1, "a", 2.0)], "id int, name string, amt double")
        with pytest.raises(ValueError, match="already exists"):
            add_column(path, "name", "string")
        drop_column(path, "amt")
        with pytest.raises(ValueError, match="dropped"):
            add_column(path, "amt", "double")
        compact_snapshots(registered, path, None)
        add_column(path, "amt", "double")  # guard cleared by rewrite
        assert "amt" in [f.name for f in table_schema(path).fields]

class TestWidenColumn:
    """Explicit type widening as DDL — the Iceberg v3 promotion the
    append path already enforced, now one metadata-only commit."""

    def test_widen_is_metadata_only_and_reads_upcast(
        self, registered, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            read_committed,
            table_history,
            table_schema,
            widen_column,
        )

        path = str(tmp_path / "t")
        _write(registered, path, [(1, 10)], "id int, v int")
        v = widen_column(path, "v", "bigint")
        assert v == 2
        assert table_history(path)[-1]["n_files"] == 0
        sch = table_schema(path)
        assert dict(
            (f.name, f.dataType.simpleString()) for f in sch.fields
        ) == {"id": "int", "v": "bigint"}
        _write(registered, path, [(2, 2**40)], "id int, v bigint")
        rows = sorted(
            (r.id, r.v)
            for r in read_committed(registered, path, sch).collect()
        )
        assert rows == [(1, 10), (2, 2**40)]
        # metadata min/max folds int-era and bigint-era stats exactly
        agg = metadata_aggregate(path, minmax_cols=["v"])
        assert agg["cols"]["v"]["min"] == 10
        assert agg["cols"]["v"]["max"] == 2**40

    def test_widen_rejections(self, registered, tmp_path):
        from olap_project_spark.export.manifest_sink import widen_column

        path = str(tmp_path / "t")
        _write(registered, path, [(1, 10)], "id int, v bigint")
        with pytest.raises(ValueError, match="not a safe widening"):
            widen_column(path, "v", "int")  # narrowing
        with pytest.raises(ValueError, match="already"):
            widen_column(path, "v", "bigint")
        with pytest.raises(ValueError, match="not in schema"):
            widen_column(path, "ghost", "bigint")
