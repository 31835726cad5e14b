"""Versioned table store: commits, time travel, copy-on-write scope,
checkpoint, vacuum, and optimistic-concurrency conflicts
(reference test/sql/storage/, test/sql/transactions/,
test/sql/storage_version/)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.storage import (
    CommitConflictError,
    ConstraintViolation,
    VersionedTable,
)
from data_chunk_compaction_in_duckdb_spark.storage.versioned import _StagedTable


@pytest.fixture()
def vt(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 10 < 3)
    )
    return VersionedTable.create(spark, str(tmp_path / "t"), base)


def test_create_and_read_roundtrip(vt):
    assert vt.latest_version() == 0
    base_count = vt.read().count()
    assert base_count > 0
    assert vt.read(0).count() == base_count


def test_insert_is_append_only_and_time_travels(vt, spark, sf_dir):
    v0_count = vt.read().count()
    v0_files = set(vt._manifest(0)["files"])
    extra = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 10 == 7)
    )
    v = vt.insert(extra)
    assert v == 1
    # append-only: every v0 file carried forward by reference
    assert v0_files <= set(vt._manifest(1)["files"])
    assert vt.read().count() == v0_count + extra.count()
    assert vt.read(0).count() == v0_count  # snapshot isolation


def test_delete_rewrites_only_affected_files(vt):
    cond = F.col("o_orderstatus") == "F"
    n_match = vt.read().filter(cond).count()
    assert n_match > 0
    before = vt.read().count()
    affected = _StagedTable(vt)._affected_files(lambda df: df.filter(cond))
    v = vt.delete_where(cond)
    m = vt._manifest(v)
    untouched = set(vt._manifest(0)["files"]) - affected
    assert untouched <= set(m["files"])  # untouched files by reference
    assert vt.read().count() == before - n_match
    assert vt.read().filter(cond).count() == 0
    assert vt.read(0).filter(cond).count() == n_match  # old version intact


def test_update_where_changes_only_matching_rows(vt):
    cond = F.col("o_orderpriority").startswith("1")
    n_match = vt.read().filter(cond).count()
    total_before = vt.read().agg(F.sum("o_totalprice")).collect()[0][0]
    vt.update_where(cond, {"o_totalprice": F.col("o_totalprice") + 1000.0})
    total_after = vt.read().agg(F.sum("o_totalprice")).collect()[0][0]
    assert total_after == pytest.approx(total_before + 1000.0 * n_match)
    assert vt.read().count() == vt.read(0).count()


def test_merge_upserts_by_key(vt, spark):
    sample = vt.read().limit(5).withColumn("o_orderpriority", F.lit("MERGED"))
    new_rows = sample.withColumn(
        "o_orderkey", -F.col("o_orderkey") - 1
    )  # keys not present
    updates = sample.unionByName(new_rows)
    before = vt.read().count()
    vt.merge(updates, "o_orderkey")
    after = vt.read()
    assert after.count() == before + new_rows.count()
    merged = after.filter(F.col("o_orderpriority") == "MERGED")
    assert merged.count() == updates.count()


def test_checkpoint_compacts_and_preserves_content(vt, spark, sf_dir):
    extra = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 10 == 7)
    )
    vt.insert(extra)
    pre = vt.read()
    pre_count, pre_sum = pre.agg(
        F.count("*"), F.round(F.sum("o_totalprice"), 2)
    ).collect()[0]
    v = vt.checkpoint(n_files=2)
    m = vt._manifest(v)
    assert len(m["files"]) <= 2
    post_count, post_sum = vt.read().agg(
        F.count("*"), F.round(F.sum("o_totalprice"), 2)
    ).collect()[0]
    assert (post_count, post_sum) == (pre_count, pre_sum)


def test_vacuum_drops_unreferenced_files_keeps_retained(vt):
    vt.delete_where(F.col("o_orderstatus") == "F")
    vt.checkpoint(n_files=1)
    latest_count = vt.read().count()
    removed = vt.vacuum(retain_last=1)
    assert removed  # the pre-checkpoint files are gone
    assert vt.read().count() == latest_count  # latest still readable
    with pytest.raises(FileNotFoundError):
        vt._manifest(0)  # pre-horizon manifest dropped


def test_concurrent_commit_conflict(vt, spark):
    rows = vt.read().limit(1)
    vt.insert(rows)
    # a second writer racing to the same version number loses with
    # CommitConflictError (O_EXCL manifest create)
    m = vt._manifest(vt.latest_version())
    files = vt._write_data(rows, m["mapping"])
    with pytest.raises(CommitConflictError):
        vt._commit(
            vt.latest_version(), "insert", files, rows.schema,
            m["mapping"], m["used_physical"],
        )


def test_empty_table_after_full_delete_keeps_schema(vt):
    vt.delete_where(F.lit(True))
    out = vt.read()
    assert out.count() == 0
    assert "o_orderkey" in out.columns


def test_history_records_ops(vt):
    vt.insert(vt.read(0).limit(1))
    vt.delete_where(F.col("o_orderkey") < 0)  # no-op delete still commits
    ops = [h["op"] for h in vt.history()]
    assert ops == ["create", "insert", "delete"]


# ------------------------------------------------------ schema evolution


def test_add_column_null_default_is_metadata_only(vt):
    files_before = set(vt._manifest(vt.latest_version())["files"])
    vt.add_column("note", "string")
    m = vt._manifest(vt.latest_version())
    assert set(m["files"]) == files_before  # zero rewrite
    out = vt.read()
    assert "note" in out.columns
    assert out.filter(F.col("note").isNotNull()).count() == 0


def test_add_column_default_backfills(vt):
    n = vt.read().count()
    vt.add_column("flag", "string", default=F.lit("N"))
    assert vt.read().filter(F.col("flag") == "N").count() == n
    # an explicit NULL inserted later must STAY null (no read-time repaint)
    row = vt.read().limit(1).withColumn("flag", F.lit(None).cast("string"))
    vt.insert(row)
    assert vt.read().filter(F.col("flag").isNull()).count() == 1


def test_rename_column_is_metadata_only(vt):
    files_before = set(vt._manifest(vt.latest_version())["files"])
    total = vt.read().agg(F.sum("o_totalprice")).collect()[0][0]
    vt.rename_column("o_totalprice", "price")
    m = vt._manifest(vt.latest_version())
    assert set(m["files"]) == files_before
    out = vt.read()
    assert "price" in out.columns and "o_totalprice" not in out.columns
    assert out.agg(F.sum("price")).collect()[0][0] == total
    # old version still sees the old name (schema time travel)
    assert "o_totalprice" in vt.read(0).columns


def test_drop_then_readd_does_not_resurrect(vt):
    vt.drop_column("o_orderpriority")
    assert "o_orderpriority" not in vt.read().columns
    vt.add_column("o_orderpriority", "string")
    out = vt.read()
    # fresh physical name: all NULL, never the dropped values
    assert out.filter(F.col("o_orderpriority").isNotNull()).count() == 0
    # the dropped values remain visible via time travel
    v_drop = vt.latest_version() - 1
    assert (
        vt.read(v_drop - 1)
        .filter(F.col("o_orderpriority").isNotNull())
        .count()
        > 0
    )


def test_mutations_after_rename_use_logical_names(vt):
    vt.rename_column("o_totalprice", "price")
    n_hit = vt.read().filter(F.col("price") > 100000.0).count()
    vt.delete_where(F.col("price") > 100000.0)
    assert vt.read().filter(F.col("price") > 100000.0).count() == 0
    assert vt.read().count() == vt.read(0).count() - n_hit
    vt.checkpoint(n_files=1)
    assert "price" in vt.read().columns


# ------------------------------------------------------ constraints


@pytest.fixture()
def cvt(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 10 < 3)
    )
    return VersionedTable.create(
        spark,
        str(tmp_path / "ct"),
        base,
        constraints=[
            {"type": "primary_key", "columns": ["o_orderkey"]},
            {"type": "not_null", "column": "o_orderstatus"},
            {"type": "check", "expr": "o_totalprice > 0"},
        ],
    )


def test_create_rejects_violating_data(spark, sf_dir, tmp_path):
    base = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    dup = base.limit(1).unionByName(base.limit(1))  # duplicated key
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        VersionedTable.create(
            spark,
            str(tmp_path / "bad"),
            dup,
            constraints=[{"type": "primary_key", "columns": ["o_orderkey"]}],
        )


def test_insert_pk_collision_rejected(cvt):
    before = cvt.latest_version()
    with pytest.raises(ConstraintViolation, match="collide"):
        cvt.insert(cvt.read().limit(1))
    assert cvt.latest_version() == before  # nothing committed


def test_insert_builds_staged_read_only_for_primary_key(vt, cvt, monkeypatch):
    """Only a PRIMARY KEY checks new rows against the staged table, so
    only then does INSERT build its relation."""
    plain = vt.read().limit(1)
    collide = cvt.read().limit(1)
    calls = []
    orig = _StagedTable.read

    def spy(self):
        calls.append(self.vt.path)
        return orig(self)

    monkeypatch.setattr(_StagedTable, "read", spy)
    vt.insert(plain)
    assert calls == []
    with pytest.raises(ConstraintViolation, match="collide"):
        cvt.insert(collide)
    assert calls == [cvt.path]


def test_insert_check_violation_rejected(cvt):
    bad = cvt.read().limit(1).withColumn(
        "o_orderkey", F.lit(-1).cast("long")
    ).withColumn("o_totalprice", F.lit(-5.0))
    with pytest.raises(ConstraintViolation, match="CHECK"):
        cvt.insert(bad)


def test_insert_null_pk_and_not_null_rejected(cvt):
    null_status = cvt.read().limit(1).withColumn(
        "o_orderkey", F.lit(-2).cast("long")
    ).withColumn("o_orderstatus", F.lit(None).cast("string"))
    with pytest.raises(ConstraintViolation, match="NOT NULL"):
        cvt.insert(null_status)
    null_key = cvt.read().limit(1).withColumn(
        "o_orderkey", F.lit(None).cast("long")
    )
    with pytest.raises(ConstraintViolation, match="null o_orderkey"):
        cvt.insert(null_key)


def test_valid_insert_and_merge_pass(cvt):
    ok = cvt.read().limit(2).withColumn(
        "o_orderkey", -F.col("o_orderkey") - 1
    )
    cvt.insert(ok)
    # merge may collide with existing keys (that's the upsert), but not
    # within its own batch
    cvt.merge(cvt.read().limit(3), "o_orderkey")
    dup_batch = cvt.read().limit(1).unionByName(cvt.read().limit(1))
    with pytest.raises(ConstraintViolation, match="duplicated"):
        cvt.merge(dup_batch, "o_orderkey")


def test_update_check_and_pk_enforced(cvt):
    with pytest.raises(ConstraintViolation, match="CHECK"):
        cvt.update_where(
            F.col("o_orderstatus") == "F",
            {"o_totalprice": F.lit(-1.0)},
        )
    # updating keys into an existing key collides with untouched files
    existing = [r["o_orderkey"] for r in cvt.read().limit(2).collect()]
    with pytest.raises(ConstraintViolation, match="PRIMARY KEY"):
        cvt.update_where(
            F.col("o_orderkey") == existing[0],
            {"o_orderkey": F.lit(existing[1]).cast("long")},
        )


def test_add_constraint_validates_existing_data(cvt):
    with pytest.raises(ConstraintViolation):
        cvt.add_constraint({"type": "check", "expr": "o_totalprice > 1e12"})
    v = cvt.add_constraint({"type": "check", "expr": "o_totalprice < 1e12"})
    assert {"type": "check", "expr": "o_totalprice < 1e12"} in cvt.constraints()
    cvt.drop_constraint({"type": "check", "expr": "o_totalprice < 1e12"})
    assert {"type": "check", "expr": "o_totalprice < 1e12"} not in cvt.constraints()
    assert cvt.latest_version() == v + 1


def test_ddl_respects_constraint_dependencies(cvt):
    with pytest.raises(ValueError, match="cannot drop"):
        cvt.drop_column("o_totalprice")  # referenced by CHECK
    with pytest.raises(ValueError, match="cannot rename"):
        cvt.rename_column("o_totalprice", "price")
    # pk/not_null columns follow a rename
    cvt.rename_column("o_orderkey", "okey")
    assert {"type": "primary_key", "columns": ["okey"]} in cvt.constraints()
    with pytest.raises(ConstraintViolation, match="collide"):
        cvt.insert(cvt.read().limit(1))


# ------------------------------------------------------ generated columns


@pytest.fixture()
def gvt(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % 10 < 3)
    )
    return VersionedTable.create(
        spark,
        str(tmp_path / "gt"),
        base,
        generated={
            "total_cents": "CAST(floor(o_totalprice * 100) AS BIGINT)",
            "is_urgent": "o_orderpriority LIKE '1%'",
        },
    )


def test_generated_columns_computed_at_read(gvt):
    out = gvt.read()
    assert "total_cents" in out.columns and "is_urgent" in out.columns
    row = out.filter(F.col("o_totalprice") > 0).limit(1).collect()[0]
    assert row["total_cents"] == int(row["o_totalprice"] * 100)
    # never stored: the manifest mapping has no physical slot for them
    m = gvt._manifest(gvt.latest_version())
    assert "total_cents" not in m["mapping"]


def test_generated_columns_usable_in_mutation_predicates(gvt):
    n_urgent = gvt.read().filter(F.col("is_urgent")).count()
    assert n_urgent > 0
    gvt.delete_where(F.col("is_urgent"))
    assert gvt.read().filter(F.col("is_urgent")).count() == 0
    assert gvt.read().count() == gvt.read(0).count() - n_urgent
    # rewrite did not accidentally materialize the virtual columns
    m = gvt._manifest(gvt.latest_version())
    assert "is_urgent" not in m["mapping"]


def test_add_and_drop_generated_column_metadata_only(gvt):
    files = set(gvt._manifest(gvt.latest_version())["files"])
    gvt.add_generated_column("cents_sq", "total_cents * total_cents")
    m = gvt._manifest(gvt.latest_version())
    assert set(m["files"]) == files  # zero rewrite
    row = gvt.read().limit(1).collect()[0]
    assert row["cents_sq"] == row["total_cents"] ** 2
    # chained dependency blocks dropping the upstream generated column
    with pytest.raises(ValueError, match="cents_sq"):
        gvt.drop_column("total_cents")
    gvt.drop_column("cents_sq")
    assert "cents_sq" not in gvt.read().columns
    gvt.drop_column("total_cents")  # now unblocked
    assert "total_cents" not in gvt.read().columns


def test_stored_column_guards_against_generated_refs(gvt):
    with pytest.raises(ValueError, match="generated columns"):
        gvt.drop_column("o_totalprice")
    with pytest.raises(ValueError, match="generated columns"):
        gvt.rename_column("o_totalprice", "price")
    with pytest.raises(ValueError, match="already exists"):
        gvt.add_column("is_urgent", "string")


def test_update_of_generated_or_unknown_column_is_binder_error(
    gvt, spark, tmp_path
):
    """Autocommit UPDATE raises the Binder error BEGIN..COMMIT raises,
    and publishes nothing — on the Python verb and through Engine.sql."""
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    v = gvt.latest_version()
    for col in ("total_cents", "nosuch"):
        with pytest.raises(ValueError, match="Binder Error: cannot UPDATE"):
            gvt.update_where(F.lit(True), {col: F.lit(0)})
    assert gvt.latest_version() == v
    eng = Engine(spark=spark, register=False)
    g = eng.create_versioned_table(
        "g", spark.range(3).selectExpr("id AS k", "id AS v"),
        str(tmp_path / "g"), generated={"v2": "v * 2"},
    )
    for stmt in ("UPDATE g SET v2 = 0", "UPDATE g SET nosuch = 0"):
        with pytest.raises(ValueError, match="Binder Error: cannot UPDATE"):
            eng.sql(stmt)
        eng.sql("BEGIN")
        with pytest.raises(ValueError, match="Binder Error: cannot UPDATE"):
            eng.sql(stmt)
        eng.sql("COMMIT")
    assert g.latest_version() == 0
    assert sorted(
        tuple(r) for r in eng.sql("SELECT k, v, v2 FROM g").collect()
    ) == [(0, 0, 0), (1, 1, 2), (2, 2, 4)]


# ------------------------------------------------------ zone-map skipping


def test_zone_map_file_skipping(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    vt = VersionedTable.create(spark, str(tmp_path / "zt"), base)
    m = vt._manifest(0)
    assert len(m["files"]) >= 3
    # every file carries a recorded o_orderkey range in the manifest
    assert all("o_orderkey" in m["stats"][f] for f in m["files"])
    lo_key = base.agg(F.min("o_orderkey")).collect()[0][0]
    pruned = vt.read(filters=[("o_orderkey", "<=", lo_key)])
    full = vt.read()
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # conservative: pruned scan still contains every matching row
    n_expected = full.filter(F.col("o_orderkey") <= lo_key).count()
    assert (
        pruned.filter(F.col("o_orderkey") <= lo_key).count() == n_expected
    )


def test_zone_map_follows_rename(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    vt = VersionedTable.create(spark, str(tmp_path / "zr"), base)
    vt.rename_column("o_orderkey", "okey")
    lo_key = vt.read().agg(F.min("okey")).collect()[0][0]
    pruned = vt.read(filters=[("okey", "<=", lo_key)])
    assert len(pruned.inputFiles()) < len(vt.read().inputFiles())


# ------------------------------------------------------ streaming sink


def test_streaming_versioned_sink(spark, sf_dir, tmp_path):
    from data_chunk_compaction_in_duckdb_spark.streaming.events import (
        streaming_versioned_sink,
    )

    vt = streaming_versioned_sink(spark, sf_dir, str(tmp_path / "st"))
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert vt.read().count() == batch.count()
    ops = [h["op"] for h in vt.history()]
    assert ops[0] == "create" and all(o == "insert" for o in ops[1:])
    # restart with the same checkpoint: no duplicate commits, no
    # duplicate rows (checkpoint + batch_id idempotence guard)
    v = vt.latest_version()
    vt2 = streaming_versioned_sink(spark, sf_dir, vt.path)
    assert vt2.latest_version() == v
    assert vt2.read().count() == batch.count()


def test_cluster_by_makes_zone_maps_selective(spark, sf_dir, tmp_path):
    # un-clustered: round-robin partitions -> every file spans the full
    # key domain -> zone maps prune nothing
    base = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .repartition(4)
    )
    vt = VersionedTable.create(spark, str(tmp_path / "cl"), base)
    mid = base.approxQuantile("o_orderkey", [0.5], 0.0)[0]
    mid = int(mid)
    # round-robin files all span the key domain: a mid-range point
    # lookup cannot prune
    before = len(vt.read(filters=[("o_orderkey", "=", mid)]).inputFiles())
    assert before == len(vt.read().inputFiles())
    vt.cluster_by(["o_orderkey"], n_files=4)
    after = len(vt.read(filters=[("o_orderkey", "=", mid)]).inputFiles())
    assert after < before  # disjoint ranges -> pruning works
    # content unchanged by clustering
    assert vt.read().count() == base.count()


def test_engine_versioned_table_sql_visibility(spark, sf_dir, tmp_path):
    from data_chunk_compaction_in_duckdb_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir, register=False)
    base = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(
        100
    )
    vt = eng.create_versioned_table("vt_orders", base, str(tmp_path / "ev"))
    assert eng.sql("SELECT count(*) AS n FROM vt_orders").collect()[0][
        "n"
    ] == 100
    vt.delete_where(F.col("o_orderkey") % 2 == 0)
    eng.refresh_versioned_view("vt_orders", vt)
    n_after = eng.sql("SELECT count(*) AS n FROM vt_orders").collect()[0]["n"]
    assert n_after < 100
    # time travel at the SQL layer
    eng.refresh_versioned_view("vt_orders", vt, version=0)
    assert eng.sql("SELECT count(*) AS n FROM vt_orders").collect()[0][
        "n"
    ] == 100


def test_delete_keys_anti_join(vt):
    losers = vt.read().filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    n_losers = losers.count()
    before = vt.read().count()
    vt.delete_keys(losers, "o_orderkey")
    assert vt.read().count() == before - n_losers
    assert (
        vt.read().filter(F.col("o_orderstatus") == "F").count() == 0
    )


def test_restore_rolls_back_as_new_commit(vt):
    v0_count = vt.read(0).count()
    v0_files = vt._manifest(0)["files"]
    vt.delete_where(F.col("o_orderstatus") == "F")
    assert vt.read().count() < v0_count
    v = vt.restore(0)
    assert v == 2
    # Restored content matches version 0 exactly; files carried by
    # reference, zero bytes rewritten.
    assert vt.read().count() == v0_count
    assert vt._manifest(v)["files"] == sorted(v0_files)
    # History preserved: the deleted state is still time-travelable.
    assert vt.read(1).count() < v0_count


def test_restore_away_a_restore(vt):
    vt.delete_where(F.col("o_orderkey") % 2 == 0)
    v1_count = vt.read(1).count()
    vt.restore(0)
    v = vt.restore(1)
    assert vt.read().count() == v1_count
    assert vt._manifest(v)["op"] == "restore(1)"


def test_restore_carries_schema_and_generated(vt):
    vt.add_generated_column("pri_class", "substr(o_orderpriority, 1, 1)")
    vt.drop_column("o_custkey")
    v_dropped = vt.latest_version()
    assert "o_custkey" not in [f.name for f in vt.read().schema.fields]
    vt.restore(1)  # back to: generated present, o_custkey present
    cols = [f.name for f in vt.read().schema.fields]
    assert "o_custkey" in cols and "pri_class" in cols
    vt.restore(v_dropped)
    assert "o_custkey" not in [f.name for f in vt.read().schema.fields]


def test_restore_after_vacuum_raises(vt):
    vt.checkpoint(2)  # v1 rewrites the live set into fresh files
    vt.vacuum(retain_last=1)  # v0's files AND manifest dropped
    with pytest.raises(FileNotFoundError):
        vt.restore(0)


def test_restore_missing_data_file_guard(vt):
    """The descriptive pre-commit guard itself (vacuum alone can't reach
    it — any retained manifest's files are retained, so exercise the
    external-deletion case it protects against: a data file of a
    still-manifested version vanishing out from under the log)."""
    import os

    vt.checkpoint(2)  # v1: fresh live set
    victim = vt._manifest(0)["files"][0]
    os.remove(os.path.join(vt.path, victim))
    with pytest.raises(FileNotFoundError, match="already vacuumed"):
        vt.restore(0)
