"""Transactional merge-table queries (io/mergetable.py, round 7).

The registered query drives the REAL table lifecycle — create, a
merge-upsert batch with updates/inserts/deletes, snapshot read — on a
scratch table, and returns a rollup of the final snapshot. Because
every merge input is a deterministic function of the orders table, the
final state is SQL-expressible and the whole transactional path gets a
hash-level DuckDB twin (stronger than the rows-only checks the
streaming ledger sinks get).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table
from .registry import register

# per-query scratch roots, REUSED across invocations in one process:
# repeated runs in one process (the test suite, profile_query's
# 2-warm + 3-timed reruns) overwrite one directory instead of
# accumulating a copy of orders in /tmp per run (r10 ADVICE), and atexit
# removes them at interpreter exit. The returned DataFrame must stay
# readable until the caller collects, so cleanup-in-finally is not an
# option; the next invocation (or exit) is the correct release point.
_SCRATCH: dict[str, str] = {}


def _scratch_table(key: str) -> str:
    root = _SCRATCH.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"bdt_{key}_q_")
        _SCRATCH[key] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    tbl = os.path.join(root, "tbl")
    shutil.rmtree(tbl, ignore_errors=True)
    os.makedirs(tbl)
    return tbl

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "orders_merge_upsert_rollup",
    sql=f"""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               {_CENTS} AS cents
        FROM orders WHERE o_orderkey % 3 <> 0
    ), upd AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               {_CENTS} + 100 AS cents,
               o_orderkey % 9 = 0 AS deleted
        FROM orders WHERE o_orderkey % 2 = 0
    ), final AS (
        SELECT k, status, cents FROM base
        WHERE k NOT IN (SELECT k FROM upd)
        UNION ALL
        SELECT k, status, cents FROM upd WHERE NOT deleted
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY status
    """,
    doc="End-to-end transactional merge-table exercise "
    "(io/mergetable.py): create a bucketed copy-on-write table from "
    "the orderkey %3<>0 slice of orders, MERGE one batch holding "
    "updates (+100 cents corrections on even keys), inserts (even "
    "keys absent from the base), and tombstone deletes (%9 keys), "
    "then roll up the final SNAPSHOT read by status. The twin "
    "reconstructs merge semantics relationally (base anti-join "
    "update-keys union surviving updates), so the driver hash checks "
    "the whole create->merge->atomic-commit->snapshot-read path, not "
    "just the arithmetic. Money is integer cents end-to-end (r7 float "
    "policy). Scale shape: the merge rewrites only buckets containing "
    "updated keys (O(touched buckets), untouched files carried by "
    "manifest reference); the rollup is one map-side-combining "
    "aggregate over the snapshot.",
)
def orders_merge_upsert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.mergetable import DELETED_COL, create_table, merge_upsert, read_table

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (cents + 100).alias("cents"),
        (F.col("o_orderkey") % 9 == 0).alias(DELETED_COL),
    )
    root = _scratch_table("mergetable")
    create_table(spark, root, base, keys=["k"], n_buckets=8)
    merge_upsert(spark, root, updates, batch_id="q-batch-1")
    snap = read_table(spark, root)
    return snap.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "delta_read_snapshot",
    sql=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 9 <> 0
    GROUP BY o_orderstatus
    """,
    doc="Dependency-free Delta Lake READ path (io/deltaread.py, r10): "
    "builds a scratch Delta table from orders BY HAND against the "
    "open transaction-log protocol — commit 0 adds two data files "
    "(the orderkey %3==0 slice and the rest) with metaData+protocol, "
    "commit 1 is a delete-rewrite (REMOVE the first file, ADD its "
    "rows minus %9==0 keys) — then reads the latest snapshot via the "
    "log replay and rolls it up by status. The twin is the final "
    "relational state (orders minus %9 keys, since %9==0 implies "
    "%3==0), so the driver hash checks add/remove replay end-to-end: "
    "a reader that ignored the remove would double-count the %3 "
    "slice and fail. Money integer cents. Scale shape: replay "
    "touches only _delta_log (KBs); the data read is a plain parquet "
    "scan over the active-file list with pushdown/pruning intact — "
    "this is the interop path that lets OTHER systems' Delta tables "
    "be read in place without the Delta runtime (reference has no "
    "lakehouse interop; north-star surface).",
)
def delta_read_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    from ..io.deltaread import read_delta

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = _scratch_table("delta")

    def write_file(df: DataFrame, rel: str) -> None:
        stage = tempfile.mkdtemp(prefix="bdt_delta_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.replace(part, os.path.join(root, rel))
        shutil.rmtree(stage, ignore_errors=True)

    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "o_orderkey", "type": "long",
                 "nullable": True, "metadata": {}},
                {"name": "o_orderstatus", "type": "string",
                 "nullable": True, "metadata": {}},
                {"name": "cents", "type": "long",
                 "nullable": True, "metadata": {}},
            ],
        }
    )
    write_file(o.filter(F.col("o_orderkey") % 3 == 0), "f-a.parquet")
    write_file(o.filter(F.col("o_orderkey") % 3 != 0), "f-b.parquet")
    write_file(
        o.filter((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 9 != 0)),
        "f-a-rewrite.parquet",
    )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def commit(version: int, actions: list[dict]) -> None:
        with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "bdt-delta-q", "schemaString": schema_json,
                      "partitionColumns": [],
                      "format": {"provider": "parquet", "options": {}}}},
        {"add": {"path": "f-a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f-b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    commit(1, [
        {"remove": {"path": "f-a.parquet", "dataChange": True}},
        {"add": {"path": "f-a-rewrite.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    snap = read_delta(spark, root)
    return snap.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "iceberg_read_snapshot",
    sql=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 9 <> 0
    GROUP BY o_orderstatus
    """,
    doc="Dependency-free Apache Iceberg READ path (io/icebergread.py, "
    "r10): builds a spec-shaped two-snapshot Iceberg table from "
    "orders — REAL avro manifests written through the JVM avro "
    "library already on Spark's classpath, JSON table metadata, "
    "snapshot 1 adds two data files (orderkey %3==0 slice + rest), "
    "snapshot 2 is a delete-rewrite (status=DELETED on the first "
    "file, ADDED rewrite minus %9==0 keys) — then resolves the "
    "current snapshot through metadata -> manifest list -> manifests "
    "and rolls up the snapshot read by status. Same relational final "
    "state as delta_read_snapshot (orders minus %9 keys), so the "
    "driver hash checks manifest-status replay end-to-end: a reader "
    "that ignored DELETED entries would double-count the %3 slice. "
    "Money integer cents. Scale shape: manifest parsing is "
    "driver-side metadata (KBs); the data read is one distributed "
    "parquet scan. Reference has no lakehouse interop (north-star "
    "surface).",
)
def iceberg_read_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json
    import os
    import shutil

    from ..io.icebergread import read_iceberg

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = _scratch_table("iceberg")
    os.makedirs(os.path.join(root, "metadata"))

    def write_file(df: DataFrame, rel: str) -> str:
        stage = tempfile.mkdtemp(prefix="bdt_ice_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(part, dest)
        shutil.rmtree(stage, ignore_errors=True)
        return dest

    jvm = spark._jvm
    entry_schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps({
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ],
            }},
        ],
    }))
    list_schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps({
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ],
    }))

    def write_manifest(rel: str, entries: list[tuple[str, int]]) -> str:
        dest = os.path.join(root, "metadata", rel)
        w = jvm.org.apache.avro.generic.GenericDatumWriter(entry_schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(w)
        dfw.create(entry_schema, jvm.java.io.File(dest))
        dsch = entry_schema.getField("data_file").schema()
        for fpath, status in entries:
            rec = jvm.org.apache.avro.generic.GenericData.Record(entry_schema)
            rec.put("status", status)
            sub = jvm.org.apache.avro.generic.GenericData.Record(dsch)
            sub.put("content", 0)
            sub.put("file_path", fpath)
            sub.put("file_format", "PARQUET")
            sub.put("record_count", 1)
            rec.put("data_file", sub)
            dfw.append(rec)
        dfw.close()
        return dest

    def write_manifest_list(rel: str, manifests: list[str]) -> str:
        dest = os.path.join(root, "metadata", rel)
        w = jvm.org.apache.avro.generic.GenericDatumWriter(list_schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(w)
        dfw.create(list_schema, jvm.java.io.File(dest))
        for m in manifests:
            rec = jvm.org.apache.avro.generic.GenericData.Record(list_schema)
            rec.put("manifest_path", m)
            rec.put("manifest_length", 1)
            rec.put("content", 0)
            dfw.append(rec)
        dfw.close()
        return dest

    fa = write_file(o.filter(F.col("o_orderkey") % 3 == 0), "data/a.parquet")
    fb = write_file(o.filter(F.col("o_orderkey") % 3 != 0), "data/b.parquet")
    fa2 = write_file(
        o.filter((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 9 != 0)),
        "data/a-rewrite.parquet",
    )
    m1 = write_manifest("m1.avro", [(fa, 1), (fb, 1)])
    ml1 = write_manifest_list("sl1.avro", [m1])
    m2 = write_manifest("m2.avro", [(fa, 2), (fa2, 1), (fb, 0)])
    ml2 = write_manifest_list("sl2.avro", [m2])
    meta = {
        "format-version": 2,
        "table-uuid": "bdt-iceberg-q",
        "location": root,
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "manifest-list": ml1},
            {"snapshot-id": 2, "manifest-list": ml2},
        ],
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
            {"id": 2, "name": "o_orderstatus", "required": False,
             "type": "string"},
            {"id": 3, "name": "cents", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as fh:
        fh.write("1")
    snap = read_iceberg(spark, root)
    return snap.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "delta_read_column_mapping",
    sql=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 4 <> 0
    GROUP BY o_orderstatus
    """,
    doc="Delta NAME-mode column mapping read (io/deltaread.py, r11 "
    "verdict next #5 — the first UnsupportedDeltaFeature gate a "
    "table written by a modern writer with defaults trips): builds a "
    "scratch reader-v2 Delta table whose data files carry OPAQUE "
    "physical column names (col-k01/col-s02/col-c03) with the "
    "logical names only in schemaString field metadata, commit 0 "
    "adds two files split on orderkey parity, commit 1 is a "
    "delete-rewrite of the even file dropping %4==0 keys — then "
    "replays the log, applies the metadata-only rename layer, and "
    "rolls up by status. The twin is the final relational state "
    "(orders minus %4==0 keys), so the driver hash checks BOTH the "
    "add/remove replay and the physical->logical binding: a reader "
    "that mis-bound columns would null or swap every value. Money "
    "integer cents. Scale shape: identical to delta_read_snapshot — "
    "driver-side log replay (KBs), one distributed parquet scan with "
    "pushdown through the alias projection.",
)
def delta_read_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json

    from ..io.deltaread import read_delta

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("col-k01"),
        F.col("o_orderstatus").alias("col-s02"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("col-c03"),
    )
    root = _scratch_table("deltamap")

    def write_file(df: DataFrame, rel: str) -> None:
        stage = tempfile.mkdtemp(prefix="bdt_deltamap_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.replace(part, os.path.join(root, rel))
        shutil.rmtree(stage, ignore_errors=True)

    def fld(name, phys, cid, typ):
        return {"name": name, "type": typ, "nullable": True,
                "metadata": {"delta.columnMapping.id": cid,
                             "delta.columnMapping.physicalName": phys}}

    schema_json = json.dumps({
        "type": "struct",
        "fields": [fld("o_orderkey", "col-k01", 1, "long"),
                   fld("o_orderstatus", "col-s02", 2, "string"),
                   fld("cents", "col-c03", 3, "long")],
    })
    k = F.col("col-k01")
    write_file(o.filter(k % 2 == 0), "f-even.parquet")
    write_file(o.filter(k % 2 != 0), "f-odd.parquet")
    write_file(o.filter((k % 2 == 0) & (k % 4 != 0)), "f-even-rw.parquet")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)

    def commit(version: int, actions: list[dict]) -> None:
        with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "bdt-deltamap-q", "schemaString": schema_json,
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "3"},
                      "format": {"provider": "parquet", "options": {}}}},
        {"add": {"path": "f-even.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "f-odd.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    commit(1, [
        {"remove": {"path": "f-even.parquet", "dataChange": True}},
        {"add": {"path": "f-even-rw.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    snap = read_delta(spark, root)
    return snap.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "iceberg_read_pos_delete",
    sql=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 9 <> 0
    GROUP BY o_orderstatus
    """,
    doc="Iceberg v2 POSITION-delete read (io/icebergread.py, r11 "
    "verdict stretch #7): builds a spec-shaped table whose snapshot "
    "carries a DATA manifest (two parquet files: the sorted "
    "orderkey%3==0 slice + the rest) AND a DELETE manifest tracking "
    "one position-delete file — (file_path, pos) tombstones computed "
    "for exactly the %9==0 rows of the sorted slice — then reads the "
    "snapshot, which anti-joins the _metadata-tagged scan against "
    "the tombstones, and rolls up by status. Same relational final "
    "state as iceberg_read_snapshot (orders minus %9 keys) but "
    "reached through ROW-LEVEL deletes instead of file-level status "
    "replay, so the driver hash checks the position-delete "
    "application end-to-end: a reader that ignored the delete "
    "manifest would keep the %9 rows and fail. Money integer cents. "
    "Scale shape: tombstones are metadata-scale next to the data "
    "(broadcast side of one anti-join); the data read stays one "
    "distributed parquet scan.",
)
def iceberg_read_pos_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import json

    from pyspark.sql import Window

    from ..io.icebergread import read_iceberg

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = _scratch_table("icepos")
    os.makedirs(os.path.join(root, "metadata"))

    def write_file(df: DataFrame, rel: str) -> str:
        stage = tempfile.mkdtemp(prefix="bdt_icepos_stage_")
        df.write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(part, dest)
        shutil.rmtree(stage, ignore_errors=True)
        return dest

    # slice A in ONE file with a pinned row order, so tombstone
    # positions are deterministic: pos = rank of o_orderkey ascending
    a_rows = o.filter(F.col("o_orderkey") % 3 == 0)
    fa = write_file(
        a_rows.repartition(1).sortWithinPartitions("o_orderkey"),
        "data/a.parquet",
    )
    fb = write_file(
        o.filter(F.col("o_orderkey") % 3 != 0).coalesce(1), "data/b.parquet"
    )
    w = Window.orderBy("o_orderkey")
    tombstones = (
        a_rows.select(
            "o_orderkey", (F.row_number().over(w) - 1).cast("long").alias("pos")
        )
        .filter(F.col("o_orderkey") % 9 == 0)
        .select(F.lit(fa).alias("file_path"), "pos")
    )
    fdel = write_file(tombstones.coalesce(1), "data/del-1.parquet")

    jvm = spark._jvm
    entry_schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps({
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ],
            }},
        ],
    }))
    list_schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps({
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ],
    }))

    def write_manifest(rel: str, entries: list[tuple[str, int, int]]) -> str:
        dest = os.path.join(root, "metadata", rel)
        wtr = jvm.org.apache.avro.generic.GenericDatumWriter(entry_schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(wtr)
        dfw.create(entry_schema, jvm.java.io.File(dest))
        dsch = entry_schema.getField("data_file").schema()
        for fpath, status, content in entries:
            rec = jvm.org.apache.avro.generic.GenericData.Record(entry_schema)
            rec.put("status", status)
            sub = jvm.org.apache.avro.generic.GenericData.Record(dsch)
            sub.put("content", content)
            sub.put("file_path", fpath)
            sub.put("file_format", "PARQUET")
            sub.put("record_count", 1)
            rec.put("data_file", sub)
            dfw.append(rec)
        dfw.close()
        return dest

    def write_manifest_list(rel: str, manifests: list[tuple[str, int]]) -> str:
        dest = os.path.join(root, "metadata", rel)
        wtr = jvm.org.apache.avro.generic.GenericDatumWriter(list_schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(wtr)
        dfw.create(list_schema, jvm.java.io.File(dest))
        for m, content in manifests:
            rec = jvm.org.apache.avro.generic.GenericData.Record(list_schema)
            rec.put("manifest_path", m)
            rec.put("manifest_length", 1)
            rec.put("content", content)
            dfw.append(rec)
        dfw.close()
        return dest

    m_data = write_manifest("m-data.avro", [(fa, 1, 0), (fb, 1, 0)])
    m_del = write_manifest("m-del.avro", [(fdel, 1, 1)])
    ml = write_manifest_list("sl1.avro", [(m_data, 0), (m_del, 1)])
    meta = {
        "format-version": 2,
        "table-uuid": "bdt-icepos-q",
        "location": root,
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "manifest-list": ml}],
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
            {"id": 2, "name": "o_orderstatus", "required": False,
             "type": "string"},
            {"id": 3, "name": "cents", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as fh:
        fh.write("1")
    snap = read_iceberg(spark, root)
    return snap.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )
