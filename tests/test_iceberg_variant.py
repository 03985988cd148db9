"""Iceberg v3 ``variant`` columns (plans/iceberg.py — spec §Primitive
Types): schema round-trip, merge-on-read deletes over variant-bearing
files, and compaction through the footer-walk stats fallback."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"icevar_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.parse_json(
            F.concat(F.lit('{"a": '), F.col("id").cast("string"), F.lit("}"))
        ).alias("pv"),
    )


def _vals(t):
    return sorted(
        r[0] for r in t.read().select(F.variant_get("pv", "$.a", "long")).collect()
    )


def test_variant_schema_and_roundtrip(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 8))
    md = t.metadata()
    ice = next(s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"])
    assert next(f["type"] for f in ice["fields"] if f["name"] == "pv") == "variant"
    assert isinstance(t.schema()["pv"].dataType, T.VariantType)
    assert _vals(t) == list(range(8))
    # manifest record counts came from the footer-walk fallback, which
    # (r9) also recovers the SCALAR column's Appendix-D bounds — only the
    # variant column itself stays unprunable (the spec defines no bounds
    # for it; field id 2 = pv must be absent, field id 1 = k present)
    entries, _ = t.files()
    assert sum(e["record_count"] for e in entries) == 8
    for e in entries:
        assert e["lower_bounds"] is not None and "1" in e["lower_bounds"]
        assert "2" not in e["lower_bounds"]


def test_variant_equality_delete_and_append(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 6))
    t.equality_delete(spark.range(2, 4).select(F.col("id").alias("k")))
    t.append(_df(spark, 10, 12))
    assert _vals(t) == [0, 1, 4, 5, 10, 11]


def test_lite_source_reads_variant_files(spark, root):
    """Round-11 flip of the former documented limitation: iceberg_lite
    now opens variant-bearing files through the footer patch and
    reconstructs shredded rows (plans/variant.py) — the lite read of a
    variant table matches the JVM replay read value-for-value. (Raw
    pyarrow STILL cannot open these files — pinned in
    tests/test_variant_codec.py — which is exactly why the patch
    exists.)"""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    t = IcebergTable.create(spark, root, _df(spark, 0, 4))
    assert _vals(t) == [0, 1, 2, 3]  # JVM path works
    spark.dataSource.register(IcebergLiteDataSource)
    lite = spark.read.format("iceberg_lite").load(root)
    got = sorted(
        r[0]
        for r in lite.select(F.variant_get("pv", "$.a", "long")).collect()
    )
    assert got == [0, 1, 2, 3]


def test_variant_survives_compaction(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.append(_df(spark, 5, 9))
    t.rewrite_data_files(target_files=1)
    assert _vals(t) == list(range(9))
