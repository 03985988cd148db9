"""plans/variant.py: the Variant binary encoder (differential vs
PySpark's own pure-Python codec), the thrift-compact footer patch that
makes VARIANT-bearing parquet openable by this container's pyarrow, the
VariantShredding reconstruction, and the lite-source read equality."""

import datetime
import decimal
import glob
import json
import os
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import VariantVal

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.variant import (
    decode_variant,
    encode_variant,
    open_parquet_compat,
    rebuild_shredded,
    strip_unknown_logical_types,
    variant_to_arrow,
)

# JSON-shaped python values (ints bounded to int64)
_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.text(max_size=20),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=8), children, max_size=5),
    ),
    max_leaves=20,
)


@given(_json_values)
@settings(max_examples=150, deadline=None)
def test_encoder_roundtrips_against_pyspark_decoder(obj):
    v, m = encode_variant(obj)
    assert VariantVal(v, m).toPython() == obj


@given(_json_values)
@settings(max_examples=60, deadline=None)
def test_encoder_agrees_with_pyspark_parse_json(obj):
    """Logical equality with Spark's own builder through the JSON route
    (bytes may differ — dictionary assignment order is writer-defined)."""
    ref = VariantVal.parseJson(json.dumps(obj)).toPython()
    got = VariantVal(*encode_variant(obj)).toPython()
    assert got == ref


def test_encoder_nonjson_types_roundtrip():
    cases = [
        1.5,
        -0.0,
        decimal.Decimal("123.456"),
        decimal.Decimal("-" + "9" * 18),
        b"\x00\xffbytes",
        datetime.date(1999, 12, 31),
        datetime.datetime(2020, 5, 4, 3, 2, 1, 500),
        datetime.datetime(
            2020, 5, 4, 3, 2, 1, 500, tzinfo=datetime.timezone.utc
        ),
        "x" * 100,  # long string (>63 bytes → LONG_STR encoding)
        {"nested": [decimal.Decimal("1.5"), None, {"b": b"\x01"}]},
    ]
    for c in cases:
        got = decode_variant(*encode_variant(c))
        if isinstance(c, datetime.datetime) and c.tzinfo is not None:
            assert got == c, c
        elif isinstance(c, float):
            assert float(got) == c, c
        else:
            assert got == c, c


def test_encoder_refuses_unsupported():
    with pytest.raises(NotImplementedError, match="variant encode"):
        encode_variant({"x": object()})
    with pytest.raises(ValueError, match="int64"):
        encode_variant(2**64)


@pytest.fixture(scope="module")
def variant_files(spark, tmp_path_factory):
    """One plain-written and one explicitly-shredded parquet dir of the
    same variant rows (Spark 4 auto-shreds both; the explicit one pins
    the option path), plus the expected python values."""
    d = str(tmp_path_factory.mktemp("vfiles"))
    df = spark.range(50).select(
        F.col("id"),
        F.parse_json(
            F.concat(
                F.lit('{"k": '),
                F.col("id").cast("string"),
                F.lit(', "s": "v'),
                (F.col("id") % 5).cast("string"),
                F.lit('", "arr": [1, 2], "nested": {"d": 1.5}}'),
            )
        ).alias("pv"),
    )
    p1 = os.path.join(d, "plain")
    df.coalesce(1).write.parquet(p1)
    p2 = os.path.join(d, "shred")
    df.coalesce(1).write.option("variantShreddingAttributes", "pv").parquet(p2)
    return p1, p2


def test_footer_patch_makes_variant_files_openable(variant_files):
    import pyarrow.parquet as pq

    for p in variant_files:
        f = glob.glob(p + "/*.parquet")[0]
        with pytest.raises(OSError, match="LogicalType"):
            pq.ParquetFile(f)
        pf = open_parquet_compat(f)
        assert pf.metadata.num_rows == 50
        t = pf.read()
        assert "pv" in t.column_names
        assert {x.name for x in t.schema.field("pv").type} >= {
            "metadata",
            "value",
        }


def test_footer_patch_is_identity_on_clean_files(spark, tmp_path):
    import pyarrow.parquet as pq

    p = os.path.join(str(tmp_path), "clean")
    spark.range(10).coalesce(1).write.parquet(p)
    f = glob.glob(p + "/*.parquet")[0]
    raw = open(f, "rb").read()
    (flen,) = struct.unpack("<I", raw[-8:-4])
    footer = raw[-8 - flen : -8]
    assert strip_unknown_logical_types(footer) is footer  # same object
    assert pq.ParquetFile(f).metadata.num_rows == 10


def test_rebuild_shredded_matches_json(variant_files):
    for p in variant_files:
        f = glob.glob(p + "/*.parquet")[0]
        t = open_parquet_compat(f).read()
        ids = t.column("id").to_pylist()
        vs, ms = rebuild_shredded(t.column("pv").combine_chunks())
        for i, v, m in zip(ids, vs, ms):
            got = decode_variant(v, m)
            assert got["k"] == i
            assert got["s"] == f"v{i % 5}"
            assert got["arr"] == [1, 2]
            assert got["nested"] == {"d": decimal.Decimal("1.5")}


def test_variant_to_arrow_null_rows(spark, tmp_path, variant_files):
    """A null variant row becomes a NULL struct slot, not a corrupt
    binary pair."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import VariantType

    p = os.path.join(str(tmp_path), "withnull")
    spark.range(4).select(
        F.col("id"),
        F.when(
            F.col("id") % 2 == 0, F.parse_json(F.lit('{"a": 1}'))
        ).alias("pv"),
    ).coalesce(1).write.parquet(p)
    f = glob.glob(p + "/*.parquet")[0]
    t = open_parquet_compat(f).read().sort_by("id")
    arr = variant_to_arrow(
        t.column("pv").combine_chunks(), to_arrow_type(VariantType())
    )
    assert [arr[i].is_valid for i in range(4)] == [True, False, True, False]
    sc = arr[0]
    assert (
        decode_variant(sc["value"].as_py(), sc["metadata"].as_py()) == {"a": 1}
    )


def test_lite_reads_match_native_for_both_formats(spark, sf_dir):
    """The q220 pin at test tier: (event_id, $.k) projections equal
    between lite and native reads, Iceberg and Delta."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        _shredded_variant_demo_table,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        _iceberg_variant_demo,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        DeltaLiteDataSource,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    spark.dataSource.register(DeltaLiteDataSource)

    def proj(df):
        return df.select(
            "event_id", F.variant_get("pv", "$.k", "bigint").alias("k")
        )

    it = _iceberg_variant_demo(spark, sf_dir)
    lite = spark.read.format("iceberg_lite").load(it.root)
    assert proj(lite).exceptAll(proj(it.read())).count() == 0
    assert proj(it.read()).exceptAll(proj(lite)).count() == 0
    dt = _shredded_variant_demo_table(spark, sf_dir)
    dlite = spark.read.format("delta_lite").load(dt.root)
    assert proj(dlite).exceptAll(proj(dt.read())).count() == 0
    assert proj(dt.read()).exceptAll(proj(dlite)).count() == 0


def test_encoder_refuses_nonfinite_decimal():
    """ADVICE r11: NaN/Infinity decimals have no variant decimal form and
    must refuse with a clear message, not the confusing int-parse error
    as_tuple()'s 'n'/'F' digits used to produce."""
    for bad in ("NaN", "-NaN", "sNaN", "Infinity", "-Infinity"):
        with pytest.raises(ValueError, match="finite"):
            encode_variant(decimal.Decimal(bad))
        with pytest.raises(ValueError, match="finite"):
            encode_variant({"x": [decimal.Decimal(bad)]})


def test_open_compat_catches_arrow_invalid(variant_files, monkeypatch):
    """ADVICE r11: a pyarrow that surfaces the unknown-LogicalType footer
    refusal as ArrowInvalid (not OSError 16.1.0-style) — or rewords it —
    must still reach the footer-patch fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    real = pq.ParquetFile

    def _strict(src, *a, **kw):
        if isinstance(src, str):
            raise pa.lib.ArrowInvalid(
                "Unrecognized Thrift logical type in metadata"
            )
        return real(src, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", _strict)
    f = glob.glob(variant_files[0] + "/*.parquet")[0]
    pf = open_parquet_compat(f)
    assert pf.metadata.num_rows == 50


@pytest.mark.parametrize(
    "name,mk_json",
    [
        # homogeneous → typed list elements (typed_value set per element)
        ("array_typed", lambda i: f"[{i}, {i + 1}, {i + 2}]"),
        # heterogeneous → residual list elements (value bytes per element)
        ("array_residual", lambda i: f'[{{"k": {i}}}, 2, "s"]'),
        # nested arrays inside an object field
        ("array_nested", lambda i: f'{{"a": [[{i}], [{i}, 1]], "b": 0}}'),
        # user fields LITERALLY named value / typed_value (VERDICT r11 #3:
        # the shape heuristic in _element_to_python must not confuse them
        # with the element-group wrapper)
        (
            "reserved_names",
            lambda i: f'{{"value": {i}, "typed_value": {{"inner": {i}}},'
            f' "other": "x"}}',
        ),
        # reserved names nested deeper + only reserved names (no other key)
        (
            "reserved_only",
            lambda i: f'{{"value": {{"typed_value": [{i}]}}}}',
        ),
    ],
)
def test_lite_reconstruction_edge_shapes(spark, tmp_path, name, mk_json):
    """VERDICT r11 #3 fixtures: top-level ARRAY shredding (typed and
    residual elements, Spark 4.1 shreds both as list<element-group>) and
    shredded objects whose user fields are literally named value /
    typed_value — the lite reconstruction must match the native read on
    every row. All rows must take the SHREDDED path (typed_value set) so
    the fixture exercises reconstruction, not binary passthrough."""
    import pyarrow  # noqa: F401

    p = os.path.join(str(tmp_path), name)
    df = spark.createDataFrame(
        [(i, mk_json(i)) for i in range(8)], "id long, j string"
    ).select("id", F.parse_json("j").alias("pv"))
    df.coalesce(1).write.option("variantShreddingAttributes", "pv").parquet(p)
    f = glob.glob(p + "/*.parquet")[0]
    t = open_parquet_compat(f).read()
    col = t.column("pv").combine_chunks()
    assert all(col[i]["typed_value"].is_valid for i in range(len(col))), (
        "fixture did not shred — passthrough would not test reconstruction"
    )
    vs, ms = rebuild_shredded(col)
    ids = t.column("id").to_pylist()
    got = {
        i: VariantVal(v, m).toPython() for i, v, m in zip(ids, vs, ms)
    }
    native = {
        r["id"]: json.loads(r["j"])
        for r in spark.read.parquet(p)
        .select("id", F.to_json("pv").alias("j"))
        .collect()
    }
    assert got == native
