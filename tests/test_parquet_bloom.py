"""Parquet split-block Bloom filters (r9 — plans/parquet_bloom.py, from
the public BloomFilter.md + xxhash_spec.md): XXH64 reference vectors +
Spark differential, no-false-negatives over every written key, measured
false-positive rate, and the planning-tier file skip on a hash layout
where min/max stats can exclude nothing."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.parquet_bloom import (
    bitset_maybe_contains,
    bloom_offsets,
    file_maybe_contains,
    plain_encode,
    xxh64,
)


def test_xxh64_reference_vectors():
    # public xxHash reference values (seed 0)
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    assert xxh64(b"message digest") == 0x066ED728FCEEB3BE


def test_xxh64_differential_vs_spark(spark):
    """Spark's F.xxhash64 over a STRING column is XXH64(utf8, seed=42) —
    an unlimited differential oracle covering the 4-lane (>32 B), tail,
    and unicode paths."""
    strings = [
        "",
        "a",
        "abc",
        "0123456789" * 7,  # 70 bytes: stripes + tail
        "Ω≈ç√∫ unicode ügly ßtring",
        "x" * 31,
        "x" * 32,
        "x" * 33,
    ]
    rows = (
        spark.createDataFrame([(s,) for s in strings], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        mine = xxh64(r["s"].encode("utf-8"), seed=42)
        signed = mine - (1 << 64) if mine >= (1 << 63) else mine
        assert signed == r["h"], r["s"][:20]


@pytest.fixture()
def bloom_file(spark, tmp_path):
    out = str(tmp_path / "bl")
    df = spark.range(2000).select(
        (F.col("id") * 7919 % 104729).cast("long").alias("ev"),
        F.concat(F.lit("name_"), F.col("id").cast("string")).alias("nm"),
    )
    (
        df.coalesce(1)
        .write.option("parquet.bloom.filter.enabled#ev", "true")
        .option("parquet.bloom.filter.expected.ndv#ev", "2000")
        .option("parquet.bloom.filter.enabled#nm", "true")
        .option("parquet.bloom.filter.expected.ndv#nm", "2000")
        .parquet(out)
    )
    (p,) = glob.glob(os.path.join(out, "*.parquet"))
    return p, [r["ev"] for r in df.collect()], [r["nm"] for r in df.collect()]


def test_no_false_negatives_and_low_fp_rate(bloom_file):
    p, evs, nms = bloom_file
    offs = bloom_offsets(p)
    assert set(offs) == {"ev", "nm"}
    # every written key must probe True (bloom guarantee: no false negatives)
    assert all(file_maybe_contains(p, "ev", v) for v in evs)
    assert all(file_maybe_contains(p, "nm", s) for s in nms)
    # absent keys: mostly False (ndv-sized SBBF targets ~1% fp)
    absent = [200000 + i for i in range(500)]
    fps = sum(file_maybe_contains(p, "ev", v) for v in absent)
    assert fps <= 25, f"false-positive rate too high: {fps}/500"
    absent_s = [f"nope_{i}" for i in range(500)]
    fps_s = sum(file_maybe_contains(p, "nm", s) for s in absent_s)
    assert fps_s <= 25, fps_s


def test_no_bloom_column_cannot_exclude(bloom_file, spark, tmp_path):
    p, _evs, _nms = bloom_file
    # a column without a bloom filter always answers "maybe"
    assert file_maybe_contains(p, "no_such_column", 1) is True
    out = str(tmp_path / "plain")
    spark.range(5).coalesce(1).write.parquet(out)
    (pp,) = glob.glob(os.path.join(out, "*.parquet"))
    assert bloom_offsets(pp) == {}
    assert file_maybe_contains(pp, "id", 3) is True


def test_plain_encoding_shapes():
    assert plain_encode(2, 7) == b"\x07" + b"\x00" * 7
    assert plain_encode(1, -1) == b"\xff\xff\xff\xff"
    assert plain_encode(6, "abc") == b"abc"
    assert plain_encode(6, b"\x01\x02") == b"\x01\x02"
    with pytest.raises(ValueError, match="plain encoding"):
        plain_encode(3, 1)  # INT96


def test_bitset_probe_is_pure_function():
    # a crafted one-block bitset: set exactly the eight salt bits for h
    import struct as _s

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.parquet_bloom import (
        _SALT,
    )

    h = xxh64(b"hello")
    x = h & 0xFFFFFFFF
    words = [0] * 8
    for i in range(8):
        words[i] |= 1 << (((x * _SALT[i]) & 0xFFFFFFFF) >> 27)
    bits = b"".join(_s.pack("<I", w) for w in words)  # z=1 → block 0
    assert bitset_maybe_contains(bits, h) is True
    assert bitset_maybe_contains(bits, xxh64(b"other")) is False


# ---------------------------------------------------- DeltaTable tier


@pytest.fixture()
def droot(tmp_path):
    return str(tmp_path / "dlb")


def _hash_table(spark, droot, n=400):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )

    df = spark.range(n).select(F.col("id").alias("k")).repartition(4, "k")
    return DeltaTable.create(spark, droot, df, bloom_filters={"k": n // 4})


def test_delta_files_point_prunes_where_stats_cannot(spark, droot):
    t = _hash_table(spark, droot)
    assert len(t.files()) == 4
    mid = 200  # inside every file's hash-layout [min, max]
    assert len(t.files(bounds={"k": (mid, mid)})) == 4  # stats: useless
    cands = t.files_point("k", mid)
    assert 1 <= len(cands) < 4  # bloom: prunes (fp could keep an extra)
    got = t.point_lookup("k", mid).collect()
    assert [r["k"] for r in got] == [mid]
    # absent key: usually zero candidate files, always zero rows
    assert t.point_lookup("k", 10**9).count() == 0


def test_delta_bloom_config_persists_through_writes(spark, droot):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )

    t = _hash_table(spark, droot)
    assert t._bloom_cols(t.snapshot()[1]) == {"k": 100}
    t.append(spark.range(1000, 1050).select(F.col("id").alias("k")).coalesce(1))
    newest = max(
        t.files(), key=lambda a: json.loads(a["stats"])["minValues"]["k"]
    )
    assert bloom_offsets(os.path.join(t.root, newest["path"])) != {}
    assert file_maybe_contains(os.path.join(t.root, newest["path"]), "k", 1010)
    # merge-rewritten files keep their blooms too
    t.merge(spark.createDataFrame([(1010,)], "k long"), "k")
    for a in t.files():
        p = os.path.join(t.root, a["path"])
        assert bloom_offsets(p).get("k"), a["path"]


def test_delta_bloom_validation(spark, droot):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )

    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="not in df"):
        DeltaTable.create(spark, droot, df, bloom_filters={"nope": 10})
    with pytest.raises(ValueError, match="positive"):
        DeltaTable.create(spark, droot, df, bloom_filters={"k": 0})


# ------------------------------------------- delta_lite row-group tier


def test_row_group_bloom_selection_and_lite_read(spark, tmp_path):
    """Row-group-granularity bloom skipping (r9): a single sorted file
    with many small row groups — stats already narrow an equality to one
    group; on a SHUFFLED file stats keep everything and the bloom probe
    alone drops groups. Both paths must stay correct through delta_lite."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        select_row_groups_bloom,
    )

    root = str(tmp_path / "dlrg")
    # one file, tiny row groups: parquet.block.size caps each group's bytes
    df = (
        spark.range(60000)
        .select((F.xxhash64("id") % 100000).alias("k"))
        .coalesce(1)
    )
    spark.conf.set("parquet.block.size", 64 * 1024)
    try:
        t = DeltaTable.create(spark, root, df, bloom_filters={"k": 60000})
    finally:
        spark.conf.unset("parquet.block.size")
    (a,) = t.files()
    p = os.path.join(root, a["path"])
    offs = bloom_offsets(p)["k"]
    import pyarrow.parquet as pq

    ngroups = pq.ParquetFile(p).metadata.num_row_groups
    assert ngroups >= 3, ngroups  # the premise: many groups in one file
    assert len(offs) == ngroups  # one bloom per row group, in group order
    present = [r["k"] for r in t.read().limit(3).collect()]
    all_groups = list(range(ngroups))
    for v in present:
        kept = select_row_groups_bloom(p, ngroups, all_groups, [("k", v)])
        assert kept, v  # no false negatives at group granularity
        assert len(kept) < ngroups, v  # hash-shuffled keys: most groups drop
    kept_absent = select_row_groups_bloom(
        p, ngroups, all_groups, [("k", 10**12)]
    )
    assert len(kept_absent) <= max(1, ngroups // 3)  # fp-bounded
    # end-to-end through the lite source: equality pushdown stays correct
    spark.dataSource.register(
        __import__(
            "copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source",
            fromlist=["DeltaLiteDataSource"],
        ).DeltaLiteDataSource
    )
    lite = spark.read.format("delta_lite").load(root)
    for v in present:
        got = [r["k"] for r in lite.where(F.col("k") == v).collect()]
        want = [r["k"] for r in t.read().where(F.col("k") == v).collect()]
        assert sorted(got) == sorted(want) and got, v
    assert lite.where(F.col("k") == 10**12).count() == 0


def test_point_lookup_applies_deletion_vectors(spark, droot):
    """files_point keeps a file whose bloom contains the key even after a
    DV killed those rows (blooms are write-time, never rewritten on MoR
    deletes) — the row-level MoR mask must still drop them."""
    t = _hash_table(spark, droot)
    t.delete_vectors("k = 200")
    assert t.point_lookup("k", 200).count() == 0  # dead via DV, not rewrite
    assert t.point_lookup("k", 201).count() == 1  # neighbors untouched


def test_plain_encode_rejects_mistyped_byte_array_probe():
    """ADVICE r9: bytes(int_n) is n ZERO bytes — an int probe against a
    string column must fail loudly (TypeError), never hash garbage into a
    false 'definitely absent'."""
    with pytest.raises(TypeError, match="BYTE_ARRAY"):
        plain_encode(6, 7)
    with pytest.raises(TypeError, match="BYTE_ARRAY"):
        plain_encode(7, 3.5)
    # genuine byte-array values still encode
    assert plain_encode(6, "ab") == b"ab"
    assert plain_encode(6, b"\x00\xff") == b"\x00\xff"
    assert plain_encode(7, bytearray(b"xy")) == b"xy"


def test_float_double_columns_give_no_bloom_verdict(spark, tmp_path):
    """ADVICE r9: IEEE signed zero (+0.0 vs -0.0) hashes differently under
    plain bit-encoding, so FLOAT/DOUBLE eq probes are unsound — both the
    file tier and the row-group tier must return 'maybe present' always."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        select_row_groups_bloom,
    )

    out = str(tmp_path / "dbl")
    (
        spark.range(1000)
        .select((F.col("id") / 8.0).alias("d"))
        .coalesce(1)
        .write.option("parquet.bloom.filter.enabled#d", "true")
        .option("parquet.bloom.filter.expected.ndv#d", "1000")
        .parquet(out)
    )
    (p,) = glob.glob(os.path.join(out, "*.parquet"))
    offs = bloom_offsets(p)["d"]
    assert offs and offs[0][0] == 5  # premise: a DOUBLE bloom exists
    # file tier: a value that is definitely absent still gets True
    assert file_maybe_contains(p, "d", 1.0e18) is True
    assert file_maybe_contains(p, "d", -0.0) is True
    # row-group tier: groups pass through untouched
    import pyarrow.parquet as pq

    ng = pq.ParquetFile(p).metadata.num_row_groups
    allg = list(range(ng))
    assert select_row_groups_bloom(p, ng, allg, [("d", 1.0e18)]) == allg
