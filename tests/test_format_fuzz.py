"""Property-based cross-format fuzz: a RANDOM sequence of append /
delete-by-key-predicate operations applied through both table formats
(Delta _delta_log, Iceberg v2 metadata) must agree
with a pure-Python list model at the end, and the create snapshot must
stay intact under time travel. Iceberg alternates its two merge-on-read
delete flavors (position deletes and equality deletes) and Delta
alternates copy-on-write deletes with deletion vectors across the
sequence, so the fuzz also pins that every MoR delete flavor is
equivalent to a copy-on-write delete for key-only predicates evaluated
over the live table."""

import os
import shutil
import tempfile
import uuid

from hypothesis import given, settings, strategies as st

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable

DDL = "k long, v long"

row = st.tuples(
    st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=99)
)
append_op = st.tuples(st.just("append"), st.lists(row, min_size=1, max_size=4))
delete_op = st.tuples(st.just("delete"), st.integers(2, 4), st.integers(0, 3))
# checkpoint at a random point: v2 (sidecar layout, r5) or classic
# MULTI-PART (r6) — all subsequent Delta resolution must come through it
ckpt_op = st.tuples(
    st.sampled_from(["ckpt_v2", "ckpt_mp"]), st.integers(1, 3)
)
ops_seq = st.lists(st.one_of(append_op, delete_op, ckpt_op), min_size=1, max_size=4)
initial = st.lists(row, min_size=1, max_size=5)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=8, deadline=None)
@given(init=initial, ops=ops_seq)
def test_random_op_sequences_agree_across_formats(spark, init, ops):
    base = os.path.join(tempfile.gettempdir(), f"fuzz_{uuid.uuid4().hex[:8]}")
    try:
        c_df = spark.createDataFrame(init, DDL)
        # the Delta leg declares BLOOM FILTERS (r9): semantics-neutral, but
        # every random op sequence (CoW deletes, DVs of both storage
        # flavors, checkpoints) must keep writing probeable blooms
        dl = DeltaTable.create(
            spark, os.path.join(base, "dl"), c_df, bloom_filters={"k": 64}
        )
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), c_df)
        model = list(init)
        for i, op in enumerate(ops):
            if op[0] == "append":
                _, rows = op
                a_df = spark.createDataFrame(rows, DDL)
                dl.append(a_df)
                ic.append(a_df)
                model.extend(rows)
            elif op[0] in ("ckpt_v2", "ckpt_mp"):
                if op[0] == "ckpt_v2":
                    dl.write_checkpoint_v2(sidecar_parts=op[1])
                else:
                    dl._write_checkpoint(dl._state(), parts=op[1] + 1)
                # resolution through the fresh checkpoint must match a new
                # handle's view immediately
                assert _rows(DeltaTable(spark, dl.root).read()) == sorted(model)
                continue
            else:
                _, m, r = op
                r = r % m
                pred = f"k % {m} = {r}"
                if i % 2 == 0:  # alternate Delta CoW delete vs deletion vectors
                    # ... and alternate the DV STORAGE flavor: inline ("i",
                    # Base85 in the descriptor) on one delete, DV file ("p")
                    # on the next — readers must apply both identically
                    dl.INLINE_DV_MAX_BYTES = 1 << 20 if (i // 2) % 2 == 0 else 0
                    res = dl.delete_vectors(pred)
                    if res.get("files_updated"):
                        flavors = {
                            a["deletionVector"]["storageType"]
                            for a in dl.files()
                            if a.get("deletionVector")
                        }
                        want = "i" if dl.INLINE_DV_MAX_BYTES else "p"
                        assert want in flavors
                else:
                    dl.delete(pred)
                if i % 2 == 0:  # alternate Iceberg's two MoR delete flavors
                    ic.position_delete(pred)
                else:
                    keys = [(k,) for k in range(10) if k % m == r]
                    ic.equality_delete(spark.createDataFrame(keys, "k long"))
                model = [t for t in model if t[0] % m != r]
        expected = sorted(model)
        assert _rows(dl.read()) == expected, "Delta diverges from model"
        assert _rows(ic.read()) == expected, "Iceberg diverges from model"
        # the PLUGGABLE sources must agree with the native readers on the
        # same final state — MoR deletes (DVs, position/equality files) and
        # checkpoint resolution all flow through the executor-side paths
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            DeltaLiteDataSource,
        )
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(DeltaLiteDataSource)
        spark.dataSource.register(IcebergLiteDataSource)
        for fmt, troot in (
            ("delta_lite", dl.root),
            ("iceberg_lite", ic.root),
        ):
            got = _rows(spark.read.format(fmt).load(troot).select("k", "v"))
            assert got == expected, f"{fmt} diverges from the native reader"
        # bloom point lookups agree with the model on the final state,
        # for a live key AND a deleted-everywhere key (r9)
        from collections import Counter

        live_keys = Counter(t[0] for t in model)
        probe_live = next(iter(live_keys), None)
        if probe_live is not None:
            got_pl = sorted(
                tuple(r) for r in dl.point_lookup("k", probe_live).collect()
            )
            assert got_pl == sorted(t for t in model if t[0] == probe_live)
        assert dl.point_lookup("k", 999_999).count() == 0
        # r10 surfaces on the post-sequence state:
        # (a) the Delta VERSION CHECKSUM on disk equals the replayed one
        # for the final version (every read above already validated it —
        # this pins the API view matches the artifact byte-for-byte)
        import json as _json

        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
            _fmt_crc,
        )

        with open(os.path.join(dl.log_dir, _fmt_crc(dl.latest_version()))) as f:
            disk = _json.load(f)
        api = dl.version_checksum()
        # counted invariants must match exactly; metadata compares by table
        # id (checkpoint replay normalizes incidental fields like
        # createdTime, which the validator rightly ignores)
        for k_ in (
            "numFiles", "tableSizeBytes", "numDeletedRecordsOpt",
            "numDeletionVectorsOpt", "protocol",
        ):
            assert disk[k_] == api[k_], k_
        assert disk["metadata"]["id"] == api["metadata"]["id"]
        # (b) ANALYZE after any random delete/append mix: k has <= 10
        # distinct LIVE values, so the theta sketch is exact-mode and must
        # equal the model's live-key count
        ic.analyze(columns=["k"])
        got_ndv = ic.ndv("k")
        assert got_ndv["exact"] and got_ndv["ndv"] == len({t_[0] for t_ in model})
        # (c) partition statistics on the (unpartitioned) final state:
        # data_record_count sums the live data files' record counts
        ic.write_partition_statistics()
        ps = ic.partition_stats_df().collect()
        assert len(ps) == 1
        assert ps[0]["data_record_count"] == sum(
            e.get("record_count") or 0 for e in ic.files()[0]
        )
        # the create snapshot is immutable under every stack
        first = sorted(init)
        assert _rows(dl.read(0)) == first
        assert _rows(ic.read(index=0)) == first
    finally:
        shutil.rmtree(base, ignore_errors=True)


value_col_idx = st.integers(min_value=0, max_value=5)
evo_op = st.one_of(
    st.tuples(st.just("append"), st.lists(row, min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.integers(2, 4), st.integers(0, 3)),
    st.tuples(st.just("rename"), value_col_idx),
    st.tuples(st.just("drop"), value_col_idx),
    st.tuples(st.just("addcol"), st.integers(min_value=0, max_value=99)),
)


@settings(max_examples=6, deadline=None)
@given(init=initial, ops=st.lists(evo_op, min_size=1, max_size=4))
def test_random_evolution_sequences_agree_delta_vs_iceberg(spark, init, ops):
    """Random append/delete/rename/drop/add-column sequences through Delta
    (column mapping) and Iceberg (field ids) against a pure-Python model:
    renames must carry historical data, drops must hide it permanently,
    added columns must read null for pre-existing rows, and deletes keep
    composing with all of it."""
    base = os.path.join(tempfile.gettempdir(), f"efuzz_{uuid.uuid4().hex[:8]}")
    try:
        init_rows = [(k, v, v * 2) for k, v in init]
        ddl = "k long, a long, b long"
        c_df = spark.createDataFrame(init_rows, ddl)
        # the Delta leg declares BLOOM FILTERS (r9): semantics-neutral, but
        # every random op sequence (CoW deletes, DVs of both storage
        # flavors, checkpoints) must keep writing probeable blooms
        dl = DeltaTable.create(
            spark, os.path.join(base, "dl"), c_df, bloom_filters={"k": 64}
        )
        dl.enable_column_mapping()
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), c_df)
        cols = ["k", "a", "b"]  # current logical schema, k immutable
        model = [dict(zip(cols, r)) for r in init_rows]
        for i, op in enumerate(ops):
            val_cols = [c for c in cols if c != "k"]
            if op[0] == "append":
                rows = [
                    tuple([k] + [v + j for j in range(len(cols) - 1)])
                    for k, v in op[1]
                ]
                ddl_now = ", ".join(f"{c} long" for c in cols)
                a_df = spark.createDataFrame(rows, ddl_now)
                dl.append(a_df)
                ic.append(a_df)
                model.extend(dict(zip(cols, r)) for r in rows)
            elif op[0] == "delete":
                _, m, r = op
                r = r % m
                pred = f"k % {m} = {r}"
                if i % 2 == 0:
                    dl.delete_vectors(pred)
                    ic.position_delete(pred)
                else:
                    dl.delete(pred)
                    dead_keys = sorted({t["k"] for t in model if t["k"] % m == r})
                    if dead_keys:
                        ic.equality_delete(
                            spark.createDataFrame([(k,) for k in dead_keys], "k long")
                        )
                model = [t for t in model if t["k"] % m != r]
            elif op[0] == "rename":
                old = val_cols[op[1] % len(val_cols)]
                new = f"c{i}_{old}"
                dl.rename_column(old, new)
                ic.rename_column(old, new)
                cols = [new if c == old else c for c in cols]
                model = [{(new if k == old else k): v for k, v in t.items()} for t in model]
            elif op[0] == "drop":
                if len(val_cols) < 2:
                    continue  # keep at least one value column
                victim = val_cols[op[1] % len(val_cols)]
                dl.drop_column(victim)
                ic.drop_column(victim)
                cols = [c for c in cols if c != victim]
                model = [{k: v for k, v in t.items() if k != victim} for t in model]
            else:  # addcol: evolve with a fresh column; old rows read null
                new = f"n{i}"
                fill = op[1]
                ddl_now = ", ".join(f"{c} long" for c in cols + [new])
                rows = [tuple([90 + i] + [fill] * len(cols))]
                a_df = spark.createDataFrame(rows, ddl_now)
                dl.append(a_df, allow_evolution=True)
                ic.append(a_df, allow_evolution=True)
                for t in model:
                    t[new] = None
                cols = cols + [new]
                model.append(dict(zip(cols, rows[0])))
        expected = sorted(
            (tuple(t[c] for c in cols) for t in model),
            key=lambda t: tuple((v is None, v) for v in t),
        )
        for name, tbl in (("delta", dl), ("iceberg", ic)):
            got = sorted(
                (tuple(r[c] for c in cols) for r in tbl.read().select(*cols).collect()),
                key=lambda t: tuple((v is None, v) for v in t),
            )
            assert got == expected, f"{name} diverges from model (cols={cols})"
    finally:
        shutil.rmtree(base, ignore_errors=True)


defaulted_add = st.tuples(
    st.just("adddef"),
    st.integers(min_value=-5, max_value=5),          # initial-default
    st.one_of(st.none(), st.integers(0, 9)),         # write-default (None = same)
)
plain_add = st.tuples(st.just("addplain"))
dflt_append = st.tuples(
    st.just("append"),
    st.lists(row, min_size=1, max_size=3),
    st.booleans(),  # omit the newest column (exercise write-default)?
)
dflt_op = st.one_of(dflt_append, defaulted_add, plain_add, st.tuples(st.just("rewrite")))


@settings(max_examples=5, deadline=None)
@given(init=initial, ops=st.lists(dflt_op, min_size=1, max_size=4))
def test_random_iceberg_default_sequences_agree_with_model(spark, init, ops):
    """r7 fuzz for Iceberg v3 COLUMN DEFAULTS: random append /
    add-column-with-default / add-column-plain / rewrite sequences against
    a pure-Python model. initial-default must fill exactly the rows that
    PRE-DATE the add (never rows appended after, even when the writer
    omits the column - that's write-default's job), plain adds must null-fill,
    and a bin-pack rewrite must change nothing. The iceberg_lite source
    must agree with the native reader at the end (its executor fills
    defaults in Arrow, a separate code path)."""
    base = os.path.join(tempfile.gettempdir(), f"dfuzz_{uuid.uuid4().hex[:8]}")
    try:
        ic = IcebergTable.create(
            spark, os.path.join(base, "ic"), spark.createDataFrame(init, DDL)
        )
        cols = ["k", "v"]
        wd: dict = {}  # col -> write-default (None = null fill)
        model = [dict(zip(cols, r)) for r in init]
        for i, op in enumerate(ops):
            if op[0] == "append":
                _, rows, omit = op
                use = cols[:-1] if (omit and len(cols) > 2) else cols
                full = [tuple([k, v] + [v + j for j in range(len(use) - 2)]) for k, v in rows]
                ddl_now = ", ".join(f"{c} long" for c in use)
                ic.append(spark.createDataFrame(full, ddl_now))
                for r in full:
                    t = dict(zip(use, r))
                    for c in cols:
                        if c not in t:
                            t[c] = wd.get(c)
                    model.append(t)
            elif op[0] == "adddef":
                _, d, w = op
                new = f"d{i}"
                ic.add_column(new, "long", default=d, write_default=w)
                for t in model:
                    t[new] = d  # initial-default: pre-existing rows only
                cols.append(new)
                wd[new] = w if w is not None else d
            elif op[0] == "addplain":
                new = f"p{i}"
                ic.add_column(new, "long")
                for t in model:
                    t[new] = None
                cols.append(new)
                wd[new] = None
            else:  # rewrite: logical no-op (works on v2 and v3 tables)
                ic.rewrite_data_files()
        expected = sorted(
            (tuple(t[c] for c in cols) for t in model),
            key=lambda t: tuple((v is None, v) for v in t),
        )
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            IcebergLiteDataSource,
        )

        spark.dataSource.register(IcebergLiteDataSource)
        for name, df in (
            ("native", ic.read()),
            ("iceberg_lite", spark.read.format("iceberg_lite").load(ic.root)),
        ):
            got = sorted(
                (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
                key=lambda t: tuple((v is None, v) for v in t),
            )
            assert got == expected, f"{name} diverges from model (cols={cols})"
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --------------------------------------------------------- lineage fuzz

lineage_op = st.one_of(
    st.tuples(st.just("append"), st.integers(1, 3)),
    st.tuples(st.just("update"), st.integers(2, 4), st.integers(0, 3)),
    st.tuples(st.just("dvdel"), st.integers(2, 5), st.integers(0, 4)),
    st.tuples(st.just("compact")),
)


@settings(max_examples=5, deadline=None)
@given(n0=st.integers(min_value=2, max_value=5), ops=st.lists(lineage_op, min_size=1, max_size=4))
def test_random_lineage_sequences_keep_ids_stable(spark, n0, ops):
    """r8 fuzz: random append / CoW-merge-update / DV-delete / compaction
    sequences on a Delta ROW-TRACKING table and an Iceberg ROW-LINEAGE
    table. Invariants after EVERY op, on both stacks:
    - values equal a pure-Python key→value model,
    - every surviving key keeps the row id it was born with (updates,
      DV deletes, and compactions must never churn ids),
    - ids are unique, and appended rows' ids are strictly greater than
      every id ever assigned (high-water-mark discipline)."""
    base = os.path.join(tempfile.gettempdir(), f"linfuzz_{uuid.uuid4().hex[:8]}")

    def mk(rows):
        return (
            spark.createDataFrame(sorted(rows), DDL).orderBy("k").coalesce(1)
        )

    try:
        init = [(k, k * 10) for k in range(n0)]
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), mk(init))
        dl.enable_row_tracking()
        ic0 = IcebergTable.create(spark, os.path.join(base, "ic"), mk(init))
        ic0.enable_row_lineage()
        ic = IcebergTable(spark, ic0.root)
        model = {k: v for k, v in init}
        next_key = n0

        def snaps():
            d = {
                r.k: (r.v, r._row_id)
                for r in dl.row_tracking_df().collect()
            }
            i = {
                r.k: (r.v, r._row_id)
                for r in ic.row_lineage_df().collect()
            }
            return d, i

        d0, i0 = snaps()
        born = {"dl": {k: rid for k, (_v, rid) in d0.items()},
                "ic": {k: rid for k, (_v, rid) in i0.items()}}
        for step, op in enumerate(ops):
            if op[0] == "append":
                n = op[1]
                rows = [(next_key + j, (next_key + j) * 10) for j in range(n)]
                next_key += n
                dl.append(mk(rows))
                ic.append(mk(rows))
                model.update(dict(rows))
            elif op[0] == "update":
                _, m, r = op
                upd = [(k, k * 1000 + step) for k in sorted(model) if k % m == r % m]
                if not upd:
                    continue
                dl.merge(mk(upd), key="k")
                ic.merge_cow(mk(upd), key="k")
                model.update(dict(upd))
            elif op[0] == "dvdel":
                _, m, r = op
                pred = f"k % {m} = {r % m}"
                dl.delete_vectors(pred)
                ic.delete_vectors_v3(pred)
                model = {k: v for k, v in model.items() if k % m != r % m}
            else:
                dl.compact(target_files=1)
                if ic.files()[0]:
                    ic.rewrite_data_files()
            d, i = snaps()
            for name, got in (("dl", d), ("ic", i)):
                assert {k: v for k, (v, _r) in got.items()} == model, (
                    f"{name} values diverge at step {step} ({op})"
                )
                ids = [rid for (_v, rid) in got.values()]
                assert len(set(ids)) == len(ids), f"{name} id collision"
                b = born[name]
                hwm = max(b.values(), default=-1)
                for k, (_v, rid) in got.items():
                    if k in b:
                        assert rid == b[k], (
                            f"{name} id churn for key {k} at step {step} ({op})"
                        )
                    else:
                        assert rid > hwm, f"{name} reused id {rid} for {k}"
                        b[k] = rid
    finally:
        shutil.rmtree(base, ignore_errors=True)
