"""registry.session_memo: the one memo for every ``fn(spark, sf_dir)``
builder. Pins reuse within a session, the ``release_caches(0)`` reset,
invalidation when an input table under sf_dir is rewritten, and rebuild
when any table a memoized value holds has lost its directory."""

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from copy_sharepoint_to_onelake_lakehousefiles_spark.operators.similarity import (
    N_CELLS,
    ivf_centroids_memo,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
    _merged_delta_nation,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
    _demo_delta_join,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.registry import release_caches


@pytest.fixture
def tmp_sf(tmp_path, sf_dir):
    """A writable copy of the fixture tables (the originals are read-only)."""
    d = tmp_path / "sf"
    shutil.copytree(sf_dir, d, copy_function=shutil.copyfile)
    os.chmod(d, 0o755)
    return str(d)


def test_memo_reuses_until_release_caches_zero(spark, tmp_sf):
    first = ivf_centroids_memo(spark, tmp_sf)
    assert ivf_centroids_memo(spark, tmp_sf) is first
    release_caches(0)
    again = ivf_centroids_memo(spark, tmp_sf)
    assert again is not first and again == first


def test_rewritten_input_table_invalidates_memo(spark, tmp_sf):
    before = ivf_centroids_memo(spark, tmp_sf)
    path = os.path.join(tmp_sf, "embeddings.parquet")
    t = pq.read_table(path)
    # drop the k-means seed rows (the N_CELLS lowest vec_ids)
    pq.write_table(t.filter(pc.greater_equal(t["vec_id"], N_CELLS)), path)
    after = ivf_centroids_memo(spark, tmp_sf)
    assert after != before


def test_deleted_table_directory_rebuilds(spark, tmp_sf):
    t = _merged_delta_nation(spark, tmp_sf)
    shutil.rmtree(t.root)
    t2 = _merged_delta_nation(spark, tmp_sf)
    assert t2.root != t.root and os.path.isdir(t2.log_dir)
    # every table in a tuple counts, not only the first
    ot, ct = _demo_delta_join(spark, tmp_sf)
    shutil.rmtree(ct.root)
    ot2, ct2 = _demo_delta_join(spark, tmp_sf)
    assert ct2.root != ct.root and os.path.isdir(ct2.log_dir)
