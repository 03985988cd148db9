"""Environment / fixture canary — the engine's runtime assumptions asserted
in ONE place, so a silent PySpark upgrade or fixture regeneration fails
loudly here instead of as N wrong-answer queries.

Round-2 postmortem (VERDICT r2 + ADVICE): the fixture's events.ts physical
encoding changed from TIMESTAMP(NANOS) to TIMESTAMP(MICROS); loaders that
assumed nanos scaled every stream timestamp by 10^3 (2024 → 1970) and the
error surfaced only as six red oracle queries. Every assumption those
loaders make is pinned below.
"""

import datetime as dt

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.streaming.windows import (
    _events_stream,
    _run_to_completion,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import (
    epoch_seconds,
    events_ts_unit,
    load,
)

ERA_LO = dt.datetime(2000, 1, 1)
ERA_HI = dt.datetime(2100, 1, 1)


def test_session_timezone_is_utc(spark):
    """epoch_seconds and the stream TIMESTAMP schema rely on a UTC session
    TZ to make TIMESTAMP and TIMESTAMP_NTZ value-identical."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_fixture_ts_unit_is_recognized(sf_dir):
    """The footer probe must classify the fixture; anything unrecognized
    raises here before any loader misreads it."""
    assert events_ts_unit(sf_dir) in ("us", "ns", "ms", "s")


def test_batch_ts_lands_in_fixture_era(spark, sf_dir):
    """tables.load must yield a real timestamp column whose values land in
    the fixture's era (2024) — a unit-scaling bug lands in 1970 or 55xxx."""
    ev = load(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert ERA_LO <= lo <= hi <= ERA_HI, f"batch ts out of era: {lo}..{hi}"


def test_epoch_seconds_matches_known_value(spark):
    """epoch_seconds on a literal NTZ timestamp returns the exact epoch."""
    row = (
        spark.range(1)
        .select(
            epoch_seconds(
                F.lit("2024-03-01 12:00:00").cast("timestamp_ntz")
            ).alias("s")
        )
        .first()
    )
    assert row["s"] == 1709294400


def test_stream_loader_matches_batch_exactly(spark, sf_dir):
    """Value-sensitive stream-vs-batch parity on the loader itself: count,
    min(ts), max(ts) through _events_stream must equal tables.load to the
    second (formatted Spark-side so driver-local TZ can't skew collect())."""
    def summarize(df):
        return (
            df.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("lo"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("hi"),
            )
        )

    got = _run_to_completion(summarize(_events_stream(spark, sf_dir)), "complete").first()
    want = summarize(load(spark, sf_dir, "events")).first()
    assert (got["n"], got["lo"], got["hi"]) == (want["n"], want["lo"], want["hi"])
    assert got["lo"][:4] not in ("1970", "1969"), "stream loader unit-scaling bug"


def test_package_imports_from_this_checkout():
    """conftest puts its own checkout first on sys.path, so the suite (and
    the media oracles' fixture dir) resolve inside that checkout, never in
    another copy of the repository."""
    from pathlib import Path

    import copy_sharepoint_to_onelake_lakehousefiles_spark as pkg
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal import media

    root = Path(__file__).resolve().parent.parent
    assert Path(pkg.__file__).resolve().is_relative_to(root)
    assert Path(media._MEDIA_ORACLE_DIR).resolve() == root / "tests" / "fixtures"
