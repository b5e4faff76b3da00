"""S1: GTFS static schedule scan — the reference loads a GTFS zip/dir
into an in-memory `Gtfs` object (src/main.rs:399-404, gtfs-structures
fork with a `route_variant` extension).  Spark-first: schema'd CSV reads
per member file, with `route_variant` derived from the stop-sequence
pattern when the feed doesn't carry it.

A zip input is expanded to a temp dir on the driver once (GTFS zips are
small); the CSV scan itself is distributed.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas as S

_CSV_SCHEMAS: dict[str, T.StructType] = {
    "agency": S.AGENCY,
    "routes": S.ROUTES,
    "stops": S.STOPS,
    "trips": S.TRIPS,
    "stop_times": S.STOP_TIMES,
    "calendar": S.CALENDAR,
}


def _expand_zip(path: str) -> str:
    out = tempfile.mkdtemp(prefix="gtfs_")
    with zipfile.ZipFile(path) as zf:
        zf.extractall(out)
    return out


def read_gtfs(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Read a GTFS feed (directory or .zip) into schema'd DataFrames.
    Missing optional members yield empty DataFrames with the right
    schema.  trips.route_variant is derived if the feed lacks the
    dystonse fork's column."""
    if path.endswith(".zip"):
        path = _expand_zip(path)
    out: dict[str, DataFrame] = {}
    for name, schema in _CSV_SCHEMAS.items():
        member = os.path.join(path, f"{name}.txt")
        if not os.path.exists(member):
            member_csv = os.path.join(path, f"{name}.csv")
            member = member_csv if os.path.exists(member_csv) else None
        if member is None:
            out[name] = spark.createDataFrame([], schema)
            continue
        raw = spark.read.option("header", True).csv(member)
        # project to the declared schema (cast + fill missing columns)
        cols = []
        for field in schema.fields:
            if field.name in raw.columns:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        out[name] = raw.select(*cols)

    if "trips" in out and "stop_times" in out:
        needs_variant = (
            out["trips"].filter(F.col("route_variant").isNotNull()).limit(1).count() == 0
        )
        if needs_variant:
            out["trips"] = derive_route_variants(out["trips"], out["stop_times"])
    return out


def derive_route_variants(trips: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Assign each trip a route_variant id = dense rank of its ordered
    stop-id pattern within the route (the fork's semantic: one variant
    per distinct stop sequence).  One shuffle on trip_id + one on the
    pattern hash — no driver loops."""
    patterns = (
        stop_times.groupBy("trip_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("stop_sequence", "stop_id"))),
                lambda s: s.stop_id,
            ).alias("pattern")
        )
        .withColumn("pattern_hash", F.abs(F.xxhash64(F.concat_ws(";", "pattern"))))
        .select("trip_id", "pattern_hash")
    )
    return (
        trips.drop("route_variant")
        .join(patterns, "trip_id", "left")
        .withColumn("route_variant", F.col("pattern_hash").cast("long"))
        .drop("pattern_hash")
    )

