"""Default-curve rollup (A6): the three-level fallback hierarchy of
delay CDFs, from src/analyser/default_curves.rs:42-248.

Level 1: per (route_type, route_section, time_slot, event_type) — the
         average of per-route-variant ECDFs (each variant curve needs
         >= 10 delay values; simplify(0.001)).
Level 2 fallback: per (route_type, event_type) — average over ALL of
         that type's per-variant curves, any section/slot.
Level 3: one super-default curve — average over everything (inputs
         simplified at 0.01 first).
The final grid covers every (route_type, section, slot∈11, event) key,
gaps filled from level 2, then level 3 (PrecisionType General /
FallbackGeneral / SuperGeneral).

Spark shape: one groupBy per level with curve UDAFs; the final grid is
a small cross join (11 types × 3 sections × 11 slots × 2 events = 726
keys) resolved with broadcast left joins + coalesce — no driver loops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..curves.core import Curve, average_curves, make_curve, simplify
from ..curves.udfs import curve_to_rows, rows_to_curve
from ..functions.route import route_section
from ..functions.time import TIME_SLOTS
from ..schemas import (
    EVENT_ARRIVAL,
    EVENT_DEPARTURE,
    PRECISION_FALLBACK_GENERAL,
    PRECISION_GENERAL,
    PRECISION_SUPER_GENERAL,
)

MIN_DATA_FOR_CURVE = 10  # src/analyser/default_curves.rs:21
ROUTE_TYPES = [0, 1, 2, 3, 4, 5, 6, 7]  # GTFS codes present in FIXTURES.md
SECTIONS = ["beginning", "middle", "end"]
SLOT_IDS = [s[0] for s in TIME_SLOTS]  # the 11 non-DEFAULT slots


def variant_section_curves(enriched: DataFrame, routes: DataFrame) -> DataFrame:
    """Per-variant ECDFs keyed (route_type, section, slot, event): the
    map side of the rollup (default_curves.rs:83-160)."""
    r = enriched.join(
        F.broadcast(routes.select("route_id", "route_type")), "route_id"
    ).withColumn(
        "route_section", route_section(F.col("stop_index"), F.col("stop_count"))
    )
    per_event = []
    for et, delay_col, slot_col in (
        (EVENT_ARRIVAL, "delay_arrival", "slot_arrival"),
        (EVENT_DEPARTURE, "delay_departure", "slot_departure"),
    ):
        per_event.append(
            r.filter(F.col(delay_col).isNotNull()).select(
                "route_type",
                "route_section",
                F.col(slot_col).alias("time_slot_id"),
                F.lit(et).alias("event_type"),
                "route_id",
                "route_variant",
                F.col(delay_col).cast("double").alias("delay"),
            )
        )
    stacked = per_event[0].unionByName(per_event[1])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["route_type", "route_section", "time_slot_id", "event_type", "curve", "sample_size"]
        values = pdf["delay"].to_numpy(dtype=float)
        if len(values) < MIN_DATA_FOR_CURVE:
            return pd.DataFrame(columns=cols)
        made = make_curve(values, None)
        if made is None:
            return pd.DataFrame(columns=cols)
        curve = simplify(made[0], 0.001)
        head = pdf.iloc[0]
        return pd.DataFrame(
            {
                "route_type": [int(head["route_type"])],
                "route_section": [head["route_section"]],
                "time_slot_id": [int(head["time_slot_id"])],
                "event_type": [int(head["event_type"])],
                "curve": [curve_to_rows(curve)],
                "sample_size": [len(values)],
            }
        )

    schema = (
        "route_type int, route_section string, time_slot_id int, event_type int, "
        "curve array<struct<x: float, y: float>>, sample_size int"
    )
    # batched grouped-map dispatch (see stop_pair_curve_sets): one
    # Python invocation per Arrow batch over the variant-keyed groups
    # (the ×R-scaling group space); the per-group ECDF is
    # order-insensitive (make_curve np.sorts internally).  The rollup
    # levels below keep plain applyInPandas — their group counts are
    # grid-bounded, not corpus-scaling.
    from .grouped_map import map_grouped_in_pandas

    return map_grouped_in_pandas(
        stacked,
        (
            "route_type", "route_section", "time_slot_id", "event_type",
            "route_id", "route_variant",
        ),
        build,
        schema,
    )


_MEMBER_SORT_COLS = [
    "route_type", "route_section", "time_slot_id", "event_type",
    "route_id", "route_variant",
]


def _average_udf(group_cols: list[str], extra_simplify: float | None = None):
    cols = group_cols + ["curve", "sample_size"]

    def avg(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic member order: float summation in average_curves is
        # order-sensitive at the ulp level, and applyInPandas row order is
        # partition-arrival order — sort so reruns and the single-node
        # oracle sum in the same order
        pdf = pdf.sort_values([c for c in _MEMBER_SORT_COLS if c in pdf.columns])
        curves: list[Curve] = []
        for rows in pdf["curve"]:
            c = rows_to_curve(rows)
            if c is not None:
                curves.append(simplify(c, extra_simplify) if extra_simplify else c)
        if not curves:
            return pd.DataFrame(columns=cols)
        merged = simplify(average_curves(curves), 0.001)
        sample = int(pdf["sample_size"].mean())  # sample_size = mean of inputs
        head = pdf.iloc[0]
        out = {c: [head[c]] for c in group_cols}
        out["curve"] = [curve_to_rows(merged)]
        out["sample_size"] = [sample]
        return pd.DataFrame(out)

    return avg


def default_statistics(enriched: DataFrame, routes: DataFrame) -> DataFrame:
    """The full rollup + gap fill → DELAY_CURVES-shaped rows
    (scope 'default', every grid key populated)."""
    spark = enriched.sparkSession
    variant_curves = tracked_persist(variant_section_curves(enriched, routes))

    level1 = variant_curves.groupBy(
        "route_type", "route_section", "time_slot_id", "event_type"
    ).applyInPandas(
        _average_udf(["route_type", "route_section", "time_slot_id", "event_type"]),
        "route_type int, route_section string, time_slot_id int, event_type int, "
        "curve array<struct<x: float, y: float>>, sample_size int",
    )
    level2 = variant_curves.groupBy("route_type", "event_type").applyInPandas(
        _average_udf(["route_type", "event_type"]),
        "route_type int, event_type int, "
        "curve array<struct<x: float, y: float>>, sample_size int",
    )
    level3 = (
        variant_curves.groupBy()
        .applyInPandas(
            _average_udf([], extra_simplify=0.01),
            "curve array<struct<x: float, y: float>>, sample_size int",
        )
    )

    grid = spark.createDataFrame(
        [
            (rt, sec, slot, et)
            for rt in ROUTE_TYPES
            for sec in SECTIONS
            for slot in SLOT_IDS
            for et in (EVENT_ARRIVAL, EVENT_DEPARTURE)
        ],
        "route_type int, route_section string, time_slot_id int, event_type int",
    )

    l1 = level1.select(
        "route_type", "route_section", "time_slot_id", "event_type",
        F.col("curve").alias("c1"), F.col("sample_size").alias("n1"),
    )
    l2 = level2.select(
        "route_type", "event_type",
        F.col("curve").alias("c2"), F.col("sample_size").alias("n2"),
    )
    l3 = level3.select(F.col("curve").alias("c3"), F.col("sample_size").alias("n3"))

    filled = (
        grid.join(F.broadcast(l1), ["route_type", "route_section", "time_slot_id", "event_type"], "left")
        .join(F.broadcast(l2), ["route_type", "event_type"], "left")
        .crossJoin(F.broadcast(l3))
        .withColumn(
            "precision_type",
            F.when(F.col("c1").isNotNull(), F.lit(PRECISION_GENERAL))
            .when(F.col("c2").isNotNull(), F.lit(PRECISION_FALLBACK_GENERAL))
            .otherwise(F.lit(PRECISION_SUPER_GENERAL)),
        )
        .withColumn("curve", F.coalesce("c1", "c2", "c3"))
        .withColumn("sample_size", F.coalesce("n1", "n2", "n3"))
        .filter(F.col("curve").isNotNull())
    )
    return filled.select(
        F.lit("default").alias("scope"),
        F.lit(None).cast("string").alias("route_id"),
        F.lit(None).cast("long").alias("route_variant"),
        F.lit(None).cast("int").alias("start_stop_index"),
        F.lit(None).cast("int").alias("end_stop_index"),
        F.lit(None).cast("int").alias("stop_index"),
        "route_type",
        "route_section",
        "time_slot_id",
        "event_type",
        F.lit(None).cast("float").alias("focus_delay"),
        "curve",
        "precision_type",
        "sample_size",
    )
