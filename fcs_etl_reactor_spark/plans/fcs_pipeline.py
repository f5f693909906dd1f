"""End-to-end FCS ETL plan — the reference's full capability chain
(SURVEY.md §0.2 steps 1-6) as one lazy Spark plan:

    ingest (S4) → compensate (C1) → calibrate (C2) → gate (P2/P5)
    → summarize (A1-A5) → histogram (A11) → export (S5)

Everything up to the aggregations is a single narrow pipeline —
scan → mapInPandas parse straight to wide rows → codegen
projections/filters — so the only shuffles are the per-sample
aggregations at the end (tests/test_plans.py pins the point cloud's
plan as Exchange-free). That is the 100 TB shape: files parallelize
the scan, stats reduce map-side. Export is the caller's: the reactor
writes the returned frames as CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.operators.beads import log_histogram
from fcs_etl_reactor_spark.operators.compensation import compensate
from fcs_etl_reactor_spark.operators.gates import apply_gates
from fcs_etl_reactor_spark.sources.fcs import read_fcs_wide


def channel_values(df: DataFrame, channels: list[str]) -> DataFrame:
    """Wide events → (sample_id, channel, value), one row per channel."""
    args = ", ".join(f"'{c}', `{c}`" for c in channels)
    return df.select(
        "sample_id", F.expr(f"stack({len(channels)}, {args}) AS (channel, value)")
    )


def channel_stats(longf: DataFrame) -> DataFrame:
    """Per-sample-per-channel summary stats (the reference's stats CSV)
    over channel_values rows: count, mean, stddev, geo-mean, min/max,
    median."""
    pos = longf.filter(F.col("value") > 0)
    return (
        longf.groupBy("sample_id", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("value").alias("mean"),
            F.stddev_samp("value").alias("stddev"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.percentile_approx("value", 0.5).alias("median_approx"),
        )
        .join(
            pos.groupBy("sample_id", "channel").agg(
                F.exp(F.avg(F.log("value"))).alias("geo_mean"),
                F.exp(F.stddev_samp(F.log("value"))).alias("geo_stddev"),
            ),
            ["sample_id", "channel"],
            "left",
        )
    )


def run_fcs_pipeline(
    spark: SparkSession,
    fcs_path: str,
    channels: list[str],
    spillover_inverse: list[list[float]] | None = None,
    calibration: dict[str, tuple[float, float]] | None = None,
    gates: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the reconstructed reference pipeline; returns the three
    reference outputs as DataFrames: point_cloud, stats, histogram.

    calibration maps channel → (a, b) for mefl = a*x + b (linear) —
    log-domain curves come from operators.beads.calibrate.
    """
    wide = read_fcs_wide(spark, fcs_path, channels)

    if spillover_inverse is not None:
        wide = compensate(wide, channels, spillover_inverse,
                          keep=["sample_id", "event_id"], prefix="")

    if calibration:
        for ch, (a, b) in calibration.items():
            wide = wide.withColumn(ch, F.lit(a) * F.col(ch) + F.lit(b))

    if gates:
        wide = apply_gates(wide, gates).filter(F.col("all_gates"))
        wide = wide.drop("all_gates", *gates.keys())

    longf = channel_values(wide, channels)
    hist = log_histogram(longf, group_cols=["sample_id", "channel"])
    return {"point_cloud": wide, "stats": channel_stats(longf), "histogram": hist}
