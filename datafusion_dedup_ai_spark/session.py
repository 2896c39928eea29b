"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that matter
at cluster scale too: AQE (runtime re-planning + skew-join splitting), Arrow
(vectorized Python interchange for the few pandas UDFs), and a shuffle
partition count sized to the deployment rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# AQE sizes skew-join decisions by COMPRESSED map-output bytes, but task
# memory and wall time scale with the UNCOMPRESSED partition. For the short-
# string shuffles this engine lives on (names, shingles, tokens) lz4 achieves
# high ratios, so thresholds naively sized in "data bytes" never fire: the
# round-9/10 mega-block probe's hot partition is ~1.29 MiB uncompressed
# (10k prepared-name rows) yet the split fires at a 128 KiB compressed
# threshold and STOPS firing at 256 KiB — a measured ~7x ratio, and a
# 3-4.5x wall-clock difference on the probe join (28.7s fired vs 129s not;
# SCALE.md round-10). Size skew confs in uncompressed terms and divide.
TEXT_SHUFFLE_COMPRESSION_RATIO = 7.0


def skew_confs(
    target_uncompressed_bytes: int,
    compression_ratio: float = TEXT_SHUFFLE_COMPRESSION_RATIO,
) -> dict[str, str]:
    """Skew-split confs that fire when a partition exceeds
    ``target_uncompressed_bytes`` BEFORE compression: the conf values AQE
    compares are compressed map-output bytes, so the target is divided by
    the observed shuffle compression ratio (measure yours, or use the
    text-corpus default above). Pass the result as ``extra_conf`` to
    build_session, or export SPARK_GRAFT_SKEW_TARGET_UNCOMPRESSED to apply
    the same derivation session-wide."""
    thr = max(16 << 10, int(target_uncompressed_bytes / compression_ratio))
    return {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(thr),
        # advisory must sit below the skew threshold or the split produces
        # children AQE immediately re-coalesces
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(max(8 << 10, thr // 2)),
    }


def build_session(
    app_name: str = "datafusion-dedup-ai-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce tiny post-shuffle partitions, split skewed ones, and
        # flip sort-merge joins to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Skew-split sizing. The defaults (factor 5, threshold 256 MB) are
        # calibrated for cluster-scale tasks; on this footprint a hot-shingle
        # join partition of ~100-200 MB never crossed them and ran as a
        # single straggler task — the shingle-heavy queries were bimodal
        # 4s/20s depending on whether the skew split fired (measured; GC
        # ruled out at <0.1s of a 16s run). Factor 2 ("split anything over
        # 2x the median") is scale-portable; the byte thresholds are sized
        # to THIS footprint's task granularity and a real deployment sizes
        # them to executor memory via SPARK_GRAFT_* env overrides.
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            os.environ.get("SPARK_GRAFT_SKEW_FACTOR", "2"),
        )
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            os.environ.get("SPARK_GRAFT_SKEW_THRESHOLD", "32m"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        # Arrow for pandas_udf / applyInPandas / toPandas round-trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps in testdata are TIMESTAMP_NTZ-like; keep session in UTC so
        # results are environment-independent (matches the DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # local[32] puts all 32 executor threads in the driver JVM; the
        # high-cardinality pair aggregations (ngram Jaccard's ~10M-group
        # partial agg at sf0.1) need headroom or GC pauses triple query times
        # (measured 7s-39s swings at 16g; stable at 32g).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # The ContextCleaner frees shuffle files / broadcasts only when the
        # driver GCs; with a large heap that can be never, and sessions that
        # run many queries accumulate state until join-heavy plans stall for
        # minutes (measured 5s -> 236s on an identical plan ~100 queries into
        # a session). The default interval is 30min — far too lazy for that.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
    )
    # Compressed-size-aware override (round-10): size skew thresholds in
    # UNCOMPRESSED terms — the number an operator can reason about — and let
    # skew_confs divide by the measured shuffle compression ratio. Takes
    # precedence over the raw-byte envs above when set.
    if "SPARK_GRAFT_SKEW_TARGET_UNCOMPRESSED" in os.environ:
        try:
            target = int(os.environ["SPARK_GRAFT_SKEW_TARGET_UNCOMPRESSED"])
        except ValueError as e:
            raise ValueError(
                "SPARK_GRAFT_SKEW_TARGET_UNCOMPRESSED must be an integer "
                "byte count (e.g. 1048576); got "
                f"{os.environ['SPARK_GRAFT_SKEW_TARGET_UNCOMPRESSED']!r}"
            ) from e
        ratio_raw = os.environ.get(
            "SPARK_GRAFT_SKEW_RATIO", str(TEXT_SHUFFLE_COMPRESSION_RATIO)
        )
        try:
            ratio = float(ratio_raw)
        except ValueError as e:
            raise ValueError(
                "SPARK_GRAFT_SKEW_RATIO must be a float compression ratio "
                f"(e.g. 7.0); got {ratio_raw!r}"
            ) from e
        derived = skew_confs(target, ratio)
        for k, v in derived.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
