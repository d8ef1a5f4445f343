"""Idempotent lake seeding — the reference's ``backend/app/seed.py``
re-expressed over the lake tables: get-or-create a "Test Region" dim
row (population 1 000 000, seed.py:16-19), log a success run
(seed.py:27-33), and upsert one capacity row for today
(seed.py:37-56). Safe to run repeatedly: the region is keyed by name,
the capacity row by (date, region_id) through the same natural-key
merge every ingest uses.
"""

from __future__ import annotations

import os
from datetime import date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import append_run_log, new_run_id, run_log_row, utcnow
from .lake import LakeTable

SEED_REGION = "Test Region"
SEED_POPULATION = 1_000_000


def seed_lake(spark: SparkSession, lake_dir: str) -> str:
    """Seed the lake with one region + one capacity row for today.
    Returns the seed region_id. Idempotent like the reference's script."""
    regions_path = os.path.join(lake_dir, "regions")
    runs_path = os.path.join(lake_dir, "pipeline_runs")

    # 1. get-or-create the seed region (seed.py:14-24)
    if os.path.isdir(regions_path):
        existing = spark.read.parquet(regions_path)
        match = existing.filter(F.col("name") == SEED_REGION).collect()
    else:
        existing, match = None, []
    if match:
        region_id = match[0].region_id
    else:
        new_row = spark.createDataFrame(
            [(SEED_REGION, SEED_POPULATION)], "name string, population long"
        ).select(
            F.expr("uuid()").alias("region_id"),
            "name",
            "population",
            F.current_timestamp().alias("created_at"),
        )
        dim = (
            existing.unionByName(new_row) if existing is not None else new_row
        ).localCheckpoint(eager=True)
        LakeTable(
            spark, regions_path, keys=["name"], partition_col="name",
            version_col=None,
        ).replace(dim)
        region_id = dim.filter(F.col("name") == SEED_REGION).collect()[0].region_id

    # 2. run-log row (seed.py:27-33)
    run_id = new_run_id()
    append_run_log(
        spark,
        runs_path,
        run_log_row(
            run_id, "manual_seed", "success", utcnow(), utcnow(),
            rows_in=1, rows_loaded=1,
        ),
    )

    # 3. one capacity row for today via the standard natural-key merge
    # (seed.py:37-56; re-seeding the same day updates, never duplicates)
    capacity = spark.createDataFrame(
        [(str(date.today()), region_id, 1000, 750, 100, 60)],
        "date string, region_id string, total_beds int, occupied_beds int,"
        " icu_beds int, icu_occupied int",
    ).select(
        F.expr("uuid()").alias("id"),
        F.to_date("date").alias("date"),
        "region_id",
        "total_beds",
        "occupied_beds",
        "icu_beds",
        "icu_occupied",
        F.lit(run_id).alias("source_run_id"),
        F.current_timestamp().alias("created_at"),
    )
    bronze = LakeTable(
        spark,
        os.path.join(lake_dir, "capacity_daily"),
        keys=["date", "region_id"],
        partition_col="date",
        version_col="created_at",
    )
    bronze.upsert(capacity)
    return region_id
