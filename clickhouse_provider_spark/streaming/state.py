"""Crash-safe versioned parquet state for foreachBatch pipelines.

Protocol (the keyed transactions router's, streaming/keyed_assembly.py):

    read:    greatest version STRICTLY < current batch_id — a failed prior
             attempt of this very batch may have left v=batch_id; reading
             it would union the batch with its own output and
             self-overwrite, wedging the stream
    publish: write every part under _staging_v=<id>, then one os.rename →
             v=<id>; a version is either complete or invisible
    prune:   keep the two newest versions (current + the one a replay of
             the current batch would need), drop older + staging
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class VersionedState:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir

    def versions(self) -> list[int]:
        try:
            return sorted(
                int(d.split("=")[1])
                for d in os.listdir(self.state_dir)
                if d.startswith("v=")
            )
        except FileNotFoundError:
            return []

    def read_version(self, batch_id: int) -> int | None:
        prior = [v for v in self.versions() if v < batch_id]
        return max(prior) if prior else None

    def read(self, part: str, batch_id: int) -> DataFrame | None:
        v = self.read_version(batch_id)
        if v is None:
            return None
        path = os.path.join(self.state_dir, f"v={v}", part)
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def publish(self, parts: dict[str, DataFrame], batch_id: int) -> None:
        staging = os.path.join(self.state_dir, f"_staging_v={batch_id}")
        final = os.path.join(self.state_dir, f"v={batch_id}")
        shutil.rmtree(staging, ignore_errors=True)
        for name, df in parts.items():
            df.write.mode("overwrite").parquet(os.path.join(staging, name))
        shutil.rmtree(final, ignore_errors=True)  # failed prior attempt
        os.rename(staging, final)
        for v in self.versions()[:-2]:
            shutil.rmtree(os.path.join(self.state_dir, f"v={v}"), ignore_errors=True)
