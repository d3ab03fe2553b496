"""Cross-batch dimension store: get-or-insert with stable ids (J2).

The reference keeps the Players dim authoritative in MySQL
(auto-increment + INSERT IGNORE + re-read, reference
src/app/controllers/player.py:54-58). Without a database, this is the
pure-Spark equivalent: a parquet-backed dim whose surrogate ids are
``xxhash64`` of the sanitized natural key — deterministic, so
*re-inserting the same key in any batch, on any executor, yields the
same id* (idempotent by construction, no coordination, no read-back
race). The JDBC deployment swaps this for sources.jdbc + the DB's
unique keys; the interface is identical.

Write protocol per batch: one left join of the batch's distinct names
against the dim gives every name's id and marks the misses; it is
materialized once, and only the misses are appended. A crashed batch
that retries re-appends the same (name, id) pairs; readers dedup on
read (cheap: dims are small relative to facts), so duplicate appends
are harmless — the parquet analog of INSERT IGNORE. And since an id
is a pure function of its name, the append need not precede the
writes that carry the ids.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import star


class ParquetDimStore:
    def __init__(
        self, spark: SparkSession, path: str, name_col: str = "name",
        id_col: str = "id",
    ) -> None:
        self.spark = spark
        self.path = path
        self.name_col = name_col
        self.id_col = id_col

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame(
                [], f"{self.name_col} string, {self.id_col} long"
            )
        return (
            self.spark.read.parquet(self.path)
            .dropDuplicates([self.name_col])
        )

    def get_or_insert(
        self,
        batch_names: DataFrame,
        submit: Callable[[Callable[[], None]], None] | None = None,
    ) -> DataFrame:
        """Resolve every name in ``batch_names`` to a stable id,
        appending first-seen names. Returns (name, id) for the batch's
        distinct names, materialized, so later jobs do not recompute it.

        ``submit(append)`` runs the append; by default it runs before
        this returns. A micro-batch passes the ``submit`` of its
        ``pipeline.concurrent_writes`` so the append overlaps its other
        writes.
        """
        name, id_ = self.name_col, self.id_col
        looked = (
            star.dedup(batch_names.select(name), [name])
            .join(
                self.read().select(name, F.col(id_).alias("_known")),
                on=name,
                how="left",
            )
            .select(
                name,
                F.coalesce("_known", star.surrogate_key([name])).alias(id_),
                F.col("_known").isNull().alias("_new"),
            )
            .localCheckpoint()
        )
        new_rows = looked.filter("_new").select(name, id_)

        def append() -> None:
            if not new_rows.isEmpty():
                new_rows.write.mode("append").parquet(self.path)

        if submit is None:
            append()
        else:
            submit(append)
        return looked.select(name, id_)
