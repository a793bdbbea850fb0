"""Dependency-ordered model runner — the engine's equivalent of the
reference's Airflow DbtTaskGroup (ingest_news.py:181-186), which
Jinja-compiles one task per dbt model and runs them in ref() order.

Here a model is a plain function DataFrame(s) -> DataFrame; the runner
topologically sorts, executes each once, and materializes according to
the model's config: ``table`` models are written to parquet and re-read
(dbt marts, dbt_project.yml:43-45) — reading back the parquet both
truncates the lineage for downstream plans and is the
write-audit-publish point (S12 idempotency: a model whose output dir
already exists can be skipped with skip_existing=True). ``view`` models
(dbt staging/ref views, dbt_project.yml:34-41) stay lazy DataFrames,
with one exception decided by the DAG's shape alone:

Fan-out rule: a view that two or more models running in this ``run()``
consume (models skipped by ``skip_existing`` do not count) is
materialized ONCE with ``localCheckpoint(eager=True)`` before its first
consumer runs. Without it every consumer's action recomputes the
view's whole lineage — in the News_Ingestion DAG that is the
``transformed`` view, its window shuffle and the ``translate_language``
Python stage, once per mart — and consumers could see different
snapshots of a drifting upstream. ``localCheckpoint`` rather than
``persist`` for the reasons ``operators/serial_ids.py`` gives for its
pin: no CacheManager registration (so no plan-matching of a later
identical plan against a stale snapshot) and the blocks are reclaimed
once the returned frame is unreferenced. A view with one consumer
stays lazy, so it fuses into its consumer's job as before.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Model:
    name: str
    fn: Callable[..., DataFrame]  # receives resolved dep DataFrames in order
    deps: Sequence[str] = field(default_factory=tuple)
    materialized: str = "view"  # "view" | "table"
    partition_by: Sequence[str] = field(default_factory=tuple)


class ModelRunner:
    def __init__(
        self,
        spark: SparkSession,
        models: Sequence[Model],
        warehouse_dir: str | None = None,
    ):
        self.spark = spark
        self.models = {m.name: m for m in models}
        self.warehouse_dir = warehouse_dir

    def order(self) -> list[str]:
        ts = TopologicalSorter({m.name: set(m.deps) for m in self.models.values()})
        known = set(self.models)
        order = []
        for name in ts.static_order():
            if name in known:
                order.append(name)
        return order

    def _out_path(self, name: str) -> str | None:
        return os.path.join(self.warehouse_dir, name) if self.warehouse_dir else None

    def run(
        self, inputs: dict[str, DataFrame], skip_existing: bool = False
    ) -> dict[str, DataFrame]:
        """Execute all models; ``inputs`` seeds external sources by name."""
        skipped = {
            m.name
            for m in self.models.values()
            if skip_existing
            and m.materialized == "table"
            and self.warehouse_dir
            and os.path.isdir(self._out_path(m.name))
        }
        consumers = Counter(
            d for m in self.models.values() if m.name not in skipped for d in set(m.deps)
        )

        resolved: dict[str, DataFrame] = dict(inputs)
        for name in self.order():
            model = self.models[name]
            missing = [d for d in model.deps if d not in resolved]
            if missing:
                raise ValueError(f"model {name}: unresolved deps {missing}")
            out_path = self._out_path(name)
            if name in skipped:
                resolved[name] = self.spark.read.parquet(out_path)
                continue
            df = model.fn(*[resolved[d] for d in model.deps])
            if model.materialized == "table" and out_path:
                writer = df.write.mode("overwrite")
                if model.partition_by:
                    writer = writer.partitionBy(*model.partition_by)
                writer.parquet(out_path)
                df = self.spark.read.parquet(out_path)
            elif consumers[name] >= 2:
                df = df.localCheckpoint(eager=True)
            resolved[name] = df
        return resolved
