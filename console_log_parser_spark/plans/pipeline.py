"""The one assembly of the parse -> enrich -> suppress -> route DAG.

One declarative DataFrame plan: Catalyst prunes the scan to the four
input columns, fuses scan->MapInArrow->project and broadcast-joins the
route dimension. Batch (plans/checkpoint.py), streaming
(streaming/jobs.py) and the driver queries all build their routed
frame through ``assemble_routed``; the only shuffle a routed write pays
is the salted exchange inside ``operators.route.write_fanout``.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.enrich import (apply_suppress_filter, enrich_stage,
                                load_route_metadata)
from ..operators.parse import parse_stage
from ..operators.route import route_stage
from ..sources.catalog import read_tokens


@dataclass
class PipelineConfig:
    in_dir: str
    out_dir: str
    salt_buckets: int = 16
    # Iceberg table identifier for the tokenized corpus (preferred at
    # scale: hidden partitioning + snapshot isolation for resume);
    # None -> parquet under in_dir (sources/catalog.py falls back the
    # same way when the runtime jar is absent)
    tokens_table: str | None = None

    @property
    def tokens_location(self) -> str:
        return self.tokens_table or f"{self.in_dir}/tokenized_logs.parquet"


def assemble_routed(logs: DataFrame, routes: DataFrame) -> DataFrame:
    """tokenized_logs rows + route dimension -> routed rows
    (``ROUTED_COLUMNS``). Pure plan construction: no reads, no writes."""
    parsed = parse_stage(logs.select("doc_id", "tokens", "n_tok", "source"))
    return route_stage(apply_suppress_filter(enrich_stage(parsed, routes)))


def build_routed(spark: SparkSession, cfg: PipelineConfig,
                 logs: DataFrame | None = None) -> DataFrame:
    """The lazy routed-DataFrame plan over ``cfg``'s inputs (no writes).
    Both inputs are read with declared schemas, so building it launches
    no Spark job."""
    if logs is None:
        logs = read_tokens(spark, cfg.tokens_location)
    routes = load_route_metadata(spark,
                                 f"{cfg.in_dir}/route_metadata.parquet")
    return assemble_routed(logs, routes)
