"""End-to-end parse -> enrich -> route -> aggregate DAG assembly.

One declarative DataFrame plan: Catalyst prunes the scan to the four
input columns, fuses scan->MapInArrow->project, broadcast-joins the
route dimension, and the single shuffle in the job is the salted
repartition feeding the partitioned fan-out write. Aggregates reuse the
routed output (read back from the sink partition layout, so the parse
never re-runs per aggregate).
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregate as agg_ops
from ..operators.enrich import (apply_suppress_filter, enrich_stage,
                                load_route_metadata)
from ..operators.parse import parse_stage
from ..operators.route import route_stage, write_fanout
from ..sources.catalog import read_tokens


@dataclass
class PipelineConfig:
    in_dir: str
    out_dir: str
    salt_buckets: int = 16
    num_partitions: int | None = None
    # Iceberg table identifier for the tokenized corpus (preferred at
    # scale: hidden partitioning + snapshot isolation for resume);
    # None -> parquet under in_dir (sources/catalog.py falls back the
    # same way when the runtime jar is absent)
    tokens_table: str | None = None

    @property
    def tokens_location(self) -> str:
        return self.tokens_table or f"{self.in_dir}/tokenized_logs.parquet"


def build_routed(spark: SparkSession, cfg: PipelineConfig,
                 logs: DataFrame | None = None) -> DataFrame:
    """The lazy routed-DataFrame plan (no writes). Both inputs are read
    with declared schemas, so building it launches no Spark job."""
    if logs is None:
        logs = read_tokens(spark, cfg.tokens_location)
    routes = load_route_metadata(spark,
                                 f"{cfg.in_dir}/route_metadata.parquet")
    parsed = parse_stage(logs.select("doc_id", "tokens", "n_tok", "source"))
    enriched = apply_suppress_filter(enrich_stage(parsed, routes))
    # projection only — the salted exchange is paid by write_fanout,
    # the one consumer that needs rows physically placed
    return route_stage(enriched)


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 logs: DataFrame | None = None) -> dict:
    """Execute the full job: fan-out write + aggregate tables.

    Returns observed metrics {rows, tokens} from the write pass
    (df.observe — the analog of the reference's free side-effect
    statistics, vtparser.py:568)."""
    from pyspark.sql import Observation

    routed = build_routed(spark, cfg, logs)
    obs = Observation("routed_metrics")
    routed = routed.observe(obs, F.count(F.lit(1)).alias("rows"),
                            F.sum("n_tok").alias("tokens"))
    write_fanout(routed, cfg.out_dir, mode="overwrite",
                 num_partitions=cfg.num_partitions,
                 salt_buckets=cfg.salt_buckets)
    metrics = dict(obs.get)

    routed_back = spark.read.parquet(f"{cfg.out_dir}/routed")
    agg_ops.write_aggregates(routed_back, cfg.out_dir)
    return metrics
