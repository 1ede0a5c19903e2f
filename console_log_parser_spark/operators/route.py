"""Router / fan-out stage: salted repartition + per-sink writes.

The reference fans one input file out to one sink (main.py:132-139,
per-file loop). At 10^12 rows the equivalent is a single shuffled
write partitioned by sink, with the Zipf-heavy sources salted so no
reducer owns a whole heavy hitter:

  repartition(sink, pmod(hash(doc_id), S))

The salt is derived from doc_id — deterministic (BASELINE.json:14
resume requirement: a re-run must route identically; rand() would
break lineage manifests). AQE skew-join/partition-coalescing stays on
as the runtime backstop.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16

ROUTED_COLUMNS = [
    "doc_id", "source", "route", "sink", "matched", "n_tok",
    "ansi_stripped", "n_stripped", "n_events", "n_csi", "n_osc", "n_esc",
    "n_dcs", "n_sgr", "n_c1", "seq_hist", "severity",
    "n_debug", "n_info", "n_warn", "n_error", "ts_min", "ts_max",
    "prompt_count", "cmd_lines_routed", "n_cmd_routed", "n_vim",
    "n_unparsed", "n_app_mode", "n_devstat", "n_edit_warnings",
]


def salt(salt_buckets: int = DEFAULT_SALT_BUCKETS) -> Column:
    """The per-row salt, ``pmod(hash(doc_id), S)``.

    Murmur3 (``F.hash``), not xxhash64: the checkpoint batch predicate
    is ``pmod(xxhash64(doc_id), n_batches)``, and a salt from the same
    hash would track it — inside one of 8 batches a salt mod 16 could
    take only 2 values, so a heavy sink got 2 reducers per batch."""
    return F.pmod(F.hash("doc_id"), F.lit(salt_buckets))


def salted(df: DataFrame,
           salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    return df.repartition(F.col("sink"), salt(salt_buckets).alias("_salt"))


def route_stage(enriched: DataFrame) -> DataFrame:
    """Project the routed columns; the salted exchange lives in
    write_fanout (guide: remove shuffles outright). Routing decides
    WHERE rows go; only the fan-out WRITE needs them physically moved,
    so an aggregate over the routed frame (the flagship severity
    histogram) partial-aggregates map-side straight out of the parse
    stage instead of first paying a full-width exchange of every
    routed row."""
    return enriched.select(*ROUTED_COLUMNS)


def write_fanout(routed: DataFrame, path: str,
                 salt_buckets: int = DEFAULT_SALT_BUCKETS) -> None:
    """One salted exchange -> one write, hive-partitioned by sink.

    The write is the only consumer that needs rows physically moved;
    salting keeps any Zipf-heavy sink from pinning a whole reducer, and
    each reducer writes one file per sink it holds, so a sink gets at
    most ``salt_buckets`` files. Per-sink directories materialize under
    ``path/sink=...``; a reader of one sink prunes to its partition.
    This is the recompute-free fan-out (SURVEY.md §4: per-sink write
    loops must not re-run the parse). The write overwrites ``path``."""
    (salted(routed, salt_buckets)
     .write.mode("overwrite").partitionBy("sink").parquet(path))
