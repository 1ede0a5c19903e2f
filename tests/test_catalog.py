"""Iceberg-first table I/O (sources/catalog.py): the sandbox has no
Iceberg runtime jar, so these tests pin (a) the availability probe is
honest, (b) the Parquet fallback preserves the 4-column contract and
partition pruning, (c) an Iceberg-style identifier without the jar
fails loudly rather than silently reading the wrong thing."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from console_log_parser_spark.sources import catalog


def test_availability_probe_is_false_in_sandbox(spark):
    assert catalog.iceberg_available(spark) is False


def test_parquet_fallback_roundtrip(spark, small_dataset, tmp_path):
    logs = catalog.read_tokens(
        spark, f"{small_dataset}/tokenized_logs.parquet")
    assert logs.columns == ["doc_id", "tokens", "n_tok", "source"]
    n = logs.count()
    assert n == 300
    routed = logs.withColumn(
        "sink", F.concat(F.lit("sink_"),
                         (F.col("n_tok") % 2).cast("string")))
    out = str(tmp_path / "routed")
    with pytest.raises(ValueError, match="overwrites"):
        catalog.write_routed(routed, out)   # no Parquet append
    catalog.write_routed(routed, out, mode="overwrite")
    back = spark.read.parquet(out)
    assert back.count() == n
    # hive-partitioned by sink -> a single-sink read prunes partitions
    one = spark.read.parquet(out).filter(F.col("sink") == "sink_0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() < n
    assert "PartitionFilters" in plan


def test_declared_schema_rejects_int64_n_tok(spark, small_dataset,
                                             tmp_path):
    """The tokenized table is read with its declared schema, not an
    inferred one: a file whose n_tok is int64 fails when scanned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{small_dataset}/tokenized_logs.parquet")
    i = table.schema.get_field_index("n_tok")
    table = table.set_column(i, "n_tok",
                             table.column(i).cast(pa.int64()))
    path = str(tmp_path / "tokenized_logs.parquet")
    pq.write_table(table, path)
    logs = catalog.read_tokens(spark, path)
    assert logs.schema["n_tok"].dataType.simpleString() == "int"
    with pytest.raises(Exception, match="n_tok"):
        logs.select("n_tok").collect()


def test_identifier_without_jar_raises(spark):
    with pytest.raises(Exception):
        catalog.read_tokens(spark, "logs.db.tokenized_logs").count()


@pytest.mark.skipif(
    "not config.getoption('--run-iceberg', default=False)",
    reason="requires the Iceberg runtime jar + a catalog conf "
           "(spark.sql.catalog.*); the sandbox ships neither — run "
           "with --run-iceberg on a cluster image that does")
def test_iceberg_write_contract_append_then_exists(spark, small_dataset):
    """Contract of write_routed's v2 path (sources/catalog.py):

    1. first write against a fresh identifier -> table is CREATED
       (partitioned by sink) because tableExists() is false;
    2. second write with mode="append" -> rows are APPENDED, never
       replaced (row count doubles);
    3. an append failure must PROPAGATE — the create-fallback is gated
       on existence only, so a schema-mismatched append raises instead
       of silently replacing the table.
    """
    assert catalog.iceberg_available(spark), (
        "--run-iceberg passed but no Iceberg SparkCatalog in this JVM")
    logs = catalog.read_tokens(
        spark, f"{small_dataset}/tokenized_logs.parquet")
    routed = logs.withColumn(
        "sink", F.concat(F.lit("sink_"),
                         (F.col("n_tok") % 2).cast("string")))
    ident = "logs.db.test_write_contract"
    n = routed.count()
    catalog.write_routed(routed, ident, mode="append")   # creates
    assert spark.table(ident).count() == n
    catalog.write_routed(routed, ident, mode="append")   # appends
    assert spark.table(ident).count() == 2 * n
    bad = routed.withColumn("extra_col", F.lit(1))
    with pytest.raises(Exception):
        catalog.write_routed(bad, ident, mode="append")
    # the failed append must not have replaced the table
    assert spark.table(ident).count() == 2 * n
