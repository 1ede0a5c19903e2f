"""Table contracts: the one declaration of each table the pipeline reads.

Each contract is an Arrow schema — what ``datagen`` writes and what a
producer of the table must write — and its Spark DDL, which every
reader declares instead of inferring. A declared read plans without a
Spark job, and a file whose column types differ from the contract
fails when it is scanned instead of flowing on with the wrong types.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema


def spark_ddl(schema: pa.Schema) -> str:
    """Spark DDL (``name type, ...``) of an Arrow schema."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in from_arrow_schema(schema).fields)


# tokenized_logs: one row per transcript; ``tokens`` holds its code
# points, ``n_tok`` their number.
TOKENIZED_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("tokens", pa.list_(pa.int32())),
    pa.field("n_tok", pa.int32()),
    pa.field("source", pa.string()),
])
TOKENIZED_DDL = spark_ddl(TOKENIZED_SCHEMA)

# route_metadata: the enrich dimension, one row per mapped source;
# ``suppress_cmds`` lists 1-based command numbers to drop.
ROUTE_SCHEMA = pa.schema([
    pa.field("source", pa.string()),
    pa.field("route", pa.string()),
    pa.field("sink", pa.string()),
    pa.field("suppress_cmds", pa.list_(pa.int32())),
    pa.field("title", pa.string()),
])
ROUTE_DDL = spark_ddl(ROUTE_SCHEMA)
