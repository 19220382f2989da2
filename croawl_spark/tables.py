"""Explicit engine-table schemas (SURVEY.md §1.2 / FIXTURES.md §5).

Every table is declared, never inferred — the driver compares schemas
against an oracle, so inference is a correctness hazard. TableIO records
the schema of each segment it writes and reads segments with it;
tests/test_crawl_order.py::test_declared_crawl_schemas_equal_inferred
checks that the crawl's tables are written with the schemas below.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_INTERLEAVED = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN)),
    ]
)

FRONTIER = StructType(
    [
        StructField("url", StringType()),
        StructField("canon_url", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("depth", IntegerType()),
        StructField("disc_seq", LongType()),
        StructField("priority", IntegerType()),
        StructField("state", StringType()),
        StructField("added_cycle", IntegerType()),
    ]
)

SEEN = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("canon_url", StringType()),
        StructField("disc_seq", LongType()),
    ]
)

SEEN_FILTER = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("kind", StringType()),
        StructField("bits", BinaryType()),
        StructField("n_items", LongType()),
        StructField("fp_rate", DoubleType()),
    ]
)

FETCH_LOG = StructType(
    [
        StructField("cycle", IntegerType()),
        StructField("fetch_seq", LongType()),
        StructField("url_hash", LongType()),
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("status", IntegerType()),
        StructField("content_kind", StringType()),
        StructField("fetched_at", TimestampType()),
        StructField("bytes", LongType()),
    ]
)

DOCUMENTS = StructType(
    list(DOCUMENTS_INTERLEAVED.fields)
    + [StructField("url_hash", LongType()), StructField("cycle", IntegerType())]
)

METADATA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("dc_title", StringType()),
        StructField("dc_creator", ArrayType(StringType())),
        StructField("dc_identifier", StringType()),
        StructField("oai_endpoint", StringType()),
    ]
)

ROBOTS_RULE = StructType(
    [
        StructField("allow", BooleanType()),
        StructField("path_prefix", StringType()),
    ]
)

HOST_STATE = StructType(
    [
        StructField("host", StringType()),
        StructField("robots_rules", ArrayType(ROBOTS_RULE)),
        StructField("crawl_delay", DoubleType()),
        StructField("last_fetch_cycle", IntegerType()),
    ]
)

CONTENT_SEEN = StructType(
    [
        StructField("content_hash", LongType()),
        StructField("first_fetch_seq", LongType()),
    ]
)

CONTENT_DUPS = StructType(
    [
        StructField("cycle", IntegerType()),
        StructField("url_hash", LongType()),
        StructField("fetch_seq", LongType()),
        StructField("content_hash", LongType()),
        StructField("is_content_dup", BooleanType()),
    ]
)

METRICS = StructType(
    [
        StructField("cycle", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("urls_scheduled", LongType()),
        StructField("urls_parsed", LongType()),
        StructField("spans_parsed", LongType()),
        StructField("wall_ms", LongType()),
        StructField("lineage_ref", StringType()),
    ]
)


def empty_frame(spark, schema: StructType):
    """Zero-row DataFrame with ``schema`` as a pure-JVM relation (r06).

    ``spark.createDataFrame([], schema)`` builds a pickled-RDD-backed scan
    whose evaluation launches Python workers across defaultParallelism
    empty partitions; Range(0) + NULL casts stays entirely in the JVM.
    """
    from pyspark.sql import functions as F

    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
