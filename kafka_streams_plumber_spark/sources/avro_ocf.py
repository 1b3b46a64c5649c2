"""Avro Object Container File (OCF) ingestion — the file-dump side of
the engine's Avro surface.

The reference (rollulus/kafka-streams-plumber) speaks Avro only over
Kafka with Confluent wire framing (`Plumber.scala:26-154`, serdes in
`TypeConversions.scala`); real pipelines also receive the SAME schemas
as `.avro` container files (Kafka Connect S3 sink dumps, warehouse
exports). This module reads them with the JVM codec (jvm/AvroCodec.java),
one Java UDF call per file over Avro's own ``DataFileReader``: every
codec the Avro jar has, the header's writer schema, and the sync marker
checked after every block.

Schema evolution is Avro's: each file's writer schema is resolved against
the reader (promotions, by-name match and defaults at any depth, enum
symbols, union branches) by ``GenericDatumReader(writer, reader)``, and a
file the reader cannot read is refused — the refuse-to-start discipline
extended to batch file ingestion.

Scale design: one task per archive via ``binaryFile`` (the
sources/warc.py pattern) — OCF blocks are sequential within a file, so
the parallel unit is the file, which is how these dumps are produced
(many ~100 MB objects). Corrupt files fail closed: ``strict=False``
(default) turns a file that is empty, fails its magic, a sync marker, a
decode or ends mid-block into ONE audit row with ``_corrupt`` set;
``strict=True`` raises.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_plumber_spark import jvm
from kafka_streams_plumber_spark.plans.scale import inline_table
from kafka_streams_plumber_spark.sources.avsc import avsc_to_struct


def read_avro_ocf(
    spark: SparkSession,
    path: str,
    reader_schema: str | dict,
    *,
    strict: bool = False,
) -> DataFrame:
    """Read Avro OCF file(s) at ``path`` into a DataFrame shaped by
    ``reader_schema`` (an Avro JSON schema — the same artifact the
    streaming gate pins), plus two audit columns: ``_path`` and
    ``_corrupt`` (False on data rows; corrupt files surface as ONE row
    with nulls + ``_corrupt=True`` so ingestion can dead-letter them —
    unless ``strict=True``, which raises task-side instead).

    A file is read whole or not at all, so a file that fails mid-way
    gives its marker row and none of its records: reprocessing it once
    repaired can never double-count.
    """
    text = reader_schema if isinstance(reader_schema, str) else json.dumps(reader_schema)
    struct = avsc_to_struct(text)
    name = jvm.avro_function("ocf", T.ArrayType(struct), text, strict)
    listed = spark.read.format("binaryFile").load(path)
    files = listed.select("path", "content")
    empty = _empty_files(listed)
    if empty:
        # Spark's file scan drops zero-byte files before binaryFile reads
        # them; hand them to the codec as empty content, so each gives its
        # marker row (or fails a strict read) like any unreadable file
        files = files.union(inline_table(spark, [(p, b"") for p in empty], files.schema))
    recs = F.call_function(name, files["content"])
    # an unreadable file's NULL becomes its one all-NULL marker row; a
    # readable file with no records gives no row
    rows = files.select(recs.alias("_recs"), files["path"].alias("_path")).select(
        F.explode(F.coalesce("_recs", F.array(F.lit(None).cast(struct)))).alias("_rec"),
        "_path",
        F.col("_recs").isNull().alias("_corrupt"),
    )
    return rows.select("_rec.*", "_path", "_corrupt")


def _empty_files(listed: DataFrame) -> list[str]:
    """Paths of the zero-byte files in a ``binaryFile`` frame's file
    index: the listing Spark already holds in memory, so no file is
    stat'ed again."""
    index = listed._jdf.queryExecution().analyzed().relation().location()  # noqa: SLF001
    it = index.allFiles().iterator()
    out = []
    while it.hasNext():
        status = it.next()
        if status.getLen() == 0:
            out.append(status.getPath().toString())
    return out
