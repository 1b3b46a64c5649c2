"""Avro Object Container File (OCF) ingestion — the file-dump side of
the engine's Avro surface.

The reference (rollulus/kafka-streams-plumber) speaks Avro only over
Kafka with Confluent wire framing (`Plumber.scala:26-154`, serdes in
`TypeConversions.scala`); real pipelines also receive the SAME schemas
as `.avro` container files (Kafka Connect S3 sink dumps, warehouse
exports). This module reads them with the repo's own stdlib decoder —
no fastavro/avro-python3 dependency:

- header: magic ``Obj\\x01``, avro-encoded ``map<bytes>`` metadata
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker;
- blocks: zigzag-long record count + byte size, payload (``null`` or
  ``deflate`` codec), then the sync marker again (corruption check);
- records: sources/avro_codec.decode_value against the file's WRITER
  schema (parsed by sources/avsc.parse_avsc), or against its resolution
  plan when a reader schema is given.

Schema evolution uses the same resolver as the streaming gate and the
registry decoder: ``read_avro_ocf(reader_schema=...)`` resolves EVERY
file's writer schema against the reader with sources/avsc.resolve
(promotions, by-name match + defaults at any depth, enum symbols, union
fan-out) before decoding, and a file the reader cannot read is refused —
the refuse-to-start discipline extended to batch file ingestion.

Scale design: one task per archive via ``binaryFile`` + mapInPandas
(the sources/warc.py pattern) — OCF blocks are sequential within a
file, so the parallel unit is the file, which is how these dumps are
produced (many ~100 MB objects). Corrupt files/blocks fail closed:
``strict=False`` (default) skips a file that fails magic/sync/decode
and counts it in the ``_corrupt`` column of an audit row; ``strict=True``
raises.
"""

from __future__ import annotations

import json
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_plumber_spark.sources.avro_codec import (
    _zigzag_decode,
    decode_value,
)
from kafka_streams_plumber_spark.sources.avsc import (
    avsc_to_struct,
    parse_avsc,
    read_plan,
)

OCF_MAGIC = b"Obj\x01"


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _zigzag_decode(buf, pos)
    return buf[pos : pos + n], pos + n


def parse_ocf_header(raw: bytes) -> tuple[dict, bytes, int]:
    """Parse the OCF header: returns (metadata dict[str, bytes],
    16-byte sync marker, position of the first block)."""
    if raw[:4] != OCF_MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(raw, pos)
        if count == 0:
            break
        if count < 0:
            # negative count blocks carry an extra byte-size long
            count = -count
            _, pos = _zigzag_decode(raw, pos)
        for _ in range(count):
            k, pos = _read_bytes(raw, pos)
            v, pos = _read_bytes(raw, pos)
            meta[k.decode("utf-8")] = v
    sync = raw[pos : pos + 16]
    if len(sync) != 16:
        raise ValueError("truncated OCF header (no sync marker)")
    return meta, sync, pos + 16


def parse_ocf_bytes(
    raw: bytes, reader: object = None
) -> tuple[dict, Iterator[dict]]:
    """Parse a whole OCF byte string: returns (writer schema JSON dict,
    iterator of decoded record dicts, in ``reader`` model shape if given).
    Raises on an unreadable writer and on structural corruption (bad
    magic, sync mismatch, unsupported codec, truncated block)."""
    meta, sync, pos = parse_ocf_header(raw)
    schema_json = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec: {codec}")
    plan = parse_avsc(schema_json)
    if reader is not None:
        plan = read_plan(reader, plan)

    def records() -> Iterator[dict]:
        p = pos
        while p < len(raw):
            count, p2 = _zigzag_decode(raw, p)
            size, p2 = _zigzag_decode(raw, p2)
            data = raw[p2 : p2 + size]
            if len(data) != size:
                raise ValueError("truncated OCF block")
            p2 += size
            if raw[p2 : p2 + 16] != sync:
                raise ValueError("OCF sync marker mismatch")
            p = p2 + 16
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            dpos = 0
            for _ in range(count):
                rec, dpos = decode_value(data, dpos, plan)
                yield rec
            if dpos != len(data):
                raise ValueError("OCF block has trailing bytes")

    return schema_json, records()


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

    Every file's embedded writer schema is resolved against the reader
    (sources/avsc.resolve) BEFORE decoding, and records decode straight
    into reader shape: reader defaults fill fields the writer lacks, at
    any depth.
    """
    reader = parse_avsc(reader_schema)
    struct = avsc_to_struct(reader_schema)
    names = [f.name for f in struct.fields]

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(struct.fields)
        + [
            T.StructField("_path", T.StringType()),
            T.StructField("_corrupt", T.BooleanType()),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                # Per-file buffer: a mid-file decode error discards the
                # file's already-decoded prefix so a corrupt file is
                # EXACTLY one marker row — never marker + partial rows
                # that would double-count on reprocessing.
                file_rows = []
                try:
                    for rec in parse_ocf_bytes(bytes(content), reader)[1]:
                        rec["_path"] = p
                        rec["_corrupt"] = False
                        file_rows.append(rec)
                except Exception:
                    if strict:
                        raise
                    file_rows = [
                        {**{n: None for n in names}, "_path": p, "_corrupt": True}
                    ]
                rows.extend(file_rows)
            yield pd.DataFrame(rows, columns=names + ["_path", "_corrupt"])

    files = (
        spark.read.format("binaryFile").load(path).select("path", "content")
    )
    return files.mapInPandas(run, schema=out_schema)


def write_ocf_bytes(
    records: list[dict],
    schema_json: dict,
    *,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    block_size: int = 1000,
) -> bytes:
    """Encode records as an OCF byte string (test/fixture helper and
    the export side of small Avro interchange; one task's worth — for
    distributed export shard with ordering.write_training_shards and
    call this per shard)."""
    from kafka_streams_plumber_spark.sources.avro_codec import (
        _zigzag_encode,
        encode_value,
    )

    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec: {codec}")
    schema = parse_avsc(schema_json)
    meta = {
        "avro.schema": json.dumps(schema_json).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    out = bytearray(OCF_MAGIC)
    out += _zigzag_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        out += _zigzag_encode(len(kb)) + kb
        out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)
    out += sync
    for i in range(0, len(records), block_size):
        chunk = records[i : i + block_size]
        payload = b"".join(encode_value(r, schema) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            payload = co.compress(payload) + co.flush()
        out += _zigzag_encode(len(chunk))
        out += _zigzag_encode(len(payload))
        out += payload
        out += sync
    return bytes(out)
