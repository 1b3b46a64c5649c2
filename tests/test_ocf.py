"""Avro Object Container File ingestion (sources/avro_ocf.py): files
written by Avro's own Java ``DataFileWriter`` over py4j, both codecs,
the reader/writer resolution gate, and corrupt-file dead-lettering."""

from __future__ import annotations

import json

import pytest

from kafka_streams_plumber_spark.sources.avro_ocf import read_avro_ocf

SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "score", "type": "double"},
    ],
}

RECORDS = [
    {"id": i, "text": f"doc {i}", "score": i / 4.0} for i in range(25)
]


def write_ocf_bytes(records, schema, *, codec="null", block_size=1000) -> bytes:
    """``records`` (Avro JSON encoding) as an OCF byte string written by
    Avro's Java DataFileWriter, ``block_size`` records per block."""
    from pyspark.sql import SparkSession

    jvm = SparkSession.getActiveSession()._jvm
    avro = jvm.org.apache.avro
    s = avro.Schema.Parser().parse(json.dumps(schema))
    out = jvm.java.io.ByteArrayOutputStream()
    w = avro.file.DataFileWriter(avro.generic.GenericDatumWriter(s))
    if codec == "deflate":
        w.setCodec(avro.file.CodecFactory.deflateCodec(6))
    w.create(s, out)
    read = avro.generic.GenericDatumReader(s)
    for i, r in enumerate(records, 1):
        w.append(read.read(None, avro.io.DecoderFactory.get().jsonDecoder(s, json.dumps(r))))
        if i % block_size == 0:
            w.sync()
    w.close()
    return bytes(out.toByteArray())


def test_read_avro_ocf_end_to_end(spark, tmp_path):
    d = tmp_path / "dump"
    d.mkdir()
    (d / "a.avro").write_bytes(write_ocf_bytes(RECORDS[:10], SCHEMA))
    (d / "b.avro").write_bytes(
        write_ocf_bytes(RECORDS[10:], SCHEMA, codec="deflate")
    )
    out = read_avro_ocf(spark, str(d), json.dumps(SCHEMA))
    rows = out.collect()
    assert len(rows) == 25
    assert all(not r["_corrupt"] for r in rows)
    got = sorted((r["id"], r["text"], r["score"]) for r in rows)
    assert got == [(r["id"], r["text"], r["score"]) for r in RECORDS]
    assert {r["_path"].rsplit("/", 1)[-1] for r in rows} == {
        "a.avro",
        "b.avro",
    }


def test_read_avro_ocf_schema_evolution(spark, tmp_path):
    # writer lacks `lang` and the nested `meta.rev` (reader defaults fill
    # them) and has an extra field `junk` (skipped by the by-name match)
    def meta(*extra):
        return {
            "type": "record",
            "name": "Meta",
            "fields": [{"name": "src", "type": "string"}, *extra],
        }

    writer = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "junk", "type": "string"},
            {"name": "meta", "type": meta()},
        ],
    }
    reader = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "lang", "type": "string", "default": "und"},
            {"name": "meta", "type": meta({"name": "rev", "type": "long", "default": 0})},
        ],
    }
    d = tmp_path / "evo"
    d.mkdir()
    recs = [
        {"id": 1, "junk": "x", "meta": {"src": "a"}},
        {"id": 2, "junk": "y", "meta": {"src": "b"}},
    ]
    (d / "w.avro").write_bytes(write_ocf_bytes(recs, writer))
    rows = read_avro_ocf(spark, str(d), reader).collect()
    assert sorted(
        (r["id"], r["lang"], r["meta"]["src"], r["meta"]["rev"]) for r in rows
    ) == [(1, "und", "a", 0), (2, "und", "b", 0)]


def test_read_avro_ocf_incompatible_writer_dead_letters(spark, tmp_path):
    writer = {
        "type": "record",
        "name": "Doc",
        "fields": [{"name": "id", "type": "long"}],
    }
    reader = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "must", "type": "string"},  # no default -> unreadable
        ],
    }
    d = tmp_path / "bad"
    d.mkdir()
    (d / "w.avro").write_bytes(write_ocf_bytes([{"id": 1}], writer))
    rows = read_avro_ocf(spark, str(d), reader).collect()
    assert len(rows) == 1 and rows[0]["_corrupt"]

    with pytest.raises(Exception):
        read_avro_ocf(spark, str(d), reader, strict=True).collect()


def test_read_avro_ocf_corrupt_file_dead_letters(spark, tmp_path):
    d = tmp_path / "mix"
    d.mkdir()
    (d / "good.avro").write_bytes(write_ocf_bytes(RECORDS[:3], SCHEMA))
    (d / "trash.avro").write_bytes(b"not an avro file at all")
    rows = read_avro_ocf(spark, str(d), SCHEMA).collect()
    good = [r for r in rows if not r["_corrupt"]]
    bad = [r for r in rows if r["_corrupt"]]
    assert len(good) == 3 and len(bad) == 1
    assert bad[0]["_path"].endswith("trash.avro")


def test_read_avro_ocf_empty_file_dead_letters(spark, tmp_path):
    """Spark's file scan drops a zero-byte file before binaryFile reads
    it; the reader still gives it its marker row, and a strict read
    fails on it."""
    d = tmp_path / "empty"
    d.mkdir()
    (d / "good.avro").write_bytes(write_ocf_bytes(RECORDS[:3], SCHEMA))
    (d / "empty.avro").write_bytes(b"")
    rows = read_avro_ocf(spark, str(d), SCHEMA).collect()
    good = [r for r in rows if not r["_corrupt"]]
    bad = [r for r in rows if r["_corrupt"]]
    assert sorted(r["id"] for r in good) == [0, 1, 2]
    assert len(bad) == 1 and bad[0]["_path"].endswith("empty.avro")
    assert bad[0]["id"] is None and bad[0]["text"] is None
    assert read_avro_ocf(spark, str(d / "empty.avro"), SCHEMA).count() == 1
    with pytest.raises(Exception, match="unreadable Avro container file"):
        read_avro_ocf(spark, str(d), SCHEMA, strict=True).collect()


def test_read_avro_ocf_midfile_corruption_discards_prefix(spark, tmp_path):
    """A file that decodes N rows and THEN hits corruption must surface
    as exactly ONE marker row — the already-decoded prefix is discarded
    so reprocessing the repaired file can never double-count."""
    d = tmp_path / "mid"
    d.mkdir()
    raw = write_ocf_bytes(RECORDS[:6], SCHEMA, block_size=2)  # 3 blocks
    (d / "good.avro").write_bytes(raw)
    # chop mid-way through the last block: header + first block decode
    # fine, the tail raises during iteration
    (d / "partial.avro").write_bytes(raw[:-10])
    # flip a byte of the first block's trailing sync marker (the header
    # ends with the same 16 bytes): the blocks after it are not read
    sync = raw[-16:]
    at = raw.index(sync, raw.index(sync) + 16)
    (d / "desync.avro").write_bytes(raw[:at] + bytes([raw[at] ^ 0xFF]) + raw[at + 1 :])
    rows = read_avro_ocf(spark, str(d), SCHEMA).collect()
    good = [r for r in rows if not r["_corrupt"]]
    bad = [r for r in rows if r["_corrupt"]]
    assert len(good) == 6  # only the intact file's rows
    assert all(r["_path"].endswith("good.avro") for r in good)
    assert sorted(r["_path"].rsplit("/", 1)[-1] for r in bad) == ["desync.avro", "partial.avro"]
    assert all(r["id"] is None and r["text"] is None for r in bad)
