"""Confluent Schema Registry client — the missing piece of plain ``avro``
wire types (reference: GenericAvroSerializer.scala:9-73, which resolves
the writer schema by the 4-byte id embedded in every Confluent-framed
message, and TypeConversions.scala:22, which admits ``avro`` with no
``=file.avsc``).

Spark needs a FIXED column type per DataFrame, so resolution happens at
two levels, both on the driver, once per plan:

- **The reader**: ``serde.resolve_registry_type`` fetches the subject's
  latest schema (Confluent TopicNameStrategy: ``{topic}-value`` /
  ``{topic}-key``) and pins it as the READER schema — this is what types
  the column.
- **The writers**: heterogeneous topics (old producers still writing
  previous versions) carry different writer ids. The decode plan lists
  every version of the subject (:meth:`SchemaRegistryClient.subject_schemas`)
  and hands the id -> writer schema map to the JVM codec
  (jvm/AvroCodec.java), which refuses a writer by the verdict of Avro's
  ``Resolver`` (as :func:`check_reader_compatibility` does, so both need
  an active session) and reads each record with Avro's resolving
  reader for its id. No registry call is made per record or on an
  executor; a writer registered after the plan was built needs a
  restart.

The HTTP client is stdlib ``urllib`` (the registry API is plain
JSON-over-HTTP); :class:`FakeSchemaRegistry` is the injectable in-memory
double for tests and offline runs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from kafka_streams_plumber_spark.sources.avsc import schema_incompatibilities


class SchemaNotFound(KeyError):
    """Raised when the registry has no such subject or version."""


class SchemaRegistryClient:
    """Interface: resolve schemas by subject: its latest version (reader
    pinning, encode) and every version (the registry decode's writers)."""

    def latest_schema(self, subject: str) -> tuple[int, str]:
        """(schema_id, schema_text) of the subject's latest version."""
        raise NotImplementedError

    def subject_schemas(self, subject: str) -> list[tuple[int, str]]:
        """(schema_id, schema_text) of every version of the subject, oldest
        first."""
        raise NotImplementedError


@dataclass
class FakeSchemaRegistry(SchemaRegistryClient):
    """In-memory registry double: deterministic ids, same lookup
    contract as the HTTP client. Also usable as a local registry for
    fully-offline pipelines."""

    _by_id: dict[int, str] = field(default_factory=dict)
    _subjects: dict[str, list[int]] = field(default_factory=dict)
    _next_id: int = 1

    def register(self, subject: str, schema_text: str) -> int:
        """Register a schema under a subject, returning its id
        (idempotent on identical text, like the real registry)."""
        canon = json.dumps(json.loads(schema_text), sort_keys=True)
        for sid, txt in self._by_id.items():
            if txt == canon and sid in self._subjects.get(subject, []):
                return sid
        sid = self._next_id
        self._next_id += 1
        self._by_id[sid] = canon
        self._subjects.setdefault(subject, []).append(sid)
        return sid

    def latest_schema(self, subject: str) -> tuple[int, str]:
        ids = self._subjects.get(subject)
        if not ids:
            raise SchemaNotFound(f"subject {subject!r}")
        return ids[-1], self._by_id[ids[-1]]

    def subject_schemas(self, subject: str) -> list[tuple[int, str]]:
        ids = self._subjects.get(subject)
        if not ids:
            raise SchemaNotFound(f"subject {subject!r}")
        return [(sid, self._by_id[sid]) for sid in ids]


class HttpSchemaRegistryClient(SchemaRegistryClient):
    """Confluent Schema Registry REST client (GET
    /subjects/{subject}/versions[/latest|/{version}]), with no cache."""

    def __init__(self, base_url: str, *, timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout

    def _get(self, path: str) -> dict | list:
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(
                self.base_url + path, timeout=self.timeout
            ) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code == 404:
                raise SchemaNotFound(path) from None
            raise

    def latest_schema(self, subject: str) -> tuple[int, str]:
        return self._version(subject, "latest")

    def subject_schemas(self, subject: str) -> list[tuple[int, str]]:
        return [self._version(subject, v) for v in self._get(f"/subjects/{subject}/versions")]

    def _version(self, subject: str, version) -> tuple[int, str]:
        doc = self._get(f"/subjects/{subject}/versions/{version}")
        return int(doc["id"]), doc["schema"]


def check_reader_compatibility(
    client: SchemaRegistryClient, subject: str, reader_schema: str
) -> list[str]:
    """Pre-flight a consumer deploy against a live subject: fetch the
    subject's latest registered (writer) schema and return every
    schema-resolution incompatibility (empty = safe to deploy). The
    registry-side complement of the refuse-to-start golden-test gate —
    run both before attaching a streaming job to a production topic.
    """
    _, writer_schema = client.latest_schema(subject)
    return schema_incompatibilities(reader_schema, writer_schema)
