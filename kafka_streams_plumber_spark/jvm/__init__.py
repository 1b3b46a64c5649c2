"""The Avro codec's JVM half: ``AvroCodec.java`` built into a jar on
first use and registered as Spark Java UDFs, so the wire path's decode
and encode stay inside Catalyst's JVM operators (no Python worker, no
Arrow hop).

The jar is compiled with ``javac`` against Spark's own jars (they carry
Avro), once per machine: it is cached under
``$XDG_CACHE_HOME/kafka_streams_plumber_spark`` (``~/.cache`` by default),
named by the sha256 of the Java sources, the javac version and flags and
Spark's Avro jar, and written atomically (temp file, then rename).
:func:`codec_jar` is the availability probe: with no javac, no Avro jar
in Spark's jars, or a failed compile it logs one warning and returns
None, and sources/serde.py falls back to the Python codec
(sources/avro_codec.py).

Registration is lazy: the first Avro decode/encode plan a session builds
runs ``ADD JAR`` and registers one function per schema (by hash), so a
session that never touches Avro pays nothing.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import weakref
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = sorted(glob.glob(os.path.join(HERE, "*.java")))
CLASSES = {"decode": "plumber.AvroCodec$Decode", "encode": "plumber.AvroCodec$Encode"}
#: class files for Spark 4's minimum JVM, whatever javac is on PATH
JAVAC = ["javac", "--release", "17", "-nowarn"]

log = logging.getLogger(__name__)

#: session -> {function name: registered (False: the JVM rejected the schema)}
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "kafka_streams_plumber_spark")


def _compile(jar: str, jars_dir: str) -> None:
    """javac the sources against Spark's jars into ``jar``, atomically."""
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            [*JAVAC, "-d", classes, "-cp", os.path.join(jars_dir, "*"), *SOURCES],
            check=True, capture_output=True, text=True,
        )
        fd, part = tempfile.mkstemp(dir=os.path.dirname(jar), suffix=".part")
        try:
            with zipfile.ZipFile(os.fdopen(fd, "wb"), "w") as z:
                for path in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True):
                    z.write(path, os.path.relpath(path, classes))
            os.replace(part, jar)
        except BaseException:
            os.unlink(part)
            raise


@functools.cache
def codec_jar() -> str | None:
    """The built codec jar, compiling it when the cache has none; None
    (after one warning) when it cannot be built."""
    from pyspark.find_spark_home import _find_spark_home

    jars_dir = os.path.join(_find_spark_home(), "jars")
    avro = glob.glob(os.path.join(jars_dir, "avro-[0-9]*.jar"))
    if shutil.which("javac") is None or not avro:
        log.warning("Avro JVM codec unavailable (no javac or no Avro jar in %s); "
                    "using the Python codec", jars_dir)
        return None
    try:
        javac = subprocess.run(["javac", "-version"], check=True, capture_output=True,
                               text=True).stdout.strip()
        h = hashlib.sha256(f"{javac}\n{JAVAC}\n{os.path.basename(avro[0])}\n".encode())
        for src in SOURCES:
            with open(src, "rb") as f:
                h.update(f.read())
        # the hash is in the file name: Spark keeps the first jar of a name
        jar = os.path.join(cache_dir(), f"avro-codec-{h.hexdigest()[:32]}.jar")
        if not os.path.exists(jar):
            _compile(jar, jars_dir)
        return jar
    except (OSError, subprocess.CalledProcessError) as e:
        detail = getattr(e, "stderr", None) or e
        log.warning("Avro JVM codec build failed, using the Python codec: %s",
                    " ".join(str(detail).split())[:500])
        return None


def avro_function(kind: str, avsc: str, return_type) -> str | None:
    """The name of the active session's Java ``kind`` ('decode' or
    'encode') function for schema ``avsc``, registering it (and adding
    the jar) on first use; None, after a warning, when the Python codec
    must run instead: no jar, no active session, or a schema or class
    the session's JVM rejects.

    The function lives in the session active on the calling thread, so a
    plan must be built and run on that session."""
    from pyspark.sql import SparkSession

    jar = codec_jar()
    if jar is None:
        return None
    spark = SparkSession.getActiveSession()
    if spark is None:
        log.warning("no active Spark session to register the Avro JVM codec in; "
                    "using the Python codec")
        return None
    name = f"plumber_avro_{kind}_{hashlib.sha256(avsc.encode()).hexdigest()[:16]}"
    done = _REGISTERED.setdefault(spark, {})
    if name not in done:
        try:
            spark._jvm.org.apache.avro.Schema.Parser().parse(avsc)  # noqa: SLF001
            if not any(done.values()):
                quoted = jar.replace("\\", "\\\\").replace("'", "\\'")
                spark.sql(f"ADD JAR '{quoted}'")
            spark.udf.registerJavaFunction(name, CLASSES[kind], return_type)
            done[name] = True
        except Exception as e:  # noqa: BLE001 -- py4j surfaces the JVM's error
            log.warning("the JVM rejects a schema or the Avro codec class, "
                        "using the Python codec for it: %s",
                        " ".join(str(e).split())[:300])
            done[name] = False
    return name if done[name] else None
