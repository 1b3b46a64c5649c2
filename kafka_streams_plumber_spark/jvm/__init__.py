"""The Avro codec: ``AvroCodec.java`` built into a jar on first use and
registered as Spark Java UDFs, so the wire path's decode and encode and
the container-file reader stay inside Catalyst's JVM operators (no Python
worker, no Arrow hop). It is the package's only Avro implementation.

The jar is compiled in the driver JVM with the Janino that Spark ships
(``org.codehaus.janino.SimpleCompiler``, parented on the context class
loader, so it sees Spark's Avro jar), so no JDK is needed, once per
machine: it is cached under ``$XDG_CACHE_HOME/kafka_streams_plumber_spark``
(``~/.cache`` by default), named by the sha256 of the Java source and the
names of Spark's Janino and Avro jars, and written atomically (temp file,
then rename). The source must stay inside the Java subset Janino compiles
(see its class comment).

Registration is lazy: the first Avro plan a session builds runs
``ADD JAR`` and registers one function per kind and schema (by hash), so
a session that never touches Avro pays nothing. Functions live in the
session active on the calling thread, so build and run an Avro plan on
that session; with none active, or a schema Avro's parser rejects, the
plan is refused when it is built.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import tempfile
import weakref
import zipfile

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "AvroCodec.java")
CLASSES = {
    "decode": "plumber.AvroCodec$Decode",
    "encode": "plumber.AvroCodec$Encode",
    "ocf": "plumber.AvroCodec$ReadContainer",
}

#: session -> names of the functions registered in it
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "kafka_streams_plumber_spark")


def _compile(jar: str, source: str) -> None:
    """Compile ``source`` with Janino in Spark's JVM and zip its class
    files into ``jar``, atomically."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm  # noqa: SLF001
    if jvm is None:
        raise RuntimeError("the Avro codec is compiled in Spark's JVM: start a Spark session first")
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.setParentClassLoader(jvm.java.lang.Thread.currentThread().getContextClassLoader())
    compiler.cook(os.path.basename(SOURCE), source)
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    fd, part = tempfile.mkstemp(dir=os.path.dirname(jar), suffix=".part")
    try:
        with zipfile.ZipFile(os.fdopen(fd, "wb"), "w") as z:
            for name, code in compiler.getBytecodes().items():
                z.writestr(name.replace(".", "/") + ".class", bytes(code))
        os.replace(part, jar)
    except BaseException:
        os.unlink(part)
        raise


@functools.cache
def codec_jar() -> str:
    """The built codec jar, compiling it when the cache has none."""
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    with open(SOURCE) as f:
        source = f.read()
    h = hashlib.sha256(source.encode())
    for pattern in ("janino-[0-9]*.jar", "avro-[0-9]*.jar"):
        h.update(" ".join(os.path.basename(p) for p in sorted(glob.glob(os.path.join(jars, pattern)))).encode())
    # the hash is in the file name: Spark keeps the first jar of a name
    jar = os.path.join(cache_dir(), f"avro-codec-{h.hexdigest()[:32]}.jar")
    if not os.path.exists(jar):
        _compile(jar, source)
    return jar


def avro_function(kind: str, avsc: str, return_type) -> str:
    """The name of the active session's Java ``kind`` function ('decode',
    'encode' or 'ocf') for schema ``avsc``, registering it (and adding the
    jar) on first use. ValueError, with Avro's message, when Avro's parser
    rejects ``avsc``; RuntimeError when no session is active."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("an Avro plan needs an active Spark session: build and run it on one")
    name = f"plumber_avro_{kind}_{hashlib.sha256(avsc.encode()).hexdigest()[:16]}"
    done = _REGISTERED.setdefault(spark, set())
    if name not in done:
        try:
            spark._jvm.org.apache.avro.Schema.Parser().parse(avsc)  # noqa: SLF001
        except Py4JJavaError as e:
            raise ValueError(f"Avro rejects the schema: {e.java_exception.getMessage()}") from None
        jspark = spark._jsparkSession  # noqa: SLF001
        if not done:
            quoted = codec_jar().replace("\\", "\\\\").replace("'", "\\'")
            spark.sql(f"ADD JAR '{quoted}'")
        udf = jspark.sharedState().jarClassLoader().loadClass(CLASSES[kind]).newInstance()
        jspark.udf().register(name, udf, jspark.parseDataType(return_type.json()))
        done.add(name)
    return name
