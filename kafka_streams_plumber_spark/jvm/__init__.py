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
``ADD JAR``, so a session that never touches Avro pays nothing, and each
set of constructor arguments (a kind's schemas) registers one function
instance, named by their hash, whose only argument is its column.
Functions live in the session active on the calling thread, so build and
run an Avro plan on that session; with none active, or a schema Avro's
parser rejects, the plan is refused when it is built. :func:`problems`,
the schema-resolution verdicts, needs the active session too.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
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


def _session():
    """The active session, the codec jar added to it on first use."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("an Avro plan needs an active Spark session: build and run it on one")
    if spark not in _REGISTERED:
        quoted = codec_jar().replace("\\", "\\\\").replace("'", "\\'")
        spark.sql(f"ADD JAR '{quoted}'")
        _REGISTERED[spark] = set()
    return spark


def _reflect(spark, owner: str, method: str | None, *args):
    """The codec class ``owner``'s static ``method``, or its constructor,
    called with ``args``; ValueError, with Avro's message, if it throws."""
    from py4j.protocol import Py4JJavaError

    cls = spark._jsparkSession.sharedState().jarClassLoader().loadClass(owner)  # noqa: SLF001
    jargs = spark._jvm.java.util.ArrayList(list(args)).toArray()  # noqa: SLF001
    try:
        if method is None:
            return cls.getConstructors()[0].newInstance(jargs)
        return next(m for m in cls.getMethods() if m.getName() == method).invoke(None, jargs)
    except Py4JJavaError as e:  # what the reflected call threw is its cause
        cause = e.java_exception.getCause() or e.java_exception
        raise ValueError(f"Avro rejects the schema: {cause.getMessage()}") from None


def problems(reader: str, writer: str) -> list[str]:
    """``AvroCodec.problems``: why ``writer``'s data cannot be read as ``reader``."""
    return list(_reflect(_session(), "plumber.AvroCodec", "problems", reader, writer))


def avro_function(kind: str, return_type, *args) -> str:
    """The name of the active session's Java ``kind`` function ('decode',
    'encode' or 'ocf') built with constructor ``args``, named by their
    hash and registered (the jar added) on first use. ValueError, with
    Avro's message, when Avro rejects a schema; RuntimeError when no
    session is active."""
    spark = _session()
    digest = hashlib.sha256(json.dumps([kind, *args]).encode()).hexdigest()[:16]
    name = f"plumber_avro_{kind}_{digest}"
    done = _REGISTERED[spark]
    if name not in done:
        jspark = spark._jsparkSession  # noqa: SLF001
        udf = _reflect(spark, CLASSES[kind], None, *args)
        jspark.udf().register(name, udf, jspark.parseDataType(return_type.json()))
        done.add(name)
    return name
