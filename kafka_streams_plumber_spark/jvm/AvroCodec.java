package plumber;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collection;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.avro.Schema;
import org.apache.avro.file.DataFileReader;
import org.apache.avro.file.SeekableByteArrayInput;
import org.apache.avro.generic.GenericData;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericDatumWriter;
import org.apache.avro.generic.IndexedRecord;
import org.apache.avro.io.BinaryDecoder;
import org.apache.avro.io.BinaryEncoder;
import org.apache.avro.io.DecoderFactory;
import org.apache.avro.io.EncoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF3;
import org.apache.spark.sql.api.java.UDF4;

/**
 * The Avro codec as Spark Java UDFs, so decode, encode and container-file
 * reads run inside the JVM operators instead of a Python worker.
 *
 * <p>Values take the Spark shape sources/avsc.py and conform's spark_type
 * give a schema: records are Rows, enums are strings, bytes are byte[], a
 * [null, T] union is a nullable T and an N-way union is a Row with one slot
 * per non-null branch, only the written branch set. Schema texts are
 * arguments, so the UDFs need nothing but their arguments on an executor;
 * each thread parses one reader or writer per schema text and keeps it.
 *
 * <p>The source stays inside the Java subset Janino compiles: raw generic
 * types with casts, anonymous classes instead of lambdas and method
 * references, one exception type per catch, and call(Object...) methods,
 * because Janino emits no bridge methods.
 */
public final class AvroCodec {
  private AvroCodec() {}

  /** A thread-local HashMap, the per-thread cache of each UDF. */
  static ThreadLocal perThread() {
    return new ThreadLocal() {
      protected Object initialValue() {
        return new HashMap();
      }
    };
  }

  /**
   * (payload, reader schema text, Confluent-framed, writers) -> decoded value.
   *
   * <p>With writers NULL the reader text is also the writer schema. Otherwise
   * the payload is Confluent-framed and writers maps each registered schema id
   * to [writer text, reader text for that writer], or to [the reason that
   * writer cannot be read]; an id the map lacks fails naming the id. The map
   * is read on every row and the Readers are cached by their schema texts,
   * so plans whose registries number their writers alike never share one.
   */
  public static final class Decode implements UDF4 {
    /**
     * Readers by their schema texts: a registry Reader by its [writer text,
     * reader text] list, a pinned one by its reader text alone (a String
     * never equals a List, so the two kinds of key cannot collide).
     */
    private static final ThreadLocal READERS = perThread();

    public Object call(Object payload, Object readerText, Object framed, Object writers) {
      if (payload == null) {
        return null;
      }
      byte[] b = (byte[]) payload;
      boolean header = writers != null || ((Boolean) framed).booleanValue();
      if (header && (b.length < 5 || b[0] != 0)) {
        throw new IllegalArgumentException("not a Confluent-framed avro message");
      }
      Object[] texts = writers == null
          ? new Object[] {readerText, readerText}
          : forWriter(Integer.valueOf(ByteBuffer.wrap(b, 1, 4).getInt()), (scala.collection.Map) writers);
      Object key = writers == null ? readerText : Arrays.asList(texts);
      Map readers = (Map) READERS.get();
      Reader r = (Reader) readers.get(key);
      if (r == null) {
        r = new Reader((String) texts[0], (String) texts[1]);
        readers.put(key, r);
      }
      return r.decode(b, header ? 5 : 0);
    }
  }

  /** writers' [writer text, reader text] for schema id ``id``. */
  private static Object[] forWriter(Integer id, scala.collection.Map writers) {
    scala.Option entry = writers.get(id);
    if (entry.isEmpty()) {
      throw new IllegalArgumentException("avro payload: schema id " + id
          + " is not a version of the subject the plan was built with"
          + " (a writer registered after that needs a restart)");
    }
    scala.collection.Seq texts = (scala.collection.Seq) entry.get();
    if (texts.length() == 1) {
      throw new IllegalArgumentException((String) texts.apply(0));
    }
    return new Object[] {texts.apply(0), texts.apply(1)};
  }

  /** (value, schema text, schema id or null) -> payload, Confluent-framed when an id is given. */
  public static final class Encode implements UDF3 {
    private static final ThreadLocal WRITERS = perThread();

    public Object call(Object value, Object schemaText, Object schemaId) throws IOException {
      if (value == null) {
        return null;
      }
      Map writers = (Map) WRITERS.get();
      Writer w = (Writer) writers.get(schemaText);
      if (w == null) {
        w = new Writer((String) schemaText);
        writers.put(schemaText, w);
      }
      w.out.reset();
      if (schemaId != null) {
        int id = ((Integer) schemaId).intValue();
        w.out.write(0);
        w.out.write(id >>> 24);
        w.out.write(id >>> 16);
        w.out.write(id >>> 8);
        w.out.write(id);
      }
      w.encoder = EncoderFactory.get().directBinaryEncoder(w.out, w.encoder);
      w.writer.write(toAvro(value, w.schema), w.encoder);
      return w.out.toByteArray();
    }
  }

  /**
   * (container file bytes, reader schema text, strict) -> the file's records
   * as an array of reader-shaped Rows, each resolved from the file's own
   * writer schema. A file that cannot be read whole gives NULL, or fails the
   * query when strict.
   */
  public static final class ReadContainer implements UDF3 {
    private static final ThreadLocal SCHEMAS = perThread();

    public Object call(Object content, Object readerText, Object strict) {
      if (content == null) {
        return null;
      }
      Map schemas = (Map) SCHEMAS.get();
      Schema schema = (Schema) schemas.get(readerText);
      if (schema == null) {
        schema = new Schema.Parser().parse((String) readerText);
        schemas.put(readerText, schema);
      }
      try {
        return readAll((byte[]) content, schema);
      } catch (Exception e) {
        if (((Boolean) strict).booleanValue()) {
          throw new IllegalArgumentException("unreadable Avro container file: " + e, e);
        }
        return null;
      }
    }
  }

  static List readAll(byte[] bytes, Schema schema) throws IOException {
    DataFileReader in = new DataFileReader(
        new SeekableByteArrayInput(bytes), new GenericDatumReader((Schema) null, schema));
    try {
      List out = new ArrayList();
      Object rec = null;
      while (in.hasNext()) {
        rec = in.next(rec);
        out.add(toSpark(rec, schema));
      }
      // DataFileStream stops quietly at an end of file inside a block, so
      // a cut file shows only here: a whole one ends with the header's sync
      int header = (int) in.previousSync();
      if (bytes.length > header && !Arrays.equals(
          Arrays.copyOfRange(bytes, header - 16, header),
          Arrays.copyOfRange(bytes, bytes.length - 16, bytes.length))) {
        throw new IOException("Avro container file truncated");
      }
      return out;
    } finally {
      in.close();
    }
  }

  private static final class Reader {
    final Schema schema;
    final GenericDatumReader reader;
    BinaryDecoder decoder;
    Object reuse;

    Reader(String writerText, String readerText) {
      schema = new Schema.Parser().parse(readerText);
      Schema writer = writerText.equals(readerText) ? schema : new Schema.Parser().parse(writerText);
      reader = new GenericDatumReader(writer, schema);
    }

    Object decode(byte[] payload, int off) {
      decoder = DecoderFactory.get().binaryDecoder(payload, off, payload.length - off, decoder);
      int left;
      try {
        reuse = reader.read(reuse, decoder);
        left = decoder.isEnd() ? 0 : decoder.inputStream().available();
      } catch (Exception e) {
        reuse = null;
        throw new IllegalArgumentException("avro payload truncated or corrupt", e);
      }
      if (left > 0) {
        throw new IllegalArgumentException("avro payload: " + left + " trailing bytes");
      }
      return toSpark(reuse, schema);
    }
  }

  private static final class Writer {
    final Schema schema;
    final GenericDatumWriter writer;
    final ByteArrayOutputStream out = new ByteArrayOutputStream();
    BinaryEncoder encoder;

    Writer(String text) {
      schema = new Schema.Parser().parse(text);
      writer = new GenericDatumWriter(schema);
    }
  }

  /** The non-null branches of a union, in declaration order. */
  private static List nonNull(Schema union) {
    List out = new ArrayList();
    for (Object o : union.getTypes()) {
      Schema b = (Schema) o;
      if (b.getType() != Schema.Type.NULL) {
        out.add(b);
      }
    }
    return out;
  }

  static Object toSpark(Object d, Schema s) {
    if (d == null) {
      return null;
    }
    switch (s.getType()) {
      case RECORD: {
        IndexedRecord rec = (IndexedRecord) d;
        List fields = s.getFields();
        Object[] out = new Object[fields.size()];
        for (int i = 0; i < out.length; i++) {
          out[i] = toSpark(rec.get(i), ((Schema.Field) fields.get(i)).schema());
        }
        return RowFactory.create(out);
      }
      case ARRAY: {
        Collection items = (Collection) d;
        List out = new ArrayList(items.size());
        for (Object item : items) {
          out.add(toSpark(item, s.getElementType()));
        }
        return out;
      }
      case UNION: {
        Schema branch = (Schema) s.getTypes().get(GenericData.get().resolveUnion(s, d));
        List slots = nonNull(s);
        if (slots.size() == 1) {
          return toSpark(d, branch);
        }
        Object[] out = new Object[slots.size()];
        out[slots.indexOf(branch)] = toSpark(d, branch);
        return RowFactory.create(out);
      }
      case STRING:
      case ENUM:
        return d.toString();
      case BYTES: {
        ByteBuffer buf = (ByteBuffer) ((ByteBuffer) d).duplicate();
        byte[] out = new byte[buf.remaining()];
        buf.get(out);
        return out;
      }
      default: // boolean, int, long, float, double
        return d;
    }
  }

  /** ``row``'s field ``name``; NULL when the row has no such field. */
  private static Object field(Row row, String name) {
    scala.Option i = row.schema().getFieldIndex(name);
    return i.isEmpty() ? null : row.get(((Integer) i.get()).intValue());
  }

  static Object toAvro(Object v, Schema s) {
    if (v == null) {
      return null; // GenericDatumWriter names a non-nullable field's path
    }
    switch (s.getType()) {
      case RECORD: {
        Row row = (Row) v;
        GenericData.Record rec = new GenericData.Record(s);
        for (Object o : s.getFields()) {
          Schema.Field f = (Schema.Field) o;
          rec.put(f.pos(), toAvro(field(row, f.name()), f.schema()));
        }
        return rec;
      }
      case ARRAY: {
        scala.collection.Seq items = (scala.collection.Seq) v;
        List out = new ArrayList(items.length());
        for (int i = 0; i < items.length(); i++) {
          out.add(toAvro(items.apply(i), s.getElementType()));
        }
        return out;
      }
      case UNION: {
        List slots = nonNull(s);
        if (slots.size() == 1) {
          return toAvro(v, (Schema) slots.get(0));
        }
        // a struct of branches, one slot per non-null branch in order
        // (slot names are the schema's full names, Avro's getName() the
        // short ones): the first set branch is the one written
        Row row = (Row) v;
        for (int i = 0; i < slots.size(); i++) {
          Object b = row.get(i);
          if (b != null) {
            return toAvro(b, (Schema) slots.get(i));
          }
        }
        return null;
      }
      case ENUM:
        return new GenericData.EnumSymbol(s, v.toString());
      case BYTES:
        return ByteBuffer.wrap((byte[]) v);
      case INT:
        return Integer.valueOf(((Number) v).intValue());
      case LONG:
        return Long.valueOf(((Number) v).longValue());
      case FLOAT:
        return Float.valueOf(((Number) v).floatValue());
      case DOUBLE:
        return Double.valueOf(((Number) v).doubleValue());
      default: // boolean, string
        return v;
    }
  }
}
