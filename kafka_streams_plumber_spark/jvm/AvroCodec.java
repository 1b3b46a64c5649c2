package plumber;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collection;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;

import org.apache.avro.Resolver;
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
import org.apache.spark.sql.api.java.UDF1;

/**
 * The Avro codec as Spark Java UDFs, so decode, encode and container-file
 * reads run inside the JVM operators instead of a Python worker.
 *
 * <p>Values take the Spark shape sources/avsc.py and conform's spark_type
 * give a schema: records are Rows, enums are strings, bytes are byte[], a
 * [null, T] union is a nullable T and an N-way union is a Row with one slot
 * per non-null branch, only the written branch set. Each UDF takes one
 * column; its schemas are constructor arguments, held parsed (a Schema is
 * Serializable), so they ship with the plan, not with every row. Each task
 * gets its own copy of a UDF and builds its Readers and Writers on first
 * use; call is synchronized, as the driver's copy can run too (the
 * optimizer folding a local relation). {@link #problems} is the package's
 * only schema-resolution check, the verdicts of Avro's own Resolver.
 *
 * <p>The source stays inside the Java subset Janino compiles: raw generic
 * types with casts, anonymous classes instead of lambdas and method
 * references, one exception type per catch, and call(Object) methods,
 * because Janino emits no bridge methods.
 */
public final class AvroCodec {
  private AvroCodec() {}

  /**
   * Why data written with writerText cannot be read as readerText, one
   * reason each, led by its reader path ($.inner.x); none when it can: each
   * error action of the tree Avro's Resolver builds (which is what
   * GenericDatumReader(writer, reader) runs), and each writer enum symbol
   * the reader lacks and has no default for.
   */
  public static String[] problems(String readerText, String writerText) {
    Schema reader = new Schema.Parser().parse(readerText);
    Schema writer = new Schema.Parser().parse(writerText);
    List out = new ArrayList();
    walk(Resolver.resolve(writer, reader, GenericData.get()), "$", out, new HashSet());
    return (String[]) out.toArray(new String[0]);
  }

  /** Adds action a's problems at path to out; on holds what is being walked. */
  private static void walk(Resolver.Action a, String path, List out, Set on) {
    if (!on.add(a)) {
      return; // a recursive record's action refers back to itself
    }
    if (a instanceof Resolver.ErrorAction) {
      error((Resolver.ErrorAction) a, path, out, on);
    } else if (a instanceof Resolver.EnumAdjust) {
      int[] to = ((Resolver.EnumAdjust) a).adjustments;
      List missing = new ArrayList();
      for (int i = 0; i < to.length; i++) {
        if (to[i] < 0) {
          missing.add("'" + a.writer.getEnumSymbols().get(i) + "'");
        }
      }
      if (!missing.isEmpty()) {
        out.add(path + ": writer enum symbols " + missing + " absent from reader");
      }
    } else if (a instanceof Resolver.Container) {
      walk(((Resolver.Container) a).elementAction, path + ".items", out, on);
    } else if (a instanceof Resolver.RecordAdjust) {
      // the writer's fields, renamed to the reader's by its aliases
      Resolver.Action[] fields = ((Resolver.RecordAdjust) a).fieldActions;
      for (int i = 0; i < fields.length; i++) {
        walk(fields[i], path + "." + ((Schema.Field) a.writer.getFields().get(i)).name(), out, on);
      }
    } else if (a instanceof Resolver.WriterUnion) {
      for (Object branch : ((Resolver.WriterUnion) a).actions) {
        walk((Resolver.Action) branch, path, out, on);
      }
    } else if (a instanceof Resolver.ReaderUnion) {
      walk(((Resolver.ReaderUnion) a).actualAction, path, out, on);
    } // else nothing to do: a promotion or a skipped writer field
    on.remove(a);
  }

  private static void error(Resolver.ErrorAction e, String path, List out, Set on) {
    String writer = "writer '" + e.writer.getType().getName() + "'";
    switch (e.error) {
      case MISSING_REQUIRED_FIELD:
        // the Resolver stops a record at its first missing field: name
        // each one, and resolve the fields both records have as well
        if (on.add(e.reader)) { // else a recursive record
          for (Object o : e.reader.getFields()) {
            Schema.Field r = (Schema.Field) o;
            Schema.Field w = e.writer.getField(r.name());
            if (w != null) {
              walk(Resolver.resolve(w.schema(), r.schema(), GenericData.get()), path + "." + r.name(), out, on);
            } else if (!r.hasDefaultValue()) {
              out.add(path + "." + r.name() + ": reader field absent from writer and has no default");
            }
          }
          on.remove(e.reader);
        }
        break;
      case INCOMPATIBLE_SCHEMA_TYPES:
        out.add(path + ": " + writer + " cannot promote to reader '" + e.reader.getType().getName() + "'");
        break;
      case NO_MATCHING_BRANCH:
        out.add(path + ": " + writer + " matches no branch of the reader union");
        break;
      default: // names or fixed sizes differ
        out.add(path + ": " + e);
    }
  }

  /**
   * payload -> decoded value, read with the reader schema.
   *
   * <p>Without writers the reader is also the writer schema, and the payload
   * carries the Confluent header when framed. With writers (a registry
   * decode) every payload is framed, and writers maps each registered schema
   * id to [writer text, reader text for that writer]; the constructor, on
   * the driver, keeps instead the reason for each writer {@link #problems}
   * refuses, raised when a record with that id arrives. An id the map lacks
   * fails naming the id.
   */
  public static final class Decode implements UDF1 {
    private final boolean framed;
    private final boolean byId;
    /** schema id, or null for the reader alone -> [writer, reader] or why it cannot be read */
    private final HashMap writers = new HashMap();
    private transient HashMap readers;

    public Decode(String readerText, boolean framed, Map writers) {
      Schema reader = new Schema.Parser().parse(readerText);
      this.byId = writers != null;
      this.framed = framed || byId;
      if (!byId) {
        this.writers.put(null, new Schema[] {reader, reader});
        return;
      }
      for (Object o : writers.entrySet()) {
        Map.Entry e = (Map.Entry) o;
        Integer id = Integer.valueOf(((Number) e.getKey()).intValue());
        String w = (String) ((List) e.getValue()).get(0);
        String r = (String) ((List) e.getValue()).get(1);
        String[] problems = problems(r, w);
        this.writers.put(id, problems.length == 0
            ? (Object) new Schema[] {new Schema.Parser().parse(w), new Schema.Parser().parse(r)}
            : "avro payload: schema id " + id + ": reader schema cannot read writer data:\n  "
                + String.join("\n  ", Arrays.asList(problems)));
      }
    }

    public synchronized Object call(Object payload) {
      if (payload == null) {
        return null;
      }
      byte[] b = (byte[]) payload;
      if (framed && (b.length < 5 || b[0] != 0)) {
        throw new IllegalArgumentException("not a Confluent-framed avro message");
      }
      Integer id = byId ? Integer.valueOf(ByteBuffer.wrap(b, 1, 4).getInt()) : null;
      if (readers == null) {
        readers = new HashMap();
      }
      Reader r = (Reader) readers.get(id);
      if (r == null) {
        Object schemas = writers.get(id);
        if (schemas == null) {
          throw new IllegalArgumentException("avro payload: schema id " + id
              + " is not a version of the subject the plan was built with"
              + " (a writer registered after that needs a restart)");
        }
        if (schemas instanceof String) {
          throw new IllegalArgumentException((String) schemas);
        }
        r = new Reader(((Schema[]) schemas)[0], ((Schema[]) schemas)[1]);
        readers.put(id, r);
      }
      return r.decode(b, framed ? 5 : 0);
    }
  }

  /** value -> payload, Confluent-framed with schemaId unless it is null. */
  public static final class Encode implements UDF1 {
    private final Schema schema;
    private final byte[] header;
    private transient GenericDatumWriter writer;
    private transient ByteArrayOutputStream out;
    private transient BinaryEncoder encoder;

    public Encode(String text, Integer schemaId) {
      schema = new Schema.Parser().parse(text);
      header = schemaId == null ? new byte[0]
          : ByteBuffer.allocate(5).put((byte) 0).putInt(schemaId.intValue()).array();
    }

    public synchronized Object call(Object value) throws IOException {
      if (value == null) {
        return null;
      }
      if (writer == null) {
        writer = new GenericDatumWriter(schema);
        out = new ByteArrayOutputStream();
      }
      out.reset();
      out.write(header);
      encoder = EncoderFactory.get().directBinaryEncoder(out, encoder);
      writer.write(toAvro(value, schema), encoder);
      return out.toByteArray();
    }
  }

  /**
   * container file bytes -> the file's records as an array of reader-shaped
   * Rows, each resolved from the file's own writer schema. A file that
   * cannot be read whole gives NULL, or fails the query when strict.
   */
  public static final class ReadContainer implements UDF1 {
    private final Schema schema;
    private final boolean strict;

    public ReadContainer(String readerText, boolean strict) {
      this.schema = new Schema.Parser().parse(readerText);
      this.strict = strict;
    }

    public Object call(Object content) {
      if (content == null) {
        return null;
      }
      try {
        return readAll((byte[]) content, schema);
      } catch (Exception e) {
        if (strict) {
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

    Reader(Schema writer, Schema reader) {
      schema = reader;
      this.reader = new GenericDatumReader(writer, reader);
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
