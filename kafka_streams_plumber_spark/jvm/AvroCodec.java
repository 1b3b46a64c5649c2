package plumber;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.Collection;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.avro.Schema;
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

/**
 * The wire path's Avro codec as two Spark Java UDFs, so decode and encode
 * run inside the JVM operators instead of a Python worker.
 *
 * <p>Values take the Spark shape sources/avsc.py and conform's spark_type
 * give a schema: records are Rows, enums are strings, bytes are byte[], a
 * [null, T] union is a nullable T and an N-way union is a Row with one slot
 * per non-null branch, only the written branch set. The schema text is an
 * argument, so the UDFs need nothing but their arguments on an executor;
 * each thread parses one reader or writer per schema text and keeps it.
 * Errors carry the wording of sources/avro_codec.py and serde._unframe.
 */
public final class AvroCodec {
  private AvroCodec() {}

  /** (payload, schema text, Confluent-framed) -> decoded value. */
  public static final class Decode implements UDF3<byte[], String, Boolean, Object> {
    private static final ThreadLocal<Map<String, Reader>> READERS =
        ThreadLocal.withInitial(HashMap::new);

    @Override
    public Object call(byte[] payload, String schemaText, Boolean framed) {
      if (payload == null) {
        return null;
      }
      int off = 0;
      if (framed) {
        if (payload.length < 5 || payload[0] != 0) {
          throw new IllegalArgumentException("not a Confluent-framed avro message");
        }
        off = 5;
      }
      Reader r = READERS.get().computeIfAbsent(schemaText, Reader::new);
      r.decoder = DecoderFactory.get().binaryDecoder(payload, off, payload.length - off, r.decoder);
      try {
        r.reuse = r.reader.read(r.reuse, r.decoder);
      } catch (IOException | RuntimeException e) {
        r.reuse = null;
        throw new IllegalArgumentException("avro payload truncated or corrupt", e);
      }
      try {
        if (!r.decoder.isEnd()) {
          int left = r.decoder.inputStream().available();
          throw new IllegalArgumentException("avro payload: " + left + " trailing bytes");
        }
      } catch (IOException e) {
        throw new IllegalArgumentException("avro payload truncated or corrupt", e);
      }
      return toSpark(r.reuse, r.schema);
    }
  }

  /** (value, schema text, schema id or null) -> payload, Confluent-framed when an id is given. */
  public static final class Encode implements UDF3<Object, String, Integer, byte[]> {
    private static final ThreadLocal<Map<String, Writer>> WRITERS =
        ThreadLocal.withInitial(HashMap::new);

    @Override
    public byte[] call(Object value, String schemaText, Integer schemaId) throws IOException {
      if (value == null) {
        return null;
      }
      Writer w = WRITERS.get().computeIfAbsent(schemaText, Writer::new);
      w.out.reset();
      if (schemaId != null) {
        int id = schemaId;
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

  private static final class Reader {
    final Schema schema;
    final GenericDatumReader<Object> reader;
    BinaryDecoder decoder;
    Object reuse;

    Reader(String text) {
      schema = new Schema.Parser().parse(text);
      reader = new GenericDatumReader<>(schema);
    }
  }

  private static final class Writer {
    final Schema schema;
    final GenericDatumWriter<Object> writer;
    final ByteArrayOutputStream out = new ByteArrayOutputStream();
    BinaryEncoder encoder;

    Writer(String text) {
      schema = new Schema.Parser().parse(text);
      writer = new GenericDatumWriter<>(schema);
    }
  }

  /** The non-null branches of a union, in declaration order. */
  private static List<Schema> nonNull(Schema union) {
    List<Schema> out = new ArrayList<>();
    for (Schema b : union.getTypes()) {
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
        List<Schema.Field> fields = s.getFields();
        Object[] out = new Object[fields.size()];
        for (int i = 0; i < out.length; i++) {
          out[i] = toSpark(rec.get(i), fields.get(i).schema());
        }
        return RowFactory.create(out);
      }
      case ARRAY: {
        Collection<?> items = (Collection<?>) d;
        List<Object> out = new ArrayList<>(items.size());
        for (Object item : items) {
          out.add(toSpark(item, s.getElementType()));
        }
        return out;
      }
      case UNION: {
        Schema branch = s.getTypes().get(GenericData.get().resolveUnion(s, d));
        List<Schema> slots = nonNull(s);
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
        ByteBuffer buf = ((ByteBuffer) d).duplicate();
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
    scala.Option<Object> i = row.schema().getFieldIndex(name);
    return i.isEmpty() ? null : row.get((Integer) i.get());
  }

  static Object toAvro(Object v, Schema s) {
    if (v == null) {
      return null; // GenericDatumWriter names a non-nullable field's path
    }
    switch (s.getType()) {
      case RECORD: {
        Row row = (Row) v;
        GenericData.Record rec = new GenericData.Record(s);
        for (Schema.Field f : s.getFields()) {
          rec.put(f.pos(), toAvro(field(row, f.name()), f.schema()));
        }
        return rec;
      }
      case ARRAY: {
        Iterable<?> items = scala.jdk.javaapi.CollectionConverters.asJava((scala.collection.Seq<?>) v);
        List<Object> out = new ArrayList<>();
        for (Object item : items) {
          out.add(toAvro(item, s.getElementType()));
        }
        return out;
      }
      case UNION: {
        List<Schema> slots = nonNull(s);
        if (slots.size() == 1) {
          return toAvro(v, slots.get(0));
        }
        // a struct of branches, one slot per non-null branch in order
        // (slot names are the schema's full names, Avro's getName() the
        // short ones): the first set branch is the one written
        Row row = (Row) v;
        for (int i = 0; i < slots.size(); i++) {
          Object b = row.get(i);
          if (b != null) {
            return toAvro(b, slots.get(i));
          }
        }
        return null;
      }
      case ENUM:
        return new GenericData.EnumSymbol(s, v.toString());
      case BYTES:
        return ByteBuffer.wrap((byte[]) v);
      case INT:
        return ((Number) v).intValue();
      case LONG:
        return ((Number) v).longValue();
      case FLOAT:
        return ((Number) v).floatValue();
      case DOUBLE:
        return ((Number) v).doubleValue();
      default: // boolean, string
        return v;
    }
  }
}
