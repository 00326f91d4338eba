package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/**
 * Serialization of column values to Cassandra wire bytes — the rebuild of the
 * reference's polymorphic value -> ByteBuffer kernel. Semantics studied from
 * /root/reference/src/main/java/com/spotify/hdfs2cass/cassandra/utils/
 * CassandraRecordUtils.java:80-209 (behavior only; this is a fresh
 * implementation against the public Cassandra native-protocol spec):
 *
 *  - null -> empty buffer (NOT a null marker; Cassandra bulk writers treat
 *    an empty buffer as an unset/empty value);
 *  - String/CharSequence -> UTF-8 bytes;
 *  - Int/Long/Float/Double -> fixed-width big-endian;
 *  - Boolean -> single byte 0/1;
 *  - UUID -> 16 bytes (msb, lsb big-endian);
 *  - binary -> pass-through copy (defensive, buffers may be reused upstream);
 *  - List/Set -> [unsigned short count][unsigned short len + bytes]* — the
 *    protocol-v2 collection layout the reference's Cassandra 2.0 serializers
 *    emit;
 *  - Map -> [unsigned short count]([ushort klen + k][ushort vlen + v])*;
 *  - Struct (composite) -> CompositeType layout, see [[composite]].
 *
 * Kept OUT of the query plan until the sink or an explicit serialization
 * expression — values stay typed (Tungsten-friendly) as long as possible.
 * Both bulk sinks encode rows through [[RowCodec]], straight from
 * Catalyst's internal values.
 */
object CqlValueCodec {

  val Empty: Array[Byte] = Array.emptyByteArray

  def serializeString(s: String): Array[Byte] =
    if (s == null) Empty else s.getBytes(StandardCharsets.UTF_8)

  def serializeLong(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()

  def serializeInt(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v).array()

  def serializeShort(v: Short): Array[Byte] =
    ByteBuffer.allocate(2).putShort(v).array()

  def serializeDouble(v: Double): Array[Byte] =
    ByteBuffer.allocate(8).putDouble(v).array()

  def serializeFloat(v: Float): Array[Byte] =
    ByteBuffer.allocate(4).putFloat(v).array()

  def serializeBoolean(v: Boolean): Array[Byte] = Array(if (v) 1.toByte else 0.toByte)

  /** Cassandra decimal layout: 4-byte BE scale + unscaled big-endian bytes. */
  def serializeDecimal(d: java.math.BigDecimal): Array[Byte] = {
    val unscaled = d.unscaledValue.toByteArray
    val bb = ByteBuffer.allocate(4 + unscaled.length)
    bb.putInt(d.scale).put(unscaled)
    bb.array()
  }

  def serializeUuid(u: java.util.UUID): Array[Byte] =
    ByteBuffer.allocate(16).putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()

  /** Protocol-v2 collection: unsigned-short count, then ushort-length-prefixed elements. */
  def serializeCollection(elements: Iterable[Array[Byte]]): Array[Byte] = {
    val n = elements.size
    require(n <= 0xffff, s"collection too large for protocol-v2 layout: $n")
    var total = 2
    elements.foreach(e => total += 2 + e.length)
    val bb = ByteBuffer.allocate(total)
    bb.putShort((n & 0xffff).toShort)
    elements.foreach { e =>
      require(e.length <= 0xffff, s"collection element too large: ${e.length}")
      bb.putShort((e.length & 0xffff).toShort)
      bb.put(e)
    }
    bb.array()
  }

  /** Protocol-v2 map: ushort count, then (ushort klen, k, ushort vlen, v)*. */
  def serializeMap(entries: Iterable[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val n = entries.size
    require(n <= 0xffff, s"map too large for protocol-v2 layout: $n")
    var total = 2
    entries.foreach { case (k, v) => total += 4 + k.length + v.length }
    val bb = ByteBuffer.allocate(total)
    bb.putShort((n & 0xffff).toShort)
    entries.foreach { case (k, v) =>
      bb.putShort((k.length & 0xffff).toShort); bb.put(k)
      bb.putShort((v.length & 0xffff).toShort); bb.put(v)
    }
    bb.array()
  }

  /**
   * CompositeType layout: for each component, a 2-byte big-endian length,
   * the component bytes, then a 0x00 end-of-component byte. Used both for
   * struct-valued columns and for multi-column partition keys.
   */
  def composite(components: Array[Array[Byte]]): Array[Byte] = {
    var total = 0
    components.foreach(c => total += 2 + c.length + 1)
    val bb = ByteBuffer.allocate(total)
    components.foreach { c =>
      require(c.length <= 0xffff, s"composite component too large: ${c.length}")
      bb.putShort((c.length & 0xffff).toShort)
      bb.put(c)
      bb.put(0.toByte)
    }
    bb.array()
  }

  /**
   * Partition key bytes from an ordered value list: single key column
   * passes through raw; 2+ key columns use the composite layout.
   */
  def partitionKey(values: IndexedSeq[Array[Byte]], keyIndexes: Array[Int]): Array[Byte] = {
    if (keyIndexes.length == 1) values(keyIndexes(0))
    else composite(keyIndexes.map(values(_)))
  }

  /** Wire serializer of the value at one ordinal of a Catalyst row, array
    * or map side (all three are [[SpecializedGetters]]). */
  type FieldSerializer = (SpecializedGetters, Int) => Array[Byte]

  /**
   * Null-aware wire serializer for Catalyst type `dt` (null -> [[Empty]]).
   * Timestamps go from Catalyst micros to CQL millis by FLOOR division, so
   * a pre-epoch sub-millisecond instant lands on the millisecond before
   * it (-1 us -> -1 ms), like `java.sql.Timestamp.getTime`. Dates are
   * epoch days; collections, maps and structs recurse element-wise.
   */
  def serializer(dt: DataType): FieldSerializer = {
    val nonNull: FieldSerializer = dt match {
      case StringType  => (r, i) => serializeString(r.getUTF8String(i).toString)
      case LongType    => (r, i) => serializeLong(r.getLong(i))
      case IntegerType => (r, i) => serializeInt(r.getInt(i))
      case ShortType   => (r, i) => serializeShort(r.getShort(i))
      case DoubleType  => (r, i) => serializeDouble(r.getDouble(i))
      case FloatType   => (r, i) => serializeFloat(r.getFloat(i))
      case BooleanType => (r, i) => serializeBoolean(r.getBoolean(i))
      case BinaryType  => (r, i) => r.getBinary(i)
      case TimestampType | TimestampNTZType =>
        (r, i) => serializeLong(Math.floorDiv(r.getLong(i), 1000L))
      case DateType    => (r, i) => serializeInt(r.getInt(i))
      case d: DecimalType =>
        (r, i) => serializeDecimal(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case ArrayType(et, _) =>
        val el = serializer(et)
        (r, i) => {
          val a = r.getArray(i)
          serializeCollection(Array.tabulate(a.numElements())(el(a, _)))
        }
      case MapType(kt, vt, _) =>
        val (ks, vs) = (serializer(kt), serializer(vt))
        (r, i) => {
          val m = r.getMap(i)
          val (k, v) = (m.keyArray(), m.valueArray())
          serializeMap(Array.tabulate(m.numElements())(j => (ks(k, j), vs(v, j))))
        }
      case st: StructType =>
        val fs = st.fields.map(f => serializer(f.dataType))
        (r, i) => {
          val s = r.getStruct(i, fs.length)
          composite(Array.tabulate(fs.length)(j => fs(j)(s, j)))
        }
      case other => throw new IllegalArgumentException(
        s"cannot serialize type $other to Cassandra wire bytes")
    }
    (r, i) => if (r.isNullAt(i)) Empty else nonNull(r, i)
  }

  /** Value payload of the run format: a 4-byte BE length, then the bytes,
    * per field. */
  def frame(parts: Array[Array[Byte]]): Array[Byte] = {
    var total = 0
    parts.foreach(p => total += 4 + p.length)
    val bb = ByteBuffer.allocate(total)
    parts.foreach(p => bb.putInt(p.length).put(p))
    bb.array()
  }

  /** The bulk sinks' row codec: serializes columns `cols` of `schema`'s
    * rows, read straight from Catalyst's internal values. */
  final class RowCodec(schema: StructType, cols: Array[Int]) extends Serializable {
    private val serializers = cols.map(c => serializer(schema(c).dataType))

    /** Each column's wire bytes, in `cols` order. */
    def fields(row: SpecializedGetters): Array[Array[Byte]] =
      Array.tabulate(cols.length)(i => serializers(i)(row, cols(i)))

    def encode(row: SpecializedGetters): Array[Byte] = frame(fields(row))
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  def toHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      sb.append(HexDigits((bytes(i) >> 4) & 0xf)).append(HexDigits(bytes(i) & 0xf))
      i += 1
    }
    sb.toString
  }
}
