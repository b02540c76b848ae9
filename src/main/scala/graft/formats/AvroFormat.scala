package graft.formats

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro payload decoding without spark-avro (not shipped in this
  * environment): a native Catalyst expression over the plain Apache
  * Avro runtime — the same architecture as spark-avro's
  * AvroDataToCatalyst. Mirrors the reference decoder
  * (/root/reference/crates/core/src/formats/decoders/avro.rs:17-54)
  * and its schema conversion (utils/arrow_helpers.rs:300-545).
  */
object AvroFormat {

  /** Avro schema JSON → Spark StructType (record at top level). */
  def sparkSchema(avroSchemaJson: String): StructType =
    toSparkType(new AvroSchema.Parser().parse(avroSchemaJson))
      .asInstanceOf[StructType]

  private[formats] def toSparkType(s: AvroSchema): DataType = s.getType match {
    case AvroSchema.Type.BOOLEAN => BooleanType
    case AvroSchema.Type.INT     => IntegerType
    case AvroSchema.Type.LONG    => LongType
    case AvroSchema.Type.FLOAT   => FloatType
    case AvroSchema.Type.DOUBLE  => DoubleType
    case AvroSchema.Type.STRING  => StringType
    case AvroSchema.Type.ENUM    => StringType
    case AvroSchema.Type.BYTES   => BinaryType
    case AvroSchema.Type.FIXED   => BinaryType
    case AvroSchema.Type.NULL    => NullType
    case AvroSchema.Type.RECORD =>
      StructType(s.getFields.asScala.toSeq.map(f =>
        StructField(f.name(), toSparkType(f.schema()))))
    case AvroSchema.Type.ARRAY =>
      ArrayType(toSparkType(s.getElementType))
    case AvroSchema.Type.MAP =>
      MapType(StringType, toSparkType(s.getValueType))
    case AvroSchema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filter(
        _.getType != AvroSchema.Type.NULL)
      if (nonNull.size == 1) toSparkType(nonNull.head)
      else throw new IllegalArgumentException(
        s"unsupported non-nullable union: $s")
  }

  /** Column function: binary Avro payload → struct. */
  def decode(payload: Column, avroSchemaJson: String): Column =
    toColumn(AvroDecode(toExpression(payload), avroSchemaJson))
}

/** binary → struct decode against a writer schema. Thread-safe: the
  * (non-serializable) Avro reader is rebuilt per task via transient
  * lazy vals from the schema JSON.
  */
case class AvroDecode(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val avroSchema =
    new AvroSchema.Parser().parse(schemaJson)
  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](avroSchema)

  override lazy val dataType: DataType = AvroFormat.sparkSchema(schemaJson)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val decoder = DecoderFactory.get().binaryDecoder(bytes, null)
    toCatalyst(reader.read(null, decoder), avroSchema)
  }

  private def resolveUnion(s: AvroSchema, v: AnyRef): AvroSchema =
    if (s.getType == AvroSchema.Type.UNION)
      s.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).get
    else s

  private def toCatalyst(v: AnyRef, schema0: AvroSchema): Any = {
    if (v == null) return null
    val schema = resolveUnion(schema0, v)
    schema.getType match {
      case AvroSchema.Type.BOOLEAN | AvroSchema.Type.INT |
           AvroSchema.Type.LONG | AvroSchema.Type.FLOAT |
           AvroSchema.Type.DOUBLE => v
      case AvroSchema.Type.STRING | AvroSchema.Type.ENUM =>
        UTF8String.fromString(v.toString)
      case AvroSchema.Type.BYTES =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case AvroSchema.Type.FIXED =>
        v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes().clone()
      case AvroSchema.Type.RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        val fields = schema.getFields.asScala
        InternalRow.fromSeq(fields.toSeq.map(f =>
          toCatalyst(rec.get(f.pos()), f.schema())))
      case AvroSchema.Type.ARRAY =>
        val elems = v.asInstanceOf[java.util.Collection[AnyRef]].asScala
        new GenericArrayData(
          elems.map(toCatalyst(_, schema.getElementType)).toArray)
      case AvroSchema.Type.MAP =>
        // one entrySet pass: keys()/values() view iteration order pairing
        // is not guaranteed by the java.util.Map contract
        val entries = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
          .entrySet().asScala.toArray
        ArrayBasedMapData(
          entries.map(e => UTF8String.fromString(e.getKey.toString)),
          entries.map(e => toCatalyst(e.getValue, schema.getValueType)))
      case t => throw new IllegalArgumentException(s"unsupported: $t")
    }
  }

  override protected def withNewChildInternal(c: Expression): AvroDecode =
    copy(child = c)
}
