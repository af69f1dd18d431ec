package graft.functions

import java.nio.ByteBuffer

import scala.util.control.NonFatal

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory

/**
 * Confluent-wire-format Avro decode for [[BruteForce.withDecoded]]
 * (reference `BruteForceSerde`'s schema-registry-Avro first tier, SURVEY §2.2
 * T18): byte 0 is the magic 0, bytes 1-4 the big-endian schema id, the rest
 * binary Avro. Schema ids resolve through the [[SchemaProvider]] seam (static
 * map by default, registry client drop-in); the record renders to its
 * compact-JSON `toString` — exactly the `ErrorUtil.toString` rendering the
 * reference uses for Avro payloads.
 *
 * Resolution + parse happen lazily per id per executor and are memoized
 * (Avro `Schema` is not serializable across all versions; the provider is) —
 * a remote provider pays one lookup per id per executor, not per record. An
 * unresolvable id memoizes None, so unknown-id storms don't re-query.
 */
final case class AvroDecode(schemas: SchemaProvider) extends Serializable {

  @transient private lazy val readers =
    new java.util.concurrent.ConcurrentHashMap[Int, Option[GenericDatumReader[GenericRecord]]]()

  private def readerFor(id: Int): Option[GenericDatumReader[GenericRecord]] =
    readers.computeIfAbsent(id, i =>
      schemas.schemaFor(i).map(json =>
        new GenericDatumReader[GenericRecord](new Schema.Parser().parse(json))))

  /** JSON rendering of a Confluent-framed Avro payload; null when the frame,
    * id, or body doesn't decode (the caller falls through its decode chain).
    * A 5-byte frame is valid: a zero-field record's body encodes to zero
    * bytes. */
  def render(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 5 || bytes(0) != 0) null
    else {
      val id = ByteBuffer.wrap(bytes, 1, 4).getInt
      readerFor(id) match {
        case None => null
        case Some(reader) =>
          try {
            val dec = DecoderFactory.get.binaryDecoder(bytes, 5, bytes.length - 5, null)
            reader.read(null, dec).toString
          } catch { case NonFatal(_) => null }
      }
    }
  }
}

object AvroDecode {
  /** Decoder over a static id→schema map. */
  def apply(byId: Map[Int, String]): AvroDecode = AvroDecode(StaticSchemas(byId))
}
