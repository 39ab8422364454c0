package org.apache.spark

import java.io.{EOFException, InputStream, OutputStream, StreamCorruptedException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.reflect.ClassTag

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}
import org.apache.spark.util.ByteBufferInputStream

/** Shuffle serializer for `(String, String)` records: each string is a
  * varint byte length followed by its UTF-8 bytes, with no stream header
  * and no per-stream or per-record state. Kryo (the session serializer)
  * ships inside every map task's `ShuffleDependency` with an empty
  * `@transient` pool, so it builds a fresh Kryo for every reduce-partition
  * stream a task opens and resets its reference map on every record; this
  * one has nothing to build or reset. A clean end of stream raises
  * `EOFException`, which ends `asIterator`/`asKeyValueIterator`; a stream
  * cut inside a record raises `StreamCorruptedException` instead.
  *
  * Stateless, so serialized records can be concatenated and reordered:
  * `supportsRelocationOfSerializedObjects` (`private[spark]`, hence this
  * package) lets a shuffle with more than 200 reducers use
  * `UnsafeShuffleWriter`. */
object StringPairSerializer extends Serializer with Serializable {

  override def newInstance(): SerializerInstance = Instance

  override private[spark] def supportsRelocationOfSerializedObjects: Boolean = true

  private object Instance extends SerializerInstance {
    def serialize[T: ClassTag](t: T): ByteBuffer = {
      val bytes = new java.io.ByteArrayOutputStream()
      serializeStream(bytes).writeObject(t).close()
      ByteBuffer.wrap(bytes.toByteArray)
    }
    def deserialize[T: ClassTag](bytes: ByteBuffer): T =
      deserializeStream(new ByteBufferInputStream(bytes)).readObject[T]()
    def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T =
      deserialize[T](bytes)
    def serializeStream(s: OutputStream): SerializationStream = new Writer(s)
    def deserializeStream(s: InputStream): DeserializationStream = new Reader(s)
  }

  private final class Writer(out: OutputStream) extends SerializationStream {
    private val len = new Array[Byte](5)

    def writeObject[T: ClassTag](t: T): SerializationStream = {
      val bytes = t.asInstanceOf[String].getBytes(UTF_8)
      var n = bytes.length
      var i = 0
      while ((n & ~0x7f) != 0) {
        len(i) = ((n & 0x7f) | 0x80).toByte
        n >>>= 7
        i += 1
      }
      len(i) = n.toByte
      out.write(len, 0, i + 1)
      out.write(bytes)
      this
    }
    def flush(): Unit = out.flush()
    def close(): Unit = out.close()
  }

  private final class Reader(in: InputStream) extends DeserializationStream {
    private var buf = new Array[Byte](256)

    /** The next string; `EOFException` if the stream ends before its first
      * byte and `clean`, `StreamCorruptedException` if it ends anywhere
      * else. */
    private def read(clean: Boolean): String = {
      var n = 0
      var shift = 0
      var b = in.read()
      if (b < 0) {
        if (clean) throw new EOFException()
        throw new StreamCorruptedException("stream ends between a key and its value")
      }
      while ((b & 0x80) != 0) {
        n |= (b & 0x7f) << shift
        shift += 7
        b = in.read()
        if (b < 0 || shift > 28) throw new StreamCorruptedException("bad string length")
      }
      if (shift == 28 && b > 7) throw new StreamCorruptedException("bad string length")
      n |= b << shift
      if (n > buf.length) buf = new Array[Byte](math.max(n, buf.length * 2))
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new StreamCorruptedException(s"stream ends inside a $n-byte string")
        off += r
      }
      new String(buf, 0, n, UTF_8)
    }

    def readObject[T: ClassTag](): T = read(clean = true).asInstanceOf[T]
    override def readValue[T: ClassTag](): T = read(clean = false).asInstanceOf[T]
    def close(): Unit = in.close()
  }
}
