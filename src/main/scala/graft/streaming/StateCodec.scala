package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

/** Binary codec of one `flatMapGroupsWithState` state type. Every streaming
  * kernel stores its keyed state as ONE `BINARY` column
  * (`GroupState[Array[Byte]]` under `Encoders.BINARY`) and converts at the
  * store boundary: `state.getOption.map(codec.decode)` and
  * `state.update(codec.encode(s))`.
  *
  * Why not a case-class encoder: Spark resolves and binds the state
  * deserializer again for every micro-batch, outside the logical plan, so
  * the `MapObjects` lambda-variable ids a `Seq` field gets are fresh each
  * time and the generated class misses the codegen cache — one Janino
  * compile per state type per batch. A binary column's deserializer is the
  * same expression every batch and compiles once.
  *
  * Format: big-endian fixed-width `long`/`int`, `double` as its raw IEEE
  * bits (NaN payloads and -0.0 survive), `bool` as one 0/1 byte, a string
  * as an int byte length (-1 = null) and its UTF-8 bytes, a seq as an int
  * element count and its elements, a product as its fields in declaration
  * order. There is no framing or tag: [[StateSchema.Version]] names the
  * layout, so any change to a codec bumps it. Every value takes at least
  * one byte, so a length is bounded by the bytes left in the blob: a
  * truncated or garbled blob fails with [[StateCodec.DecodeError]], never
  * with a huge allocation.
  */
trait StateCodec[S] extends Serializable {
  def write(w: StateCodec.Writer, s: S): Unit
  def read(r: StateCodec.Reader): S

  final def encode(s: S): Array[Byte] = {
    val w = new StateCodec.Writer
    write(w, s)
    w.toBytes
  }

  final def decode(bytes: Array[Byte]): S = {
    val r = new StateCodec.Reader(bytes)
    val s = read(r)
    if (r.remaining != 0)
      throw StateCodec.DecodeError(s"${r.remaining} trailing byte(s) after the state")
    s
  }
}

object StateCodec {

  /** A state blob that does not decode: truncated, garbled, or written by
    * another layout. */
  final case class DecodeError(msg: String) extends RuntimeException(msg)

  final class Writer {
    private var buf = new Array[Byte](64)
    private var n = 0

    private def room(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))

    def long(v: Long): Unit = {
      room(8)
      var i = 0
      while (i < 8) { buf(n + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
      n += 8
    }
    def int(v: Int): Unit = {
      room(4)
      buf(n) = (v >>> 24).toByte; buf(n + 1) = (v >>> 16).toByte
      buf(n + 2) = (v >>> 8).toByte; buf(n + 3) = v.toByte
      n += 4
    }
    def double(v: Double): Unit = long(java.lang.Double.doubleToRawLongBits(v))
    def bool(v: Boolean): Unit = { room(1); buf(n) = if (v) 1 else 0; n += 1 }
    def string(v: String): Unit =
      if (v == null) int(-1)
      else {
        val b = v.getBytes(UTF_8)
        int(b.length); room(b.length)
        System.arraycopy(b, 0, buf, n, b.length); n += b.length
      }
    def seq[A](vs: Seq[A])(implicit c: StateCodec[A]): Unit = {
      int(vs.size); vs.foreach(c.write(this, _))
    }
    def apply[A](v: A)(implicit c: StateCodec[A]): Unit = c.write(this, v)

    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  final class Reader(bytes: Array[Byte]) {
    private var pos = 0

    def remaining: Int = bytes.length - pos
    private def need(k: Int, what: String): Unit =
      if (k > remaining)
        throw DecodeError(s"state blob truncated: $what needs $k byte(s) at offset " +
          s"$pos, ${remaining} left")
    /** A length prefix: at least `min`, and no more than the bytes left,
      * since every element takes at least one byte. */
    private def length(min: Int, what: String): Int = {
      val k = int()
      if (k < min || k > remaining)
        throw DecodeError(s"state blob garbled: $what length $k at offset ${pos - 4} " +
          s"(${remaining} byte(s) left)")
      k
    }

    def long(): Long = {
      need(8, "a long")
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (bytes(pos + i) & 0xffL); i += 1 }
      pos += 8
      v
    }
    def int(): Int = {
      need(4, "an int")
      val v = ((bytes(pos) & 0xff) << 24) | ((bytes(pos + 1) & 0xff) << 16) |
        ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      pos += 4
      v
    }
    def double(): Double = java.lang.Double.longBitsToDouble(long())
    def bool(): Boolean = {
      need(1, "a bool")
      val b = bytes(pos)
      if (b != 0 && b != 1)
        throw DecodeError(s"state blob garbled: bool byte $b at offset $pos")
      pos += 1
      b == 1
    }
    def string(): String = {
      val k = length(-1, "string")
      if (k < 0) null
      else { val s = new String(bytes, pos, k, UTF_8); pos += k; s }
    }
    def seq[A]()(implicit c: StateCodec[A]): Vector[A] = {
      val k = length(0, "seq")
      val b = Vector.newBuilder[A]
      var i = 0
      while (i < k) { b += c.read(this); i += 1 }
      b.result()
    }
    def apply[A]()(implicit c: StateCodec[A]): A = c.read(this)
  }

  /** A product (case class) codec from its field writer and reader; the
    * reader reads the fields in the order the writer wrote them. */
  def product[S](w: (Writer, S) => Unit)(r: Reader => S): StateCodec[S] =
    new StateCodec[S] {
      def write(wr: Writer, s: S): Unit = w(wr, s)
      def read(rd: Reader): S = r(rd)
    }

  implicit val long: StateCodec[Long] = product[Long](_.long(_))(_.long())
  implicit val int: StateCodec[Int] = product[Int](_.int(_))(_.int())
  implicit val double: StateCodec[Double] = product[Double](_.double(_))(_.double())
  implicit val bool: StateCodec[Boolean] = product[Boolean](_.bool(_))(_.bool())
  implicit val string: StateCodec[String] = product[String](_.string(_))(_.string())
  implicit def seq[A](implicit c: StateCodec[A]): StateCodec[Seq[A]] =
    product[Seq[A]](_.seq(_))(_.seq[A]())
}
