package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.github.luben.zstd.{ZstdCompressCtx, ZstdInputStreamNoFinalizer}
import net.jpountz.lz4.{LZ4Factory, LZ4FrameOutputStream}
import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
import net.jpountz.xxhash.XXHashFactory
import org.xerial.snappy.{Snappy, SnappyError, SnappyInputStream, SnappyOutputStream}

/** Every Kafka record-batch codec, by the attributes compression id:
  * 0=none, 1=gzip, 2=snappy, 3=lz4, 4=zstd. Only this object knows how an
  * id maps to a format; the codecs themselves are the JDK's gzip and the
  * zstd-jni, snappy-java and lz4-java jars Spark ships.
  *
  * What Kafka puts on the wire for record-batch magic 2:
  *  - snappy: the xerial SnappyOutputStream framing — 16-byte header
  *    (magic "\x82SNAPPY\x00", version, compat-version), then
  *    [int32-BE chunk length][raw snappy block] chunks;
  *  - lz4: the LZ4 frame format (magic 0x184D2204, FLG/BD descriptor with
  *    an xxHash32 header checksum, blocks, EndMark, optional content
  *    xxHash32);
  *  - zstd: a standard zstd frame.
  *
  * Decoding is bounded on hostile input: every decoder writes through one
  * [[MaxOut]]-capped buffer, and every failure reaches callers as an
  * `IOException`, whatever the library throws.
  */
object KafkaCompress {

  /** Decompression bomb guard: a single record batch legitimately tops out
    * around the broker's message.max.bytes (default ~1 MB, commonly raised
    * to 10s of MB); 256 MB of output from one batch is corruption.
    */
  val MaxOut: Int = 256 << 20

  private def fail(msg: String): Nothing = throw new IOException(msg)

  private def overCap(codec: Int): Nothing =
    fail(s"${name(codec)}: output exceeds the $MaxOut-byte cap (MaxOut)")

  private def name(codec: Int): String = codec match {
    case 1 => "gzip"; case 2 => "snappy"; case 3 => "lz4"; case 4 => "zstd"
    case _ => s"codec#$codec"
  }

  /** `in` in the format of codec id `codec`; an id outside 0-4 is a
    * caller error (IllegalArgumentException).
    */
  def compress(codec: Int, in: Array[Byte]): Array[Byte] = codec match {
    case 0 => in
    case 1 | 2 | 3 => typed(codec) {
      val bos = new ByteArrayOutputStream(in.length / 2 + 64)
      val s = codec match {
        case 1 => new GZIPOutputStream(bos)
        case 2 => new SnappyOutputStream(bos)
        case _ => new LZ4FrameOutputStream(bos, BLOCKSIZE.SIZE_64KB,
          FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM)
      }
      s.write(in); s.close()
      bos.toByteArray
    }
    case 4 => typed(codec) {
      val ctx = new ZstdCompressCtx().setChecksum(true)
      try ctx.compress(in) finally ctx.close()
    }
    case c => throw new IllegalArgumentException(s"unsupported encode codec $c")
  }

  /** The bytes `in` decodes to under codec id `codec`. Corrupt input, an
    * unknown id, or more than [[MaxOut]] bytes of output is an IOException.
    */
  def decompress(codec: Int, in: Array[Byte]): Array[Byte] = codec match {
    case 0 => in
    case 1 => typed(codec)(readCapped(codec, new GZIPInputStream(new ByteArrayInputStream(in))))
    case 2 => typed(codec) {
      checkSnappyFraming(in)
      readCapped(codec, new SnappyInputStream(new ByteArrayInputStream(in)))
    }
    case 3 => typed(codec)(lz4Frame(in))
    case 4 => typed(codec) {
      checkZstdMagic(in)
      readCapped(codec, new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(in)))
    }
    case c => fail(s"record batch uses unknown codec#$c — the protocol defines " +
      "none/gzip/snappy/lz4/zstd (all supported by this build)")
  }

  /** Library failures (zstd-jni's ZstdException, lz4-java's LZ4Exception,
    * xerial's SnappyError, buffer under-runs) as the typed IOException.
    */
  private def typed[T](codec: Int)(body: => T): T =
    try body catch {
      case e @ (_: RuntimeException | _: SnappyError) =>
        throw new IOException(s"${name(codec)}: $e", e)
    }

  /** The one output buffer every decoder writes through; it refuses to
    * grow past [[MaxOut]].
    */
  private final class CappedOutput(codec: Int) extends ByteArrayOutputStream {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (count.toLong + len > MaxOut) overCap(codec)
      super.write(b, off, len)
    }
  }

  private def readCapped(codec: Int, in: InputStream): Array[Byte] = {
    val out = new CappedOutput(codec)
    try in.transferTo(out) finally in.close()
    out.toByteArray
  }

  private val SnappyMagic: Array[Byte] = Array(0x82.toByte, 'S', 'N', 'A', 'P', 'P', 'Y', 0)

  /** Walk the xerial framing before SnappyInputStream reads it: that
    * stream sizes its buffers from the chunk lengths and the raw blocks'
    * declared lengths, reads a bad-magic input as one raw block, and
    * treats a cut chunk-length field as end of stream.
    */
  private def checkSnappyFraming(in: Array[Byte]): Unit = {
    if (in.length < 16 || !java.util.Arrays.equals(in, 0, 8, SnappyMagic, 0, 8))
      fail("snappy: bad magic (not xerial framing)")
    val buf = ByteBuffer.wrap(in, 16, in.length - 16)
    var declared = 0L
    while (buf.hasRemaining) {
      if (buf.remaining < 4) fail("snappy: truncated chunk length")
      val n = buf.getInt()
      if (n < 0 || n > buf.remaining) fail(s"snappy: bad chunk length $n")
      declared += Snappy.uncompressedLength(in, buf.position(), n) & 0xFFFFFFFFL
      if (declared > MaxOut) overCap(2)
      buf.position(buf.position() + n)
    }
  }

  private def checkZstdMagic(in: Array[Byte]): Unit = {
    val magic = if (in.length < 4) 0 else ByteBuffer.wrap(in).order(ByteOrder.LITTLE_ENDIAN).getInt
    if (magic != 0xFD2FB528 && (magic & 0xFFFFFFF0) != 0x184D2A50)
      fail(f"zstd: bad magic 0x$magic%08X")
  }

  private lazy val lz4Block = LZ4Factory.fastestInstance().safeDecompressor()
  private lazy val xxHash32 = XXHashFactory.fastestInstance().hash32()

  /** LZ4 frame reader. LZ4FrameInputStream refuses frames whose FLG lacks
    * the block-independence bit, which older producers (and the KafkaSpec
    * golden frame) write; blocks are decoded one at a time here, so such a
    * frame reads as long as no block refers back into an earlier one.
    */
  private def lz4Frame(in: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(in).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt() != 0x184D2204) fail("lz4: bad magic")
    val flg = buf.get() & 0xFF
    if ((flg >> 6) != 1) fail(s"lz4: unsupported frame version ${flg >> 6}")
    val blockChecksum = (flg & 0x10) != 0
    val contentChecksum = (flg & 0x04) != 0
    val bMaxCode = (buf.get() >> 4) & 0x7
    if (bMaxCode < 4) fail(s"lz4: bad block max code $bMaxCode")
    val blockMax = 1 << (8 + 2 * bMaxCode) // 4→64KB … 7→4MB
    val declared = if ((flg & 0x08) != 0) buf.getLong() else -1L
    if ((flg & 0x01) != 0) buf.getInt() // dictionary id
    val hc = buf.get() & 0xFF
    if (hc != ((xxHash32.hash(in, 4, buf.position() - 5, 0) >> 8) & 0xFF))
      fail("lz4: header checksum mismatch")
    if (declared > MaxOut) overCap(3)
    val out = new CappedOutput(3)
    val block = new Array[Byte](blockMax)
    var word = buf.getInt()
    while (word != 0) {
      val n = word & 0x7FFFFFFF
      if (n > blockMax || n > buf.remaining) fail(s"lz4: bad block length $n")
      val off = buf.position()
      if (word < 0) out.write(in, off, n) // stored block (high bit set)
      else out.write(block, 0, lz4Block.decompress(in, off, n, block, 0, blockMax))
      buf.position(off + n)
      if (blockChecksum && buf.getInt() != xxHash32.hash(in, off, n, 0))
        fail("lz4: block checksum mismatch")
      word = buf.getInt()
    }
    val result = out.toByteArray
    if (contentChecksum && buf.getInt() != xxHash32.hash(result, 0, result.length, 0))
      fail("lz4: content checksum mismatch")
    if (declared >= 0 && result.length != declared)
      fail(s"lz4: decoded ${result.length} bytes, declared $declared")
    result
  }
}
