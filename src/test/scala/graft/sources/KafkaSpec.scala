package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Kafka wire protocol (graft.sources.Kafka): codec goldens against the
  * public spec (varint zigzag, CRC32C, record batch v2 layout), a scripted
  * in-process broker speaking Metadata v0 / ListOffsets v1 / Fetch v4 /
  * Produce v3 over a real ServerSocket, client round-trips, the
  * partition-parallel offset-range planning that makes the source
  * replayable, and a full declared-app e2e (source + sink).
  */
class KafkaSpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  // ---- scripted broker ----------------------------------------------------

  /** The embedded wire-protocol broker now lives in main scope
    * (graft.sources.EmbeddedKafkaBroker) so the q_kafka_batch oracle row
    * and demos share the exact implementation these protocol e2es pin.
    */
  type ScriptedBroker = EmbeddedKafkaBroker

  // ---- codec goldens ------------------------------------------------------

  test("codec: zigzag varints and CRC32C match the public spec") {
    def varintBytes(v: Int): Seq[Int] = {
      val w = new KafkaCodec.Writer; w.varint(v)
      w.result().map(_ & 0xFF).toSeq
    }
    // zigzag: 0→0, −1→1, 1→2, −2→3, 300→600 = 0xD8 0x04
    assert(varintBytes(0) == Seq(0x00))
    assert(varintBytes(-1) == Seq(0x01))
    assert(varintBytes(1) == Seq(0x02))
    assert(varintBytes(-2) == Seq(0x03))
    assert(varintBytes(300) == Seq(0xD8, 0x04))
    def rt(v: Int): Int = {
      val w = new KafkaCodec.Writer; w.varint(v)
      new KafkaCodec.Reader(ByteBuffer.wrap(w.result())).varint()
    }
    Seq(0, 1, -1, 63, 64, -64, -65, Int.MaxValue, Int.MinValue).foreach(v =>
      assert(rt(v) == v, s"varint round-trip $v"))
    // the canonical CRC32C check vector
    val crc = new java.util.zip.CRC32C
    crc.update("123456789".getBytes(UTF_8))
    assert(crc.getValue == 0xE3069283L)
  }

  test("codec: record batch v2 layout, round trip, truncated tail, bad codec") {
    val recs = Seq[(Array[Byte], Array[Byte])](
      ("k1".getBytes(UTF_8), "hello".getBytes(UTF_8)),
      (null, "world".getBytes(UTF_8)))
    val batch = KafkaCodec.encodeBatch(42L, 1723640000123L, recs)
    // layout: baseOffset at 0, magic=2 at byte 16
    val bb = ByteBuffer.wrap(batch)
    assert(bb.getLong(0) == 42L)
    assert(batch(16) == 2.toByte)
    val decoded = KafkaCodec.decodeBatches(batch)
    assert(decoded.map(_.offset) == Seq(42L, 43L))
    assert(decoded.map(r => Option(r.key).map(new String(_, UTF_8))) ==
      Seq(Some("k1"), None))
    assert(decoded.map(r => new String(r.value, UTF_8)) == Seq("hello", "world"))
    assert(decoded.forall(_.timestampMs == 1723640000123L))
    // two concatenated batches decode in sequence
    val two = batch ++ KafkaCodec.encodeBatch(44L, 1L, Seq((null, "x".getBytes(UTF_8))))
    assert(KafkaCodec.decodeBatches(two).map(_.offset) == Seq(42L, 43L, 44L))
    // a truncated trailing batch is skipped (the next fetch re-reads it)
    assert(KafkaCodec.decodeBatches(two.dropRight(5)).map(_.offset) == Seq(42L, 43L))
    // corrupt a payload byte → CRC32C failure is loud
    val corrupt = batch.clone(); corrupt(batch.length - 1) = (corrupt(batch.length - 1) ^ 0x01).toByte
    intercept[java.io.IOException](KafkaCodec.decodeBatches(corrupt))
    // unknown codec id (attributes value 7) is a typed error
    val badCodec = batch.clone()
    badCodec(22) = 7 // attributes int16 low byte at offset 21..22
    val e = intercept[java.io.IOException](KafkaCodec.decodeBatches(fixCrc(badCodec)))
    assert(e.getMessage.contains("codec#7"))
    // CONTROL batch (attributes bit 5): whole batch skipped, no garbage rows
    val ctl = batch.clone()
    ctl(22) = (ctl(22) | 0x20).toByte
    assert(KafkaCodec.decodeBatches(fixCrc(ctl)).isEmpty)
    // ...and a control batch between two data batches drops only itself
    val mixed = batch ++ fixCrc(ctl) ++ KafkaCodec.encodeBatch(50L, 1L,
      Seq((null, "after".getBytes(UTF_8))))
    assert(KafkaCodec.decodeBatches(mixed).map(_.offset) == Seq(42L, 43L, 50L))
  }

  /** Recompute the CRC32C field after hand-editing a batch. */
  private def fixCrc(batch: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32C
    crc.update(batch, 21, batch.length - 21)
    val out = batch.clone()
    val v = crc.getValue.toInt
    out(17) = (v >> 24).toByte; out(18) = (v >> 16).toByte
    out(19) = (v >> 8).toByte; out(20) = v.toByte
    out
  }

  /** `plain`'s header with `section` as its records section under codec
    * id `codec`, batchLength and CRC32C patched to match.
    */
  private def withSection(plain: Array[Byte], section: Array[Byte],
                          codec: Int): Array[Byte] = {
    val headerLen = 61 // batch header through recordCount
    val out = java.util.Arrays.copyOfRange(plain, 0, headerLen) ++ section
    val bb = ByteBuffer.wrap(out)
    bb.putInt(8, out.length - 12)
    bb.putShort(21, codec.toShort)
    fixCrc(out)
  }

  test("codec: gzip-compressed batches inflate with the JDK codec") {
    val plain = KafkaCodec.encodeBatch(7L, 5L,
      Seq((null, "aaa".getBytes(UTF_8)), (null, "bbb".getBytes(UTF_8))))
    // rebuild as a gzip batch: header fields unchanged except attributes=1,
    // records section gzipped
    val records = java.util.Arrays.copyOfRange(plain, 61, plain.length)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(records); gz.close()
    val decoded = KafkaCodec.decodeBatches(withSection(plain, bos.toByteArray, 1))
    assert(decoded.map(r => new String(r.value, UTF_8)) == Seq("aaa", "bbb"))
    assert(decoded.map(_.offset) == Seq(7L, 8L))
  }

  test("codec: a gzip batch inflating past MaxOut fails typed at the cap") {
    // ~300 KB of gzip that inflates to 300 MiB of zeros
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    val zeros = new Array[Byte](1 << 20)
    for (_ <- 0 until 300) gz.write(zeros)
    gz.close()
    val plain = KafkaCodec.encodeBatch(0L, 0L, Seq((null, "x".getBytes(UTF_8))))
    val e = intercept[java.io.IOException](
      KafkaCodec.decodeBatches(withSection(plain, bos.toByteArray, 1)))
    assert(e.getMessage.contains(s"${KafkaCompress.MaxOut}-byte cap"), e.getMessage)
  }

  test("codec: lengths past the bytes left fail typed, not as allocations") {
    val plain = KafkaCodec.encodeBatch(0L, 0L, Seq((null, "x".getBytes(UTF_8))))
    // one record whose key length claims Int.MaxValue bytes
    val r = new KafkaCodec.Writer
    r.int8(0).varlong(0L).varint(0).varint(Int.MaxValue)
    val rec = r.result()
    val w = new KafkaCodec.Writer
    w.varint(rec.length).raw(rec)
    val e = intercept[java.io.IOException](
      KafkaCodec.decodeBatches(withSection(plain, w.result(), 0)))
    assert(e.getMessage.contains("key length"), e.getMessage)
    // a record count far past the records section
    val many = plain.clone()
    ByteBuffer.wrap(many).putInt(57, Int.MaxValue)
    val e2 = intercept[java.io.IOException](KafkaCodec.decodeBatches(fixCrc(many)))
    assert(e2.getMessage.contains("record count"), e2.getMessage)
  }

  /** A raw snappy block in a one-chunk xerial frame (Kafka's snappy framing). */
  private def xerial(block: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(20 + block.length)
      .put(Array[Byte](0x82.toByte, 'S', 'N', 'A', 'P', 'P', 'Y', 0))
      .putInt(1).putInt(1) // version, compatible version
      .putInt(block.length).put(block)
      .array()

  test("snappy raw block: golden vectors — literals, copy1 overlap, copy2") {
    import graft.sources.KafkaCompress.decompress
    // "abcdabcdabcd": varint len 12; literal "abcd" (tag (4-1)<<2=0x0C);
    // copy1 len 8 offset 4 (tag ((8-4)<<2)|1 = 0x11, offset byte 0x04) —
    // offset < length exercises the overlapping repeat-copy
    val v1 = Array[Byte](0x0C, 0x0C, 'a', 'b', 'c', 'd', 0x11, 0x04)
    assert(new String(decompress(2, xerial(v1)), UTF_8) == "abcdabcdabcd")
    // "xyxyxy": varint 6; literal "xy" (0x04); copy2 len 4 offset 2
    // (tag ((4-1)<<2)|2 = 0x0E, offset LE 02 00)
    val v2 = Array[Byte](0x06, 0x04, 'x', 'y', 0x0E, 0x02, 0x00)
    assert(new String(decompress(2, xerial(v2)), UTF_8) == "xyxyxy")
    // a literal-only block decodes to itself, in the >60-byte
    // extended-length literal form: varint 500 (F4 03), tag 63<<2 with
    // length-1 = 499 in 4 LE bytes
    val long = ("graft" * 100).getBytes(UTF_8)
    val enc = Array[Byte](0xF4.toByte, 0x03, 0xFC.toByte, 0xF3.toByte, 0x01, 0, 0) ++ long
    assert(decompress(2, xerial(enc)).toSeq == long.toSeq)
    // declared-length mismatch is loud
    val bad = Array[Byte](0x05, 0x0C, 'a', 'b', 'c', 'd')
    intercept[java.io.IOException](decompress(2, xerial(bad)))
  }

  test("codec: snappy framing is bounded before the library sizes its buffers") {
    import graft.sources.KafkaCompress.decompress
    def err(in: Array[Byte]): String =
      intercept[java.io.IOException](decompress(2, in)).getMessage
    // not xerial-framed: a raw block declaring 1 GiB (varint 80 80 80 80 04)
    assert(err(Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte,
      0x04, 0x00)).contains("magic"))
    // a chunk whose block declares 400 MiB (varint 80 80 80 C8 01)
    assert(err(xerial(Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte,
      0xC8.toByte, 0x01, 0x00, 'a'))).contains("cap"))
    // a chunk running past the end, and a cut chunk-length field
    val one = xerial(Array[Byte](0x01, 0x00, 'a'))
    assert(new String(decompress(2, one), UTF_8) == "a")
    assert(err(one.dropRight(1)).contains("chunk length"))
    assert(err(one ++ Array[Byte](0, 0)).contains("chunk length"))
  }

  test("lz4 block + frame: golden vector, stored blocks, checksums verify") {
    import graft.sources.KafkaCompress.{compress, decompress}
    val xxHash32 = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
    // the xxHash spec vector: the checksum function the frame below uses
    assert(xxHash32.hash("abc".getBytes(UTF_8), 0, 3, 0) == 0x32D153FF)
    // block: seq1 = lit "abcd" + match len 8 off 4 (token 0x44);
    // seq2 = last sequence, literals-only "ZZZZZ" (token 0x50)
    val blk = Array[Byte](0x44, 'a', 'b', 'c', 'd', 0x04, 0x00,
      0x50, 'Z', 'Z', 'Z', 'Z', 'Z')
    // frame round-trip through the encoder (content checksum on)
    val payload = ("kafka lz4 frame " * 50).getBytes(UTF_8)
    val framed = compress(3, payload)
    assert(decompress(3, framed).toSeq == payload.toSeq)
    // hand-build a frame whose single block is lz4-COMPRESSED (the golden
    // block above) so the compressed-block path runs under the frame parser
    val content = "abcdabcdabcdZZZZZ".getBytes(UTF_8)
    val hdr = Array[Byte](((1 << 6) | 0x04).toByte, (4 << 4).toByte)
    val hc = ((xxHash32.hash(hdr, 0, 2, 0) >> 8) & 0xFF).toByte
    val bb = java.nio.ByteBuffer.allocate(4 + 2 + 1 + 4 + blk.length + 4 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x184D2204).put(hdr).put(hc)
      .putInt(blk.length) // high bit clear = compressed block
      .put(blk)
      .putInt(0) // EndMark
      .putInt(xxHash32.hash(content, 0, content.length, 0))
    val gold = bb.array()
    assert(decompress(3, gold).toSeq == content.toSeq)
    // corrupt the content checksum → loud
    val corrupt = gold.clone(); corrupt(gold.length - 1) = (corrupt(gold.length - 1) ^ 1).toByte
    intercept[java.io.IOException](decompress(3, corrupt))
    // corrupt the header checksum byte → loud
    val badHc = gold.clone(); badHc(6) = (badHc(6) ^ 1).toByte
    intercept[java.io.IOException](decompress(3, badHc))
  }

  test("round-11 encoders: snappy/lz4 round-trip AND compress repetitive payloads") {
    import graft.sources.KafkaCompress.{compress, decompress}
    // repetitive payload: the encoders must SHRINK it
    val rep = ("the quick brown fox " * 400).getBytes(UTF_8) // 8000 bytes
    val sStream = compress(2, rep)
    assert(decompress(2, sStream).toSeq == rep.toSeq)
    assert(sStream.length < rep.length / 4,
      s"snappy: ${sStream.length} bytes for ${rep.length} repetitive input")
    val lFrame = compress(3, rep)
    assert(decompress(3, lFrame).toSeq == rep.toSeq)
    assert(lFrame.length < rep.length / 4,
      s"lz4: ${lFrame.length} bytes for ${rep.length} repetitive input")
    // varied shapes round-trip bit-exactly: empty, tiny, just-under/over
    // the end-of-block guards, incompressible (xorshift bytes), >1 chunk
    val rnd = {
      var x = 0x2545F4914F6CDD1DL
      Array.fill(200000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; (x & 0xFF).toByte }
    }
    val shapes = Seq(
      Array.empty[Byte], "a".getBytes(UTF_8), "abcd".getBytes(UTF_8),
      "abcdabcd".getBytes(UTF_8), ("xy" * 6).getBytes(UTF_8),
      ("z" * 11).getBytes(UTF_8), ("z" * 13).getBytes(UTF_8),
      ("block" * 70).getBytes(UTF_8), rnd.take(64), rnd.take(65536 + 17), rnd)
    shapes.foreach { p =>
      val ss = compress(2, p)
      assert(decompress(2, ss).toSeq == p.toSeq,
        s"snappy stream round-trip failed at len ${p.length}")
      val lf = compress(3, p)
      assert(decompress(3, lf).toSeq == p.toSeq,
        s"lz4 frame round-trip failed at len ${p.length}")
      // incompressible input must never blow up in size beyond the
      // formats' bounded framing overhead. The bounds are per raw block;
      // the framing adds, for xerial, a 16-byte header and a 4-byte length
      // per 32 KB chunk, and for the lz4 frame, a 7-byte header, a 4-byte
      // size per 64 KB block, the EndMark and the content checksum
      val snappyFraming = 16 + 4 * ((p.length + 32767) / 32768)
      val lz4Framing = 15 + 4 * ((p.length + 65535) / 65536)
      assert(ss.length - snappyFraming <= p.length + p.length / 6 + 16)
      assert(lf.length - lz4Framing <= p.length + p.length / 255 + 16)
    }
  }

  test("codec: snappy- and lz4-compressed record batches decode pure-JVM") {
    import graft.sources.KafkaCompress.decompress
    val recs = Seq[(Array[Byte], Array[Byte])](
      ("k".getBytes(UTF_8), "snap-or-lz4".getBytes(UTF_8)),
      (null, ("y" * 2000).getBytes(UTF_8)))
    for (codec <- Seq(2, 3)) {
      val batch = KafkaCodec.encodeBatch(9L, 77L, recs, codec = codec)
      val decoded = KafkaCodec.decodeBatches(batch)
      assert(decoded.map(_.offset) == Seq(9L, 10L))
      assert(new String(decoded.head.value, UTF_8) == "snap-or-lz4")
      assert(decoded(1).value.length == 2000)
    }
    // framing sanity: the snappy batch really is xerial-framed, the lz4
    // batch really is an LZ4 frame (magic checks on the compressed section)
    val sBatch = KafkaCodec.encodeBatch(0L, 0L, recs, codec = 2)
    val sSection = java.util.Arrays.copyOfRange(sBatch, 61, sBatch.length)
    assert((sSection(0) & 0xFF) == 0x82 && new String(
      java.util.Arrays.copyOfRange(sSection, 1, 7), UTF_8) == "SNAPPY")
    assert(decompress(2, sSection).nonEmpty)
    val lBatch = KafkaCodec.encodeBatch(0L, 0L, recs, codec = 3)
    val lSection = java.util.Arrays.copyOfRange(lBatch, 61, lBatch.length)
    assert(java.nio.ByteBuffer.wrap(lSection)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == 0x184D2204)
    assert(decompress(3, lSection).nonEmpty)
    // the frame declares independent blocks (FLG bit 0x20), so lz4-java's
    // own frame reader, which refuses linked-block frames, reads it too
    assert((lSection(4) & 0x20) != 0, f"lz4 FLG ${lSection(4)}%02x")
    val lz4In = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(lSection))
    try assert(lz4In.readAllBytes().toSeq == decompress(3, lSection).toSeq)
    finally lz4In.close()
  }

  test("codec: zstd-compressed record batches round-trip pure-JVM (round 12)") {
    val recs = Seq[(Array[Byte], Array[Byte])](
      ("k".getBytes(UTF_8), "zstd-payload".getBytes(UTF_8)),
      (null, ("z" * 4000).getBytes(UTF_8)))
    val batch = KafkaCodec.encodeBatch(9L, 77L, recs, codec = 4)
    val decoded = KafkaCodec.decodeBatches(batch)
    assert(decoded.map(_.offset) == Seq(9L, 10L))
    assert(new String(decoded.head.value, UTF_8) == "zstd-payload")
    assert(decoded(1).value.length == 4000)
    // framing sanity: the compressed section is a real zstd frame (magic)
    // and the repetitive payload genuinely shrank
    val section = java.util.Arrays.copyOfRange(batch, 61, batch.length)
    assert(java.nio.ByteBuffer.wrap(section)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == 0xFD2FB528)
    assert(section.length < 2000, s"4k of 'z' should compress: ${section.length}")
    assert(KafkaCompress.decompress(4, section).nonEmpty)
  }

  test("sink compression option: name mapping and zstd produce round-trip") {
    import graft.sources.KafkaForeachWriter.codecOf
    assert(codecOf("none") == 0 && codecOf("") == 0 && codecOf("GZIP") == 1 &&
      codecOf("snappy") == 2 && codecOf("lz4") == 3 && codecOf(" zstd ") == 4)
    val e = intercept[IllegalArgumentException](codecOf("brotli"))
    assert(e.getMessage.contains("brotli"))
    // every codec id round-trips the same records through encode/decode
    val recs = Seq[(Array[Byte], Array[Byte])](
      (null, ("v" * 500).getBytes(UTF_8)), ("k".getBytes(UTF_8), "w".getBytes(UTF_8)))
    for (codec <- 0 to 4) {
      val decoded = KafkaCodec.decodeBatches(
        KafkaCodec.encodeBatch(3L, 9L, recs, codec = codec))
      assert(decoded.map(r => new String(r.value, UTF_8)) == Seq("v" * 500, "w"),
        s"codec $codec")
    }
  }

  test("codec property: arbitrary record batches round-trip bit-exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genBytes: Gen[Array[Byte]] = Gen.frequency(
      1 -> Gen.const(null.asInstanceOf[Array[Byte]]),
      2 -> Gen.const(Array.emptyByteArray),
      7 -> Gen.choose(1, 300).flatMap(n =>
        Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))
    val genRecords = for {
      n <- Gen.choose(1, 40)
      recs <- Gen.listOfN(n, Gen.zip(genBytes, genBytes))
    } yield recs
    val p = Prop.forAll(genRecords, Gen.choose(0L, 1L << 40),
        Gen.choose(0L, 2000000000000L)) { (recs, base, ts) =>
      val decoded = KafkaCodec.decodeBatches(
        KafkaCodec.encodeBatch(base, ts, recs))
      decoded.length == recs.length &&
        decoded.zipWithIndex.forall { case (r, i) =>
          r.offset == base + i && r.timestampMs == ts &&
            java.util.Arrays.equals(r.key, recs(i)._1) &&
            java.util.Arrays.equals(r.value, recs(i)._2)
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // ---- client ↔ broker ----------------------------------------------------

  test("client: metadata, listOffsets, produce, fetch round-trip a scripted broker") {
    val broker = new ScriptedBroker("t1", 2)
    broker.seed(0, "a", "b", "c")
    try {
      val c = new KafkaClient("127.0.0.1", broker.port)
      c.connect()
      try {
        assert(c.partitionLeaders("t1") ==
          Map(0 -> ("127.0.0.1", broker.port), 1 -> ("127.0.0.1", broker.port)))
        assert(c.listOffsets("t1", Seq(0, 1), -2L) == Map(0 -> 0L, 1 -> 0L))
        assert(c.listOffsets("t1", Seq(0, 1), -1L) == Map(0 -> 3L, 1 -> 0L))
        // fetch from the middle: batch-granularity filtering applies
        val (recs, hw) = c.fetch("t1", 0, 1L)
        assert(hw == 3L)
        assert(recs.map(r => new String(r.value, UTF_8)) == Seq("b", "c"))
        assert(recs.map(_.offset) == Seq(1L, 2L))
        // produce appends and round-trips through the broker's re-decode
        val base = c.produce("t1", 1, Seq(
          ("k".getBytes(UTF_8), "x".getBytes(UTF_8)), (null, "y".getBytes(UTF_8))))
        assert(base == 0L)
        assert(broker.values(1) == Seq("x", "y"))
        assert(c.listOffsets("t1", Seq(1), -1L) == Map(1 -> 2L))
      } finally c.close()
    } finally broker.close()
  }

  test("source planning: per-partition offset ranges, replayable, serializable offsets") {
    val broker = new ScriptedBroker("t2", 3)
    broker.seed(0, "p0a", "p0b")
    broker.seed(2, "p2a")
    try {
      val stream = new KafkaMicroBatchStream("127.0.0.1", broker.port, "t2", "earliest")
      try {
        val start = stream.initialOffset().asInstanceOf[KafkaOffsets]
        assert(start.parts == Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
        val end = stream.latestOffset().asInstanceOf[KafkaOffsets]
        assert(end.parts == Map(0 -> 2L, 1 -> 0L, 2 -> 1L))
        // offsets survive the checkpoint JSON round trip
        assert(stream.deserializeOffset(end.json()) == end)
        // one task per partition WITH data, each an exact range
        val parts = stream.planInputPartitions(start, end)
          .map(_.asInstanceOf[KafkaRangePartition])
        assert(parts.map(p => (p.partition, p.startOffset, p.endOffset)).toSet ==
          Set((0, 0L, 2L), (2, 0L, 1L)))
        // REPLAY: planning the same committed range again returns the same
        // work — the guarantee the driver-buffered transports cannot give
        val replay = stream.planInputPartitions(start, end)
          .map(_.asInstanceOf[KafkaRangePartition])
        assert(replay.toSeq == parts.toSeq)
        // the reader serves exactly the planned range, not the live log
        broker.seed(0, "p0c") // arrives after planning
        val reader = new KafkaReaderFactory().createReader(parts.find(_.partition == 0).get)
        val got = scala.collection.mutable.ArrayBuffer.empty[String]
        while (reader.next()) got += reader.get().getUTF8String(1).toString
        reader.close()
        assert(got.toSeq == Seq("p0a", "p0b"))
      } finally stream.stop()
    } finally broker.close()
  }

  test("kafka SASL/PLAIN: handshake + authenticate; bad credentials fail typed") {
    val broker = new ScriptedBroker("auth", 1)
    broker.seed(0, "a1")
    try {
      val c = new KafkaClient("127.0.0.1", broker.port)
      c.connect()
      try {
        c.saslPlain("alice", "secret")
        // the authenticated connection serves the data APIs as usual
        assert(c.listOffsets("auth", Seq(0), -1L) == Map(0 -> 1L))
      } finally c.close()
      val bad = new KafkaClient("127.0.0.1", broker.port)
      bad.connect()
      try {
        val e = intercept[java.io.IOException](bad.saslPlain("alice", "wrong"))
        assert(e.getMessage.contains("authentication failed") &&
          e.getMessage.contains("bad credentials"))
      } finally bad.close()
      // connect() runs SASL automatically when credentials are configured
      // (the option path the source/sink take)
      val auto = new KafkaClient("127.0.0.1", broker.port,
        sasl = Some("alice" -> "secret"))
      auto.connect()
      try assert(auto.listOffsets("auth", Seq(0), -2L) == Map(0 -> 0L))
      finally auto.close()
      // provider-level config validation: a user without a password is loud
      intercept[IllegalArgumentException] {
        new KafkaSourceProvider().getTable(null, Array.empty,
          scala.jdk.CollectionConverters.MapHasAsJava(Map(
            "brokers" -> "h:1", "topic" -> "t",
            "sasl.user" -> "alice")).asJava)
      }
    } finally broker.close()
  }

  test("kafka over TLS: consume and produce against an in-process TLS broker") {
    // keystore + server context (the wss/amqps recipe)
    val dir = java.nio.file.Files.createTempDirectory("graft-kafka-tls")
    val ks = dir.resolve("kafka.p12").toString
    val keytool = new java.io.File(
      System.getProperty("java.home"), "bin/keytool").getAbsolutePath
    assert(new ProcessBuilder(keytool, "-genkeypair", "-alias", "kafka",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "30",
      "-dname", "CN=localhost", "-ext", "san=ip:127.0.0.1,dns:localhost",
      "-keystore", ks, "-storetype", "PKCS12", "-storepass", "changeit")
      .redirectErrorStream(true).start().waitFor() == 0)
    val kstore = java.security.KeyStore.getInstance("PKCS12")
    val fin = new java.io.FileInputStream(ks)
    try kstore.load(fin, "changeit".toCharArray) finally fin.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(kstore, "changeit".toCharArray)
    val sctx = javax.net.ssl.SSLContext.getInstance("TLS")
    sctx.init(kmf.getKeyManagers, null, null)
    val broker = new ScriptedBroker("sec", 1,
      _ => sctx.getServerSocketFactory.createServerSocket(0))
    broker.seed(0, "s1", "s2")
    try {
      // default chain rejects the self-signed broker
      intercept[java.io.IOException] {
        val c = new KafkaClient("127.0.0.1", broker.port, tls = true)
        try { c.connect(); c.partitionLeaders("sec") } finally c.close()
      }
      // pinned truststore: metadata + fetch + produce over TLS
      val c = new KafkaClient("127.0.0.1", broker.port, tls = true,
        trustStore = Some(ks -> "changeit"))
      c.connect()
      try {
        assert(c.partitionLeaders("sec").keySet == Set(0))
        val (recs, hw) = c.fetch("sec", 0, 0L)
        assert(hw == 2L &&
          recs.map(r => new String(r.value, UTF_8)) == Seq("s1", "s2"))
        c.produce("sec", 0, Seq((null, "s3".getBytes(UTF_8))))
        assert(broker.values(0) == Seq("s1", "s2", "s3"))
      } finally c.close()
      // NOTE: the fetch task path uses the same client + the tls fields on
      // KafkaRangePartition — exercised via the reader factory too
      val part = KafkaRangePartition("127.0.0.1", broker.port, "sec", 0, 0L, 3L,
        tls = true, trustStore = Some(ks -> "changeit"))
      val reader = new KafkaReaderFactory().createReader(part)
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      while (reader.next()) got += reader.get().getUTF8String(1).toString
      reader.close()
      assert(got.toSeq == Seq("s1", "s2", "s3"))
    } finally broker.close()
  }

  test("batch read: one pinned topic snapshot, one task per partition") {
    val broker = new ScriptedBroker("snap", 3)
    broker.seed(0, "x1", "x2")
    broker.seed(2, "z1")
    try {
      val df = spark.read
        .format(classOf[KafkaSourceProvider].getName)
        .option("brokers", s"127.0.0.1:${broker.port}")
        .option("topic", "snap")
        .load()
      assert(df.rdd.getNumPartitions == 2) // only partitions WITH data
      val rows = df.collect()
        .map(r => (r.getInt(2), r.getLong(3), r.getString(1))).sorted
      assert(rows.toSeq == Seq((0, 0L, "x1"), (0, 1L, "x2"), (2, 0L, "z1")))
    } finally broker.close()
  }

  test("checkpointed restart REPLAYS: stop mid-stream, restart, no loss, no duplicates") {
    val broker = new ScriptedBroker("ck", 2)
    broker.seed(0, "a1", "a2")
    broker.seed(1, "b1")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("kafka-out").toString
    def readSource() = spark.readStream
      .format(classOf[KafkaSourceProvider].getName)
      .option("brokers", s"127.0.0.1:${broker.port}")
      .option("topic", "ck")
      .load().selectExpr("value")
    try {
      val q1 = readSource().writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try q1.processAllAvailable() finally q1.stop()
      assert(spark.read.parquet(outDir).collect().map(_.getString(0)).sorted.toSeq
        == Seq("a1", "a2", "b1"))
      // messages arrive while NO query is running...
      broker.seed(0, "a3")
      broker.seed(1, "b2")
      // ...and the restarted query resumes from the CHECKPOINTED offsets:
      // exactly the new messages, nothing lost, nothing re-emitted — the
      // guarantee the driver-buffered transports document they cannot give
      val q2 = readSource().writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try q2.processAllAvailable() finally q2.stop()
      val all = spark.read.parquet(outDir).collect().map(_.getString(0)).sorted.toSeq
      assert(all == Seq("a1", "a2", "a3", "b1", "b2"))
    } finally broker.close()
  }

  test("declared app e2e: kafka source through the csv mapper, kafka sink back out") {
    import graft.sql.{AppRuntime, GraftApp}
    val broker = new ScriptedBroker("ticks", 2)
    broker.seed(0, "IBM,100.5", "MSFT,50.25")
    broker.seed(1, "IBM,7.5")
    try {
      val app =
        s"""CREATE STREAM ticks (symbol STRING, price DOUBLE)
           |WITH ('type'='source', 'format'='kafka',
           |      'brokers'='127.0.0.1:${broker.port}', 'topic'='ticks',
           |      'map.format'='csv');
           |CREATE STREAM agg (symbol STRING, total DOUBLE);
           |INSERT INTO agg SELECT symbol, sum(price) AS total FROM ticks GROUP BY symbol;""".stripMargin
      val spec = GraftApp.parse(app)
      val env = GraftApp.run(spark, app, AppRuntime.bindSources(spark, spec))
      val q = env("agg").writeStream.format("memory").queryName("kafka_src_sink")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        var rows = spark.table("kafka_src_sink").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(rows == Map("IBM" -> 108.0, "MSFT" -> 50.25))
        // live append: the next micro-batch picks up exactly the new offsets
        broker.seed(1, "MSFT,1.75")
        q.processAllAvailable()
        rows = spark.table("kafka_src_sink").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(rows == Map("IBM" -> 108.0, "MSFT" -> 52.0))
      } finally q.stop()
      // sink half: produce query results back to a second topic
      val out = new ScriptedBroker("out", 1)
      try {
        import spark.implicits._
        val sinkApp =
          s"""CREATE STREAM lines (value STRING)
             |WITH ('type'='sink', 'format'='kafka',
             |      'brokers'='127.0.0.1:${out.port}', 'topic'='out');""".stripMargin
        val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](spark)
        src.addData("r1", "r2", "r3")
        val qs = AppRuntime.startSinks(GraftApp.parse(sinkApp),
          Map("lines" -> src.toDF().selectExpr("value")))
        try {
          qs.foreach(_.processAllAvailable())
          assert(out.values(0).sorted == Seq("r1", "r2", "r3"))
        } finally qs.foreach(_.stop())
      } finally out.close()
    } finally broker.close()
  }
}
