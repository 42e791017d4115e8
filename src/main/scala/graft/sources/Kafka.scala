package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{ForeachWriter, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Apache Kafka wire protocol, pure JVM — the real protocol half of the
  * reference's kafka source/sink plan (MILESTONES.md:189-206; the reference
  * itself ships only the config surface). No client library (the
  * spark-sql-kafka jar is unavailable offline — COVERAGE.md:22): this
  * implements the public Kafka protocol (kafka.apache.org/protocol)
  * directly, like the AMQP/WebSocket halves:
  *
  *  - frame grammar: 4-byte length-prefixed request/response, request
  *    header v1 (api_key, api_version, correlation_id, client_id);
  *  - APIs: Metadata v0 (partition → leader), ListOffsets v1
  *    (earliest/latest log offsets), Fetch v4 (record batches), Produce v3;
  *  - record batch format v2 (magic 2): varint/zigzag record encoding,
  *    CRC32C integrity (java.util.zip.CRC32C), and every compression codec
  *    the protocol defines (none/gzip/snappy/lz4/zstd) through
  *    [[KafkaCompress]].
  *
  * Unlike the driver-buffered WS/AMQP transports, this source is a REAL
  * partitioned, replayable micro-batch stream: offsets are per-partition
  * longs checkpointed by Spark, `planInputPartitions` hands each task an
  * exact (partition, startOffset, endOffset) range, and every task opens
  * its own broker connection — the executor-parallel, restart-safe shape a
  * 100 TB feed needs (one Spark task per Kafka partition, no driver
  * buffer, no data loss on restart).
  */
object KafkaCodec {

  val ApiProduce = 0; val ApiFetch = 1; val ApiListOffsets = 2; val ApiMetadata = 3
  val ApiSaslHandshake = 17; val ApiSaslAuthenticate = 36

  /** v2 batch bytes after baseOffset and batchLength, through recordCount. */
  private val BatchHeaderLen = 49

  final case class KRecord(offset: Long, timestampMs: Long,
                           key: Array[Byte], value: Array[Byte])

  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def int8(v: Int): Writer = { out.write(v & 0xFF); this }
    def int16(v: Int): Writer = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF); this }
    def int32(v: Int): Writer = {
      out.write((v >> 24) & 0xFF); out.write((v >> 16) & 0xFF)
      out.write((v >> 8) & 0xFF); out.write(v & 0xFF); this
    }
    def int64(v: Long): Writer = { int32((v >> 32).toInt); int32(v.toInt); this }
    def string(s: String): Writer = {
      val b = s.getBytes(UTF_8); int16(b.length); raw(b)
    }
    def nullableString(s: Option[String]): Writer =
      s.map(string).getOrElse(int16(-1))
    def bytes(b: Array[Byte]): Writer =
      if (b == null) int32(-1) else { int32(b.length); raw(b) }
    /** zigzag varint (Kafka record fields). */
    def varint(v: Int): Writer = uvarlong(((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL)
    def varlong(v: Long): Writer = uvarlong((v << 1) ^ (v >> 63))
    private def uvarlong(v0: Long): Writer = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt); this
    }
    def raw(b: Array[Byte]): Writer = { out.write(b); this }
    def size: Int = out.size
    def result(): Array[Byte] = out.toByteArray
  }

  final class Reader(val buf: ByteBuffer) {
    def int8(): Int = buf.get().toInt
    def int16(): Int = buf.getShort().toInt
    def int32(): Int = buf.getInt()
    def int64(): Long = buf.getLong()
    def string(): String = {
      val n = int16()
      val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8)
    }
    def nullableString(): Option[String] = {
      val n = int16()
      if (n < 0) None
      else { val b = new Array[Byte](n); buf.get(b); Some(new String(b, UTF_8)) }
    }
    def bytes(): Array[Byte] = sized(int32(), "bytes")
    /** `n` bytes, or null for a negative (null) length. A length past the
      * end of the buffer is a typed error, not an allocation.
      */
    def sized(n: Int, what: String): Array[Byte] =
      if (n < 0) null else { val b = new Array[Byte](need(n, what)); buf.get(b); b }
    def skip(n: Int, what: String): Unit =
      if (n > 0) buf.position(buf.position() + need(n, what))
    def need(n: Int, what: String): Int = {
      if (n < 0 || n > buf.remaining())
        throw new java.io.IOException(s"$what length $n exceeds the ${buf.remaining()} bytes left")
      n
    }
    def varint(): Int = { val v = uvarlong(); ((v >>> 1) ^ -(v & 1)).toInt }
    def varlong(): Long = { val v = uvarlong(); (v >>> 1) ^ -(v & 1) }
    private def uvarlong(): Long = {
      var v = 0L; var shift = 0; var b = 0
      do {
        if (!buf.hasRemaining) throw new java.io.IOException("truncated varint")
        b = buf.get() & 0xFF
        v |= (b & 0x7FL) << shift; shift += 7
        if (shift > 63) throw new java.io.IOException("varint too long")
      } while ((b & 0x80) != 0)
      v
    }
    def remaining: Int = buf.remaining()
  }

  /** One record batch (v2) for `records` with all offsets / timestamps
    * relative to `baseOffset` / `timestampMs`. `codec` is the attributes
    * compression id (0=none, 1=gzip, 2=snappy xerial-framed, 3=lz4 frame,
    * 4=zstd frame) applied to the records section only — the v2 header
    * stays plain, per the protocol.
    */
  def encodeBatch(baseOffset: Long, timestampMs: Long,
                  records: Seq[(Array[Byte], Array[Byte])],
                  codec: Int = 0): Array[Byte] = {
    require(records.nonEmpty, "empty record batch")
    val recs = new Writer
    records.zipWithIndex.foreach { case ((k, v), i) =>
      val r = new Writer
      r.int8(0)          // record attributes
      r.varlong(0L)      // timestampDelta
      r.varint(i)        // offsetDelta
      if (k == null) r.varint(-1) else { r.varint(k.length); r.raw(k) }
      if (v == null) r.varint(-1) else { r.varint(v.length); r.raw(v) }
      r.varint(0)        // headers
      val rb = r.result()
      recs.varint(rb.length); recs.raw(rb)
    }
    val recBytes = KafkaCompress.compress(codec, recs.result())
    val body = new Writer
    // attributes .. records — the CRC32C input
    body.int16(codec)                   // attributes: compression id
    body.int32(records.size - 1)        // lastOffsetDelta
    body.int64(timestampMs)             // baseTimestamp
    body.int64(timestampMs)             // maxTimestamp
    body.int64(-1L).int16(-1).int32(-1) // producerId/Epoch, baseSequence
    body.int32(records.size)
    body.raw(recBytes)
    val bodyBytes = body.result()
    val crc = new java.util.zip.CRC32C
    crc.update(bodyBytes)
    val out = new Writer
    out.int64(baseOffset)
    out.int32(4 + 1 + 4 + bodyBytes.length) // partitionLeaderEpoch+magic+crc+body
    out.int32(0)                            // partitionLeaderEpoch
    out.int8(2)                             // magic
    out.int32(crc.getValue.toInt)           // crc32c (unsigned fits int bits)
    out.raw(bodyBytes)
    out.result()
  }

  /** Decode a record SET (zero or more concatenated v2 batches; the last
    * may be truncated by the broker's max_bytes — skipped, the next fetch
    * re-reads it). Verifies CRC32C and inflates compressed batches
    * ([[KafkaCompress]]). Corrupt or hostile input — unknown codec ids,
    * lengths past the bytes left, decompression bombs — raises a typed
    * IOException.
    */
  def decodeBatches(data: Array[Byte]): Seq[KRecord] = {
    if (data == null) return Nil
    val out = Seq.newBuilder[KRecord]
    val buf = ByteBuffer.wrap(data)
    while (buf.remaining() >= 12) {
      val baseOffset = buf.getLong()
      val batchLength = buf.getInt()
      if (batchLength < BatchHeaderLen)
        throw new java.io.IOException(
          s"record batch length $batchLength is under the $BatchHeaderLen-byte v2 header")
      if (buf.remaining() < batchLength) buf.position(buf.limit()) // truncated tail
      else {
        val batch = new Array[Byte](batchLength)
        buf.get(batch)
        val b = new Reader(ByteBuffer.wrap(batch))
        b.int32() // partitionLeaderEpoch
        val magic = b.int8()
        if (magic != 2)
          throw new java.io.IOException(
            s"unsupported record batch magic $magic (this build speaks v2; " +
              "message-format v0/v1 topics predate Kafka 0.11)")
        val crcStored = b.int32()
        val crcInput = java.util.Arrays.copyOfRange(batch, 4 + 1 + 4, batch.length)
        val crc = new java.util.zip.CRC32C
        crc.update(crcInput)
        if (crc.getValue.toInt != crcStored)
          throw new java.io.IOException("record batch CRC32C mismatch")
        val attributes = b.int16()
        b.int32() // lastOffsetDelta
        val baseTs = b.int64()
        b.int64(); b.int64(); b.int16(); b.int32() // maxTs, pid, pepoch, baseSeq
        val count = b.int32()
        // CONTROL batches (attributes bit 5): transactional commit/abort
        // markers a read_uncommitted Fetch still returns. Their records are
        // protocol metadata (ControlRecordKey version/type), not data —
        // decoding them would emit garbage rows on any topic written by a
        // transactional producer. Skip the whole batch; offsets stay
        // monotone because the next batch's baseOffset accounts for them.
        if ((attributes & 0x20) != 0) {
          // skip (batch already consumed from buf)
        } else {
        val rest = new Array[Byte](b.remaining)
        b.buf.get(rest)
        val rb = new Reader(ByteBuffer.wrap(
          KafkaCompress.decompress(attributes & 0x07, rest)))
        // every record takes at least one byte
        if (count < 0 || count > rb.remaining)
          throw new java.io.IOException(
            s"record count $count exceeds the ${rb.remaining} bytes of records")
        var i = 0
        while (i < count) {
          val len = rb.varint()
          val start = rb.buf.position()
          rb.need(len, "record")
          rb.int8() // attributes
          val tsDelta = rb.varlong()
          val offDelta = rb.varint()
          val key = rb.sized(rb.varint(), "key")
          val value = rb.sized(rb.varint(), "value")
          val headers = rb.varint()
          var h = 0
          while (h < headers) { // skip headers
            rb.skip(rb.varint(), "header key")
            rb.skip(rb.varint(), "header value")
            h += 1
          }
          rb.buf.position(start + len) // defensive: honor declared length
          out += KRecord(baseOffset + offDelta, baseTs + tsDelta, key, value)
          i += 1
        }
        }
      }
    }
    out.result()
  }
}

/** Blocking Kafka client over one broker connection: framed request/response
  * with correlation-id checking, typed error codes. One instance per thread.
  * `tls=true` runs the identical protocol over a JSSE socket (WsTls — the
  * path shared by wss:// and amqps://, hostname verification on).
  */
final class KafkaClient(host: String, port: Int, clientId: String = "graft",
                        tls: Boolean = false,
                        trustStore: Option[(String, String)] = None,
                        sasl: Option[(String, String)] = None) {
  import KafkaCodec._

  private var socket: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _
  private var corr = 0

  def connect(): Unit = {
    socket = if (tls) WsTls.socket(host, port, trustStore)
             else new Socket(host, port)
    socket.setTcpNoDelay(true)
    in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    sasl.foreach { case (u, p) => saslPlain(u, p) }
  }

  def close(): Unit = try if (socket != null) socket.close() catch { case _: Exception => () }

  private def call(apiKey: Int, apiVersion: Int, body: Array[Byte]): Reader = {
    corr += 1
    val h = new Writer
    h.int16(apiKey).int16(apiVersion).int32(corr).nullableString(Some(clientId))
    val payload = h.result() ++ body
    out.writeInt(payload.length); out.write(payload); out.flush()
    val size = in.readInt()
    if (size < 4 || size > (64 << 20))
      throw new java.io.IOException(s"bad kafka response frame size $size")
    val resp = new Array[Byte](size)
    in.readFully(resp)
    val r = new Reader(ByteBuffer.wrap(resp))
    val gotCorr = r.int32()
    if (gotCorr != corr)
      throw new java.io.IOException(s"correlation mismatch: sent $corr got $gotCorr")
    r
  }

  private def err(code: Int, what: String): Unit =
    if (code != 0) throw new java.io.IOException(s"kafka $what error code $code")

  /** SASL/PLAIN (RFC 4616: `\0user\0pass`) through SaslHandshake v1 +
    * SaslAuthenticate v0 — the framed post-handshake flow modern brokers
    * use (the standard pairing with TLS). Call right after connect().
    */
  def saslPlain(user: String, pass: String): Unit = {
    val h = new Writer
    h.string("PLAIN")
    val hr = call(ApiSaslHandshake, 1, h.result())
    val hErr = hr.int16()
    val mechanisms = (0 until hr.int32()).map(_ => hr.string())
    if (hErr != 0)
      throw new java.io.IOException(
        s"kafka SASL handshake error $hErr — broker offers: ${mechanisms.mkString(", ")}")
    val token = ("\u0000" + user + "\u0000" + pass).getBytes(UTF_8)
    val a = new Writer
    a.bytes(token)
    val ar = call(ApiSaslAuthenticate, 0, a.result())
    val aErr = ar.int16()
    val msg = ar.nullableString()
    if (aErr != 0)
      throw new java.io.IOException(
        s"kafka SASL authentication failed (error $aErr${msg.map(": " + _).getOrElse("")})")
  }

  /** Metadata v0: partition → (leaderHost, leaderPort) for one topic. */
  def partitionLeaders(topic: String): Map[Int, (String, Int)] = {
    val b = new Writer
    b.int32(1).string(topic)
    val r = call(ApiMetadata, 0, b.result())
    val brokers = (0 until r.int32()).map { _ =>
      val id = r.int32(); val host = r.string(); val port = r.int32()
      id -> (host, port)
    }.toMap
    val parts = Map.newBuilder[Int, (String, Int)]
    (0 until r.int32()).foreach { _ =>
      val topicErr = r.int16(); val name = r.string()
      err(topicErr, s"metadata($name)")
      (0 until r.int32()).foreach { _ =>
        val pErr = r.int16(); val p = r.int32(); val leader = r.int32()
        (0 until r.int32()).foreach(_ => r.int32()) // replicas
        (0 until r.int32()).foreach(_ => r.int32()) // isr
        err(pErr, s"metadata($name/$p)")
        if (name == topic) parts += p -> brokers(leader)
      }
    }
    val m = parts.result()
    if (m.isEmpty) throw new java.io.IOException(s"topic '$topic' has no partitions")
    m
  }

  /** ListOffsets v1: target −1 = log-end ("latest"), −2 = earliest. */
  def listOffsets(topic: String, partitions: Seq[Int], target: Long): Map[Int, Long] = {
    val b = new Writer
    b.int32(-1) // replica_id: consumer
    b.int32(1).string(topic).int32(partitions.size)
    partitions.foreach(p => b.int32(p).int64(target))
    val r = call(ApiListOffsets, 1, b.result())
    val outM = Map.newBuilder[Int, Long]
    (0 until r.int32()).foreach { _ =>
      r.string()
      (0 until r.int32()).foreach { _ =>
        val p = r.int32(); val e = r.int16(); r.int64() // timestamp
        val off = r.int64()
        err(e, s"listOffsets($topic/$p)")
        outM += p -> off
      }
    }
    outM.result()
  }

  /** Fetch v4 from one partition at `offset`; returns (records at/after
    * offset, highWatermark). A batch can start before `offset` (batch
    * granularity on the log) — records below it are filtered here.
    */
  def fetch(topic: String, partition: Int, offset: Long,
            maxBytes: Int = 1 << 20, maxWaitMs: Int = 100): (Seq[KRecord], Long) = {
    val b = new Writer
    b.int32(-1).int32(maxWaitMs).int32(1).int32(maxBytes).int8(0) // isolation: read_uncommitted
    b.int32(1).string(topic).int32(1)
    b.int32(partition).int64(offset).int32(maxBytes)
    val r = call(ApiFetch, 4, b.result())
    r.int32() // throttle_time_ms
    var records: Seq[KRecord] = Nil
    var hw = -1L
    (0 until r.int32()).foreach { _ =>
      r.string()
      (0 until r.int32()).foreach { _ =>
        val p = r.int32(); val e = r.int16()
        hw = r.int64()
        r.int64() // last_stable_offset
        (0 until r.int32()).foreach(_ => { r.int64(); r.int64() }) // aborted txns
        val setBytes = r.bytes()
        err(e, s"fetch($topic/$p@$offset)")
        records = KafkaCodec.decodeBatches(setBytes).filter(_.offset >= offset)
      }
    }
    (records, hw)
  }

  /** Produce v3 (acks=-1): one uncompressed v2 batch; returns base offset.
    * `timestampMs` defaults to wall-clock: a 0 (epoch-1970) CreateTime
    * makes time-retention brokers treat the segment as already expired.
    * Tests that need byte-stable batches pass an explicit timestamp.
    */
  def produce(topic: String, partition: Int,
              records: Seq[(Array[Byte], Array[Byte])],
              timestampMs: Long = System.currentTimeMillis(),
              codec: Int = 0): Long = {
    val set = KafkaCodec.encodeBatch(0L, timestampMs, records, codec = codec)
    val b = new Writer
    b.nullableString(None) // transactional_id
    b.int16(-1).int32(30000)
    b.int32(1).string(topic).int32(1)
    b.int32(partition).bytes(set)
    val r = call(ApiProduce, 3, b.result())
    var base = -1L
    (0 until r.int32()).foreach { _ =>
      r.string()
      (0 until r.int32()).foreach { _ =>
        val p = r.int32(); val e = r.int16(); base = r.int64(); r.int64()
        err(e, s"produce($topic/$p)")
      }
    }
    base
  }
}

/** DataSource V2 micro-batch source: `.format(classOf[KafkaSourceProvider]
  * .getName).option("brokers", "h:p").option("topic", t)`. Offsets are
  * per-partition log offsets checkpointed by Spark — restart REPLAYS the
  * exact committed ranges (the guarantee the driver-buffered transports
  * document they cannot give). Schema: (key, value, partition, offset,
  * ts_ms) — `value` feeds the declarative line mappers like every text
  * transport.
  */
class KafkaSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaSourceProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    def req(k: String): String = Option(opts.get(k)).getOrElse(
      throw new IllegalArgumentException(s"kafka source needs a '$k' option"))
    val (host, port) = KafkaSourceProvider.parseBroker(req("brokers"))
    val starting = Option(opts.get("startingOffsets")).getOrElse("earliest")
    if (starting != "earliest" && starting != "latest")
      throw new IllegalArgumentException(
        s"startingOffsets must be 'earliest' or 'latest', got '$starting'")
    val sasl = Option(opts.get("sasl.user")).map(u =>
      u -> Option(opts.get("sasl.pass")).getOrElse(
        throw new IllegalArgumentException(
          "'sasl.user' is set but 'sasl.pass' is missing")))
    new KafkaTable(host, port, req("topic"), starting,
      WebSocketSourceProvider.tlsOf(opts), sasl)
  }
}

object KafkaSourceProvider {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType),
    StructField("ts_ms", LongType)))

  private[sources] def parseBroker(brokers: String): (String, Int) = {
    // bootstrap list: first entry connects; metadata redirects to leaders
    val first = brokers.split(",").head.trim
    val i = first.lastIndexOf(':')
    if (i <= 0) throw new IllegalArgumentException(
      s"brokers must be host:port[,host:port...], got '$brokers'")
    (first.substring(0, i), first.substring(i + 1).toInt)
  }
}

private[sources] class KafkaTable(host: String, port: Int, topic: String,
                                  starting: String,
                                  tls: (Boolean, Option[(String, String)]) =
                                    (false, None),
                                  sasl: Option[(String, String)] = None)
  extends Table with SupportsRead {
  override def name(): String = s"kafka:$host:$port/$topic"
  override def schema(): StructType = KafkaSourceProvider.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KafkaSourceProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KafkaMicroBatchStream(host, port, topic, starting, tls, sasl)
        /** BATCH read = one topic snapshot: offsets pinned at planning
          * time (earliest..log-end per partition), one task per partition
          * — `spark.read.format(kafka).load()` for bulk corpus ingestion,
          * same reader as the stream.
          */
        override def toBatch(): org.apache.spark.sql.connector.read.Batch =
          new org.apache.spark.sql.connector.read.Batch {
            override def planInputPartitions(): Array[InputPartition] = {
              val c = new KafkaClient(host, port, tls = tls._1,
                trustStore = tls._2, sasl = sasl)
              c.connect()
              try {
                val leaders = c.partitionLeaders(topic)
                val ps = leaders.keys.toSeq.sorted
                val startOffs = c.listOffsets(topic, ps, -2L)
                val endOffs = c.listOffsets(topic, ps, -1L)
                ps.flatMap { p =>
                  val (s, e) = (startOffs(p), endOffs(p))
                  if (e > s) {
                    val (lh, lp) = leaders(p)
                    Some(KafkaRangePartition(lh, lp, topic, p, s, e,
                      tls._1, tls._2, sasl))
                  } else None
                }.toArray
              } finally c.close()
            }
            override def createReaderFactory(): PartitionReaderFactory =
              new KafkaReaderFactory
          }
      }
    }
}

/** Per-partition log offsets, JSON as a sorted {"p":offset} object. */
private[sources] case class KafkaOffsets(parts: Map[Int, Long]) extends Offset {
  override def json(): String =
    parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object KafkaOffsets {
  def parse(json: String): KafkaOffsets = KafkaOffsets(
    """"(\d+)":(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

private[sources] class KafkaMicroBatchStream(host: String, port: Int,
                                             topic: String, starting: String,
                                             tls: (Boolean, Option[(String, String)]) =
                                               (false, None),
                                             sasl: Option[(String, String)] = None)
  extends MicroBatchStream {

  private lazy val client: KafkaClient = {
    val c = new KafkaClient(host, port, tls = tls._1, trustStore = tls._2,
      sasl = sasl)
    c.connect(); c
  }
  private lazy val leaders: Map[Int, (String, Int)] = client.partitionLeaders(topic)

  override def initialOffset(): Offset = KafkaOffsets(
    client.listOffsets(topic, leaders.keys.toSeq.sorted,
      if (starting == "latest") -1L else -2L))

  override def latestOffset(): Offset =
    KafkaOffsets(client.listOffsets(topic, leaders.keys.toSeq.sorted, -1L))

  override def deserializeOffset(json: String): Offset = KafkaOffsets.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaOffsets].parts
    val e = end.asInstanceOf[KafkaOffsets].parts
    e.toSeq.sortBy(_._1).flatMap { case (p, endOff) =>
      val startOff = s.getOrElse(p, 0L)
      if (endOff > startOff) {
        val (lh, lp) = leaders.getOrElse(p, (host, port))
        Some(KafkaRangePartition(lh, lp, topic, p, startOff, endOff,
          tls._1, tls._2, sasl))
      } else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new KafkaReaderFactory

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint

  override def stop(): Unit = client.close()
}

private[sources] case class KafkaRangePartition(host: String, port: Int,
                                                topic: String, partition: Int,
                                                startOffset: Long, endOffset: Long,
                                                tls: Boolean = false,
                                                trustStore: Option[(String, String)] = None,
                                                sasl: Option[(String, String)] = None)
  extends InputPartition

private[sources] class KafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(p0: InputPartition): PartitionReader[InternalRow] = {
    val p = p0.asInstanceOf[KafkaRangePartition]
    new PartitionReader[InternalRow] {
      // each task owns its connection to the partition leader — the
      // executor-parallel shape; nothing is buffered on the driver (the
      // truststore path must be executor-visible, like any Spark file dep)
      private val client = {
        val c = new KafkaClient(p.host, p.port, tls = p.tls,
          trustStore = p.trustStore, sasl = p.sasl)
        c.connect(); c
      }
      private var queue: Iterator[KafkaCodec.KRecord] = Iterator.empty
      private var nextOffset = p.startOffset
      private var current: KafkaCodec.KRecord = _
      override def next(): Boolean = {
        while (!queue.hasNext && nextOffset < p.endOffset) {
          val (recs, _) = client.fetch(p.topic, p.partition, nextOffset)
          val inRange = recs.filter(r =>
            r.offset >= nextOffset && r.offset < p.endOffset)
          if (recs.nonEmpty)
            nextOffset = math.max(nextOffset + 1, recs.map(_.offset).max + 1)
          queue = inRange.iterator
          if (recs.isEmpty && inRange.isEmpty) {
            // polled past a gap (compaction) or the range raced truncation:
            // re-check the live end; stop rather than spin
            val live = client.listOffsets(p.topic, Seq(p.partition), -1L)(p.partition)
            if (live <= nextOffset) nextOffset = p.endOffset
          }
        }
        if (queue.hasNext) { current = queue.next(); true } else false
      }
      override def get(): InternalRow = InternalRow(
        if (current.key == null) null
        else UTF8String.fromBytes(current.key),
        if (current.value == null) null
        else UTF8String.fromBytes(current.value),
        p.partition, current.offset, current.timestampMs)
      override def close(): Unit = client.close()
    }
  }
}

/** Kafka SINK half: rows' single string column produced as record values,
  * one v2 batch per epoch-partition (buffered in `process`, flushed in
  * `close` — one Produce round-trip per task), compressed per `codec`
  * (the 'compression' sink option: none/gzip/snappy/lz4/zstd — every
  * codec the protocol defines, see [[KafkaCompress]]). Spark partition id maps
  * onto the topic's partitions round-robin.
  */
object KafkaForeachWriter {
  /** 'compression' option value → record-batch attributes codec id. */
  def codecOf(name: String): Int = name.trim.toLowerCase match {
    case "" | "none" => 0
    case "gzip" => 1
    case "snappy" => 2
    case "lz4" => 3
    case "zstd" => 4
    case other => throw new IllegalArgumentException(
      s"unknown 'compression' value '$other' — none|gzip|snappy|lz4|zstd")
  }
}

class KafkaForeachWriter(brokers: String, topic: String,
                         tls: Boolean = false,
                         trustStore: Option[(String, String)] = None,
                         sasl: Option[(String, String)] = None,
                         codec: Int = 0)
  extends ForeachWriter[Row] {
  @transient private var client: KafkaClient = _
  @transient private var buf: scala.collection.mutable.ArrayBuffer[Array[Byte]] = _
  @transient private var partition: Int = 0

  override def open(partitionId: Long, epochId: Long): Boolean = {
    val (h, p) = KafkaSourceProvider.parseBroker(brokers)
    val boot = new KafkaClient(h, p, tls = tls, trustStore = trustStore,
      sasl = sasl)
    boot.connect()
    try {
      val leaders = boot.partitionLeaders(topic)
      val ids = leaders.keys.toSeq.sorted
      partition = ids((partitionId % ids.size).toInt)
      val (lh, lp) = leaders(partition)
      client = new KafkaClient(lh, lp, tls = tls, trustStore = trustStore,
        sasl = sasl)
      client.connect()
    } finally boot.close()
    buf = scala.collection.mutable.ArrayBuffer.empty
    true
  }
  override def process(row: Row): Unit =
    buf += String.valueOf(row.get(0)).getBytes(UTF_8)
  override def close(errorOrNull: Throwable): Unit = {
    try {
      if (errorOrNull == null && client != null && buf != null && buf.nonEmpty)
        client.produce(topic, partition, buf.toSeq.map(v => (null, v)),
          codec = codec)
    } finally if (client != null) client.close()
  }
}
