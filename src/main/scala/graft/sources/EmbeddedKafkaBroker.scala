package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal embedded single-node Kafka broker over an in-memory log —
  * enough of the PUBLIC wire protocol (Metadata v0, ListOffsets v1,
  * Fetch v4, Produce v3, SASL handshake/authenticate) for a full
  * consumer/producer conversation with [[KafkaClient]]. Three uses:
  * demos/examples without an external cluster, the KafkaSpec protocol
  * e2es, and the `q_kafka_batch` correctness row (the corpus is staged
  * into a broker and read back through the real BATCH_READ source, so the
  * wire path gets a DuckDB-comparable oracle, not just specs).
  *
  * NOT a production broker: single node, no replication, no retention, no
  * transactions — an in-memory log per partition behind one lock. Every
  * frame is parsed with real-broker strictness (correlation ids echoed,
  * arrays sized, produced record sets re-decoded, CRCs checked by the
  * decode path) so clients cannot pass here and fail against the real
  * protocol.
  *
  * Fetch responses are served in [[fetchBatchSize]]-record batches CYCLING
  * codec ids 0-3 (none/gzip/snappy/lz4, through [[KafkaCompress]]) so every
  * consume against this broker also exercises the decompression paths;
  * zstd (id 4) is left to the sink's 'compression' option. Batch
  * timestamps are deterministic (fixed epoch + base offset), keeping
  * reads engine-replayable.
  */
final class EmbeddedKafkaBroker(topic: String, numPartitions: Int,
                                serverSocketFactory: Int => java.net.ServerSocket =
                                  _ => new java.net.ServerSocket(0),
                                saslPlain: Option[(String, String)] =
                                  Some(("alice", "secret"))) {
  val logs: Array[scala.collection.mutable.ArrayBuffer[(Array[Byte], Array[Byte])]] =
    Array.fill(numPartitions)(scala.collection.mutable.ArrayBuffer.empty)

  /** Records per served batch — >1 record logs exercise multi-batch sets. */
  var fetchBatchSize: Int = 2

  private val server = serverSocketFactory(0)
  def port: Int = server.getLocalPort

  def seed(partition: Int, values: String*): Unit = synchronized {
    values.foreach(v => logs(partition) += ((null, v.getBytes(UTF_8))))
  }
  def values(partition: Int): Seq[String] = synchronized {
    logs(partition).map(r => new String(r._2, UTF_8)).toSeq
  }

  private val acceptor = new Thread(() => {
    while (!server.isClosed) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock))
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    }
  }, s"embedded-kafka-$topic")
  acceptor.setDaemon(true); acceptor.start()

  def close(): Unit = server.close()

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(s"embedded broker: bad frame: $what")

  private def serve(sock: java.net.Socket): Unit = {
    try {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      while (true) {
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val r = new KafkaCodec.Reader(ByteBuffer.wrap(req))
        val apiKey = r.int16(); val apiVersion = r.int16()
        val corr = r.int32(); r.nullableString() // client_id
        val w = new KafkaCodec.Writer
        w.int32(corr)
        apiKey match {
          case KafkaCodec.ApiMetadata =>
            expect(apiVersion == 0, s"metadata v$apiVersion")
            val n = r.int32(); (0 until n).foreach(_ => r.string())
            w.int32(1).int32(0).string("127.0.0.1").int32(port) // brokers
            w.int32(1) // topics
            w.int16(0).string(topic)
            w.int32(numPartitions)
            (0 until numPartitions).foreach { p =>
              w.int16(0).int32(p).int32(0) // err, partition, leader
              w.int32(1).int32(0)          // replicas [0]
              w.int32(1).int32(0)          // isr [0]
            }
          case KafkaCodec.ApiListOffsets =>
            expect(apiVersion == 1, s"listOffsets v$apiVersion")
            r.int32() // replica_id
            val nt = r.int32(); expect(nt == 1, "one topic")
            val name = r.string()
            val np = r.int32()
            val parts = (0 until np).map(_ => (r.int32(), r.int64()))
            w.int32(1).string(name).int32(parts.size)
            parts.foreach { case (p, target) =>
              val off = synchronized {
                if (target == -2L) 0L else logs(p).size.toLong
              }
              w.int32(p).int16(0).int64(-1L).int64(off)
            }
          case KafkaCodec.ApiFetch =>
            expect(apiVersion == 4, s"fetch v$apiVersion")
            r.int32(); r.int32(); r.int32(); r.int32(); r.int8()
            val nt = r.int32(); expect(nt == 1, "one topic")
            val name = r.string()
            val np = r.int32(); expect(np == 1, "one partition")
            val p = r.int32(); val offset = r.int64(); r.int32()
            val (set, hw) = synchronized {
              val log = logs(p)
              val hw = log.size.toLong
              if (offset >= hw) (Array.emptyByteArray, hw)
              else {
                // serve in fetchBatchSize-record batches so the client's
                // multi-batch decode path runs on every conversation;
                // cycle codec ids 0-3 (none/gzip/snappy/lz4) per batch so
                // every consume against this broker also decompresses
                val bytes = (offset until hw).grouped(fetchBatchSize)
                  .zipWithIndex.map { case (g, gi) =>
                  KafkaCodec.encodeBatch(g.head, 1723640000000L + g.head,
                    g.map(i => log(i.toInt)).toSeq, codec = gi % 4)
                }.reduce(_ ++ _)
                (bytes, hw)
              }
            }
            w.int32(0) // throttle
            w.int32(1).string(name).int32(1)
            w.int32(p).int16(0).int64(hw).int64(hw).int32(0)
            w.bytes(if (set.isEmpty) null else set)
          case KafkaCodec.ApiProduce =>
            expect(apiVersion == 3, s"produce v$apiVersion")
            r.nullableString(); r.int16(); r.int32()
            val nt = r.int32(); expect(nt == 1, "one topic")
            val name = r.string()
            val np = r.int32(); expect(np == 1, "one partition")
            val p = r.int32()
            val set = r.bytes()
            val base = synchronized {
              val b = logs(p).size.toLong
              KafkaCodec.decodeBatches(set).foreach(rec =>
                logs(p) += ((rec.key, rec.value)))
              b
            }
            w.int32(1).string(name).int32(1)
            w.int32(p).int16(0).int64(base).int64(-1L)
            w.int32(0) // throttle
          case KafkaCodec.ApiSaslHandshake =>
            expect(apiVersion == 1, s"saslHandshake v$apiVersion")
            val mech = r.string()
            if (mech == "PLAIN") w.int16(0)
            else w.int16(33) // UNSUPPORTED_SASL_MECHANISM
            w.int32(1).string("PLAIN")
          case KafkaCodec.ApiSaslAuthenticate =>
            expect(apiVersion == 0, s"saslAuthenticate v$apiVersion")
            val token = new String(r.bytes(), UTF_8)
            val ok = saslPlain.exists { case (u, pw) =>
              token == "\u0000" + u + "\u0000" + pw } // RFC 4616
            if (ok) { w.int16(0); w.int16(-1); w.bytes(Array.emptyByteArray) }
            else {
              w.int16(58) // SASL_AUTHENTICATION_FAILED
              w.string("bad credentials")
              w.bytes(Array.emptyByteArray)
            }
          case other =>
            throw new java.io.IOException(s"embedded broker: unexpected api key $other")
        }
        val resp = w.result()
        out.writeInt(resp.length); out.write(resp); out.flush()
      }
    } catch { case _: Throwable => () } // connection closed
    finally { try sock.close() catch { case _: Throwable => () } }
  }
}
