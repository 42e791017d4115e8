package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import KafkaCompress.{compress, decompress}

/** Zstandard codec (Kafka codec id 4, [[KafkaCompress]]) — three layers of
  * evidence:
  *  1. pinned frame layout (magic, single-segment FHD, checksum flag) and
  *     typed errors on corrupt, fuzzed and truncated frames;
  *  2. round-trips (our encoder → our decoder) over adversarial shapes:
  *     empty, 1 byte, incompressible randomness, long RLE runs, overlap
  *     copies, multi-block (> 128 KB), all byte values;
  *  3. REFERENCE round-trips against the system zstd CLI when present
  *     (it is in the repo's dev/CI container): our frames decoded by the
  *     reference decoder byte-for-byte, and reference frames at several
  *     levels (RLE blocks, compressed literals, 4-stream Huffman, repeat
  *     offsets, FSE-compressed tables) decoded by ours. Skipped cleanly
  *     where no CLI exists — layers 1-2 remain.
  */
class ZstdSpec extends AnyFunSuite {

  // deterministic corpus shapes (fixed-seed LCG — no java.util.Random
  // seed-behavior dependence)
  private def lcgBytes(n: Int, seed0: Long): Array[Byte] = {
    var s = seed0
    Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 33).toByte }
  }
  private def textish(n: Int): Array[Byte] = {
    val words = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dogs", "compression", "entropy")
    val sb = new StringBuilder
    var s = 42L
    while (sb.length < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      sb.append(words(((s >>> 33) % words.length).toInt)).append(' ')
    }
    sb.toString.take(n).getBytes("UTF-8")
  }

  private val shapes: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array[Byte](42),
    "short" -> "hello zstd".getBytes,
    "rle" -> Array.fill[Byte](10000)('a'),
    "text" -> textish(50000),
    "random" -> lcgBytes(20000, 7),
    "allbytes" -> Array.tabulate[Byte](4096)(i => i.toByte),
    "overlap" -> ("abc" * 5000).getBytes,
    "multiblock" -> textish(300000),
    "mixed" -> (lcgBytes(5000, 9) ++ Array.fill[Byte](5000)('x') ++ textish(5000)),
    // cross-block repeat-offset shapes: the decoder's rep history persists
    // across blocks within a frame, so a block whose FIRST match is an
    // offset-1 run (the RLE idiom) after a compressed block that ended on
    // an explicit offset desyncs an encoder that reseeds rep0=1 per block.
    // 64-byte phrase repeats (explicit offset 64 becomes rep0) through
    // block 1, then a random lead + a long 'z' run opening block 2.
    "repblock" -> {
      val phrase = textish(64)
      val b = new java.io.ByteArrayOutputStream()
      while (b.size < 135 * 1024) b.write(phrase, 0, phrase.length)
      b.write(lcgBytes(100, 13), 0, 100)
      b.write(Array.fill[Byte](4000)('z'), 0, 4000)
      b.toByteArray
    },
    // three blocks alternating explicit-offset text and offset-1 runs
    "repblock3" -> {
      val b = new java.io.ByteArrayOutputStream()
      b.write(textish(130 * 1024), 0, 130 * 1024)
      b.write(Array.fill[Byte](130 * 1024)('q'), 0, 130 * 1024)
      b.write(textish(130 * 1024), 0, 130 * 1024)
      b.toByteArray
    },
    // raw (incompressible) block between two compressed ones: rep0 must
    // carry UNCHANGED across the raw block
    "rawmid" -> (("abcdefgh" * (17 * 1024)).getBytes ++ lcgBytes(130 * 1024, 21) ++ Array.fill[Byte](4000)('y')))

  test("pure-JVM round-trip over adversarial shapes") {
    for ((name, data) <- shapes) {
      val comp = compress(4, data)
      val back = decompress(4, comp)
      assert(java.util.Arrays.equals(back, data), s"shape '$name' round-trip")
      // compressible shapes genuinely shrink
      if (name == "rle" || name == "overlap")
        assert(comp.length < data.length / 10, s"shape '$name' should compress hard: ${comp.length}")
      if (name == "text" || name == "multiblock")
        assert(comp.length < data.length, s"shape '$name' should shrink: ${comp.length}")
    }
  }

  test("frame layout: magic, single-segment FHD, content checksum present") {
    val f = compress(4, "abcabcabcabc".getBytes)
    assert((f(0) & 0xFF) == 0x28 && (f(1) & 0xFF) == 0xB5 &&
      (f(2) & 0xFF) == 0x2F && (f(3) & 0xFF) == 0xFD)
    val fhd = f(4) & 0xFF
    assert((fhd & 0x20) != 0, "single-segment flag")
    assert((fhd & 0x04) != 0, "content-checksum flag")
  }

  test("multi-frame concatenation and skippable frames decode") {
    val a = compress(4, "first frame ".getBytes)
    val b = compress(4, "second frame".getBytes)
    // skippable frame: magic 0x184D2A50, 4-byte size, payload
    val skip = Array[Byte](0x50, 0x2A, 0x4D.toByte, 0x18, 3, 0, 0, 0, 1, 2, 3)
    val all = a ++ skip ++ b
    assert(new String(decompress(4, all)) == "first frame second frame")
  }

  test("corrupt input: typed IOException, never OOM/array errors") {
    def err(bytes: Array[Byte]): String =
      intercept[java.io.IOException](decompress(4, bytes)).getMessage
    assert(err(Array[Byte](1, 2, 3, 4, 5)).contains("magic"))
    val good = compress(4, Array.fill[Byte](1000)('z'))
    // flip the checksum
    val badSum = good.clone(); badSum(badSum.length - 1) = (badSum.last ^ 0x5A).toByte
    assert(err(badSum).contains("checksum"))
    // declared content size vs actual
    val badSize = good.clone(); badSize(5) = (badSize(5) + 1).toByte
    val m = intercept[java.io.IOException](decompress(4, badSize)).getMessage
    assert(m.nonEmpty) // size mismatch or downstream structural error — typed either way
  }

  test("corruption fuzz: 400 byte-flips on valid frames — typed IOException or clean decode, never a crash") {
    val frames = Seq(
      compress(4, textish(20000)),
      compress(4, Array.fill[Byte](5000)('q')),
      compress(4, lcgBytes(3000, 11)))
    var s = 0xDEADL
    var flips = 0
    while (flips < 400) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val f = frames(((s >>> 33) % frames.length).toInt).clone()
      val pos = math.abs((s >>> 17).toInt) % f.length
      f(pos) = (f(pos) ^ (1 << math.abs((s >>> 7).toInt % 8))).toByte
      try decompress(4, f) // a lucky flip may still decode — fine
      catch {
        case _: java.io.IOException => // the typed contract
        case other: Throwable =>
          fail(s"flip at $pos raised ${other.getClass.getSimpleName}: ${other.getMessage}")
      }
      flips += 1
    }
    // truncations at every prefix length of a small frame: typed too
    val small = compress(4, "truncate me please, zstd".getBytes)
    for (n <- 0 until small.length) {
      try decompress(4, java.util.Arrays.copyOf(small, n))
      catch {
        case _: java.io.IOException =>
        case other: Throwable =>
          fail(s"truncation to $n raised ${other.getClass.getSimpleName}")
      }
    }
  }

  // ---- reference CLI round-trips (strongest evidence; skipped if absent)
  private def zstdCli: Option[String] =
    Seq("zstd", "/usr/bin/zstd", "/root/miniconda/bin/zstd").find { p =>
      try { new ProcessBuilder(p, "--version").start().waitFor() == 0 }
      catch { case _: Exception => false }
    }

  private def run(cmd: Seq[String], stdin: Array[Byte]): Array[Byte] = {
    val pb = new ProcessBuilder(cmd: _*)
    val proc = pb.start()
    val out = new java.io.ByteArrayOutputStream
    val writer = new Thread(() => {
      proc.getOutputStream.write(stdin); proc.getOutputStream.close()
    })
    writer.start()
    val buf = new Array[Byte](8192)
    var n = proc.getInputStream.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = proc.getInputStream.read(buf) }
    writer.join()
    assert(proc.waitFor() == 0, s"$cmd failed: ${new String(proc.getErrorStream.readAllBytes()).take(200)}")
    out.toByteArray
  }

  test("reference decoder accepts our frames (zstd CLI round-trip)") {
    zstdCli match {
      case None => cancel("zstd CLI not on this host — pure-JVM layers cover")
      case Some(cli) =>
        for ((name, data) <- shapes) {
          val ours = compress(4, data)
          val back = run(Seq(cli, "-d", "-c"), ours)
          assert(java.util.Arrays.equals(back, data),
            s"reference decoder disagrees on shape '$name'")
        }
    }
  }

  test("our decoder accepts reference frames at multiple levels") {
    zstdCli match {
      case None => cancel("zstd CLI not on this host — pure-JVM layers cover")
      case Some(cli) =>
        for ((name, data) <- shapes; level <- Seq("-1", "-3", "-9", "-19")) {
          val ref = run(Seq(cli, level, "-c"), data)
          val back = decompress(4, ref)
          assert(java.util.Arrays.equals(back, data),
            s"our decoder disagrees on shape '$name' at $level")
        }
        // long-distance + checksum off variants
        val big = textish(500000)
        for (flags <- Seq(Seq("-5", "-c"), Seq("-5", "-c", "--no-check"),
            Seq("--long=20", "-7", "-c"))) {
          val ref = run(Seq(cli) ++ flags, big)
          assert(java.util.Arrays.equals(decompress(4, ref), big),
            s"flags $flags")
        }
    }
  }

  test("fuzz: 60 random shapes round-trip both directions vs the reference") {
    zstdCli match {
      case None => cancel("zstd CLI not on this host — pure-JVM layers cover")
      case Some(cli) =>
        var seed = 0xC0FFEEL
        for (i <- 0 until 60) {
          seed = seed * 6364136223846793005L + 1442695040888963407L
          val n = math.abs((seed >>> 33).toInt) % 50000
          val kind = i % 4
          val data = kind match {
            case 0 => lcgBytes(n, seed)
            case 1 => textish(n)
            case 2 => Array.fill[Byte](n)(((seed >>> 40) & 0x7F).toByte)
            case 3 => // stitched repeats: LZ-friendly with varied offsets
              val piece = lcgBytes(math.max(1, n / 50 + 1), seed)
              val out = new java.io.ByteArrayOutputStream
              while (out.size() < n) out.write(piece, 0, math.min(piece.length, n - out.size()))
              out.toByteArray
          }
          val refBack = run(Seq(cli, "-d", "-c"), compress(4, data))
          assert(java.util.Arrays.equals(refBack, data), s"fuzz #$i ours→ref")
          val lvl = Seq("-1", "-3", "-12")(i % 3)
          val ourBack = decompress(4, run(Seq(cli, lvl, "-c"), data))
          assert(java.util.Arrays.equals(ourBack, data), s"fuzz #$i ref→ours at $lvl")
        }
    }
  }
}
