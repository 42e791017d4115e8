package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, File,
  FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  LocalFileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint writes on the local file system in plain JVM I/O.
  *
  * Without libhadoop, Hadoop's local file system starts an OS process for
  * every checkpoint file Spark writes: `chmod` when the temp file is
  * created and `readlink` when FileContext renames it into place — about
  * 100 processes per trigger of a stateful app (offset log, commit log and
  * every state partition's delta file). This manager writes each file and
  * its Hadoop `.crc` sidecar to temp files in the target directory and
  * publishes them without a process:
  *  - no overwrite: `link(2)`, so an existing target fails with Hadoop's
  *    `FileAlreadyExistsException` (the type `HDFSMetadataLog` catches);
  *  - overwrite: an atomic rename.
  *
  * The sidecar is Hadoop's format (header `crc\0`, bytes per checksum, one
  * big-endian CRC32 per chunk), so Hadoop `FileSystem` readers verify it.
  * Reads, listings, `mkdirs`, deletes and every path that does not resolve
  * to Hadoop's checksummed `LocalFileSystem` go to Spark's default manager.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFiles._

  /** Spark's default choice for `path`: FileContext, else FileSystem. */
  private[streaming] val delegate: CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, conf) }

  private val localFs: Option[LocalFileSystem] = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => Some(fs)
    case _ => None
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFs match {
      case Some(fs) => AtomicFile(fs.pathToFile(p), overwriteIfPossible, fs.getBytesPerSum)
      case None => delegate.createAtomic(p, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFiles {

  /** Spark's session key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint file manager, unless the session
    * (or its Hadoop configuration) already names one.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFiles].getName)

  private val CrcHeader = "crc\u0000".getBytes(US_ASCII)

  /** Hadoop's sidecar name for `f`: `.<name>.crc` beside it. */
  private[streaming] def crcOf(f: File): File = new File(f.getParentFile, s".${f.getName}.crc")

  /** Writes `file` and keeps one CRC32 per `bytesPerSum` bytes. */
  private final class ChecksummedFile(file: File, bytesPerSum: Int) extends OutputStream {
    private val out = new BufferedOutputStream(new FileOutputStream(file))
    private val crc = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream
    private val sumsOut = new DataOutputStream(sums)
    sumsOut.write(CrcHeader)
    sumsOut.writeInt(bytesPerSum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerSum) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      val end = off + len
      while (o < end) {
        val n = math.min(end - o, bytesPerSum - inChunk)
        crc.update(b, o, n)
        o += n
        inChunk += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()

    /** The sidecar's bytes; the last chunk may be short. Call once, after
      * the last write.
      */
    def checksums(): Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }
  }

  /** One checkpoint file in flight: bytes go to a temp file beside
    * `target`; `close` publishes it and its sidecar, `cancel` deletes both
    * temps.
    */
  private[streaming] final class AtomicFile private (target: File, temp: File, overwrite: Boolean,
      data: ChecksummedFile) extends CancellableFSDataOutputStream(data) {
    private var done = false

    private def deleteTemps(): Unit = {
      temp.delete()
      crcOf(temp).delete()
    }

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          data.close()
          Files.write(crcOf(temp).toPath, data.checksums())
          if (overwrite)
            Files.move(temp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          else {
            try Files.createLink(target.toPath, temp.toPath)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists") }
            Files.delete(temp.toPath)
          }
          Files.move(crcOf(temp).toPath, crcOf(target).toPath, StandardCopyOption.ATOMIC_MOVE)
        } catch { case e: Throwable =>
          deleteTemps()
          throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try data.close() catch { case NonFatal(_) => () }
        deleteTemps()
      }
    }
  }

  private[streaming] object AtomicFile {
    def apply(target: File, overwrite: Boolean, bytesPerSum: Int): AtomicFile = {
      val temp = new File(target.getParentFile, s".${target.getName}.${UUID.randomUUID}.tmp")
      new AtomicFile(target, temp, overwrite, new ChecksummedFile(temp, bytesPerSum))
    }
  }
}
