package graft.streaming

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.{AppRuntime, GraftApp}

/** A raw (checksum-free) local file system under another scheme: a path
  * the checkpoint manager must hand to Spark's default manager.
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("otherscheme:///")
}

/** [[LocalCheckpointFiles]]: what Spark's streaming checkpoint contract
  * needs from it (exclusive publish, overwrite, cancel, restart) and what
  * Hadoop readers need (a verifying `.crc` sidecar).
  */
class CheckpointFilesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tempDir(): File = Files.createTempDirectory("graft-ckpt-files").toFile

  private def manager(dir: File): LocalCheckpointFiles =
    new LocalCheckpointFiles(new Path(dir.toURI), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  /** Every file name under `dir`, relative, sorted. */
  private def tree(dir: File): Seq[String] = {
    val root = dir.toPath
    val walk = Files.walk(root)
    try {
      val names = mutable.ArrayBuffer.empty[String]
      walk.forEach(p => if (Files.isRegularFile(p)) names += root.relativize(p).toString)
      names.sorted.toSeq
    } finally walk.close()
  }

  // The stream_app shape: a per-user length(10) ALL EVENTS window and an
  // EVERY signup -> purchase pattern, fed here by a MemoryStream.
  private val AppSql =
    """CREATE STREAM events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
      |  event_type STRING, value DOUBLE) WITH ('allow.lateness'='1 minute');
      |CREATE STREAM win_out (user_id BIGINT, event_id BIGINT, value DOUBLE, op INT);
      |CREATE STREAM matches (user_id BIGINT, signup_id BIGINT, purchase_id BIGINT);
      |PARTITION WITH (user_id OF events) BEGIN
      |  INSERT ALL EVENTS INTO win_out
      |  SELECT user_id, event_id, value, op FROM events WINDOW('length', 10)
      |END;
      |INSERT INTO matches
      |SELECT e1.user_id AS user_id, e1.event_id AS signup_id,
      |       e2.event_id AS purchase_id
      |FROM PATTERN (EVERY (e1=events[event_type = 'signup']
      |                     -> e2=events[event_type = 'purchase']))
      |WITHIN 1 DAY
      |PARTITION BY user_id;""".stripMargin

  private type Ev = (Long, Timestamp, Long, String, Double)

  /** Seeded events in batches: 8 users, event times 1-120 s apart. */
  private def eventBatches(nBatches: Int, perBatch: Int): Seq[Seq[Ev]] = {
    val rng = new scala.util.Random(7)
    val types = Seq("signup", "purchase", "click")
    var ts = 1704067200000L
    (0 until nBatches).map { b =>
      (0 until perBatch).map { i =>
        ts += 1000L + rng.nextInt(120000)
        ((b * perBatch + i).toLong, new Timestamp(ts), rng.nextInt(8).toLong,
          types(rng.nextInt(types.size)), rng.nextInt(1000) / 10.0)
      }
    }
  }

  /** Runs the app over `batches` on checkpoint root `ckpt`, stopping and
    * restarting both queries on the same checkpoint after each batch
    * index in `restartAfter`. Returns each output's rows, keyed by batch
    * id so a batch Spark replays after a restart counts once.
    */
  private def runApp(ckpt: File, batches: Seq[Seq[Ev]],
                     restartAfter: Set[Int]): Map[String, Seq[Row]] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    AppRuntime.bindSources(spark, GraftApp.parse(AppSql))
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val env = GraftApp.run(spark, AppSql, Map("events" -> events))
    val outs = Seq("win_out", "matches")
    val got = outs.map(_ -> mutable.Map.empty[Long, Seq[Row]]).toMap
    def start(): Seq[StreamingQuery] = outs.map { out =>
      val log = got(out)
      env(out).writeStream
        .option("checkpointLocation", new File(ckpt, out).toString)
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect().toSeq
          log.synchronized(log(id) = rows)
          ()
        }
        .start()
    }
    var qs = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      in.addData(b)
      qs.foreach(_.processAllAvailable())
      if (restartAfter(i)) {
        qs.foreach(_.stop())
        qs = start()
      }
    } finally qs.foreach(_.stop())
    got.map { case (out, log) => out -> log.values.flatten.toSeq }
  }

  test("a declared app restarted on its checkpoint matches an uninterrupted run") {
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getOption(noData)
    // outputs then change only with data batches, so both runs see the
    // same batch sequence
    spark.conf.set(noData, "false")
    val batches = eventBatches(nBatches = 6, perBatch = 40)
    val (once, twice) = (tempDir(), tempDir())
    try {
      val uninterrupted = runApp(once, batches, restartAfter = Set.empty)
      val restarted = runApp(twice, batches, restartAfter = Set(1, 3))
      def sorted(rows: Seq[Row]) = rows.map(_.toSeq.mkString("|")).sorted
      Seq("win_out", "matches").foreach { out =>
        assert(uninterrupted(out).nonEmpty, out)
        assert(sorted(restarted(out)) == sorted(uninterrupted(out)), out)
      }
      // the window expires events from before each restart: its state
      // came back from the checkpoint
      assert(restarted("win_out").exists(_.getAs[Int]("op") == -1))
      assert(CheckpointFileManager.create(new Path(twice.toURI),
        spark.sessionState.newHadoopConf()).isInstanceOf[LocalCheckpointFiles])
      val files = tree(twice)
      assert(files.exists(_.endsWith("offsets/.5.crc")), files)
      assert(files.exists(_.endsWith("commits/.5.crc")), files)
      assert(files.exists(f => f.contains("state/") && f.endsWith(".delta")), files)
      assert(!files.exists(_.endsWith(".tmp")), files)
      assert(!files.exists(_.endsWith(".tmp.crc")), files)
    } finally {
      before.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
      Seq(once, twice).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
  }

  test("two writers of one batch: the second gets FileAlreadyExistsException") {
    val dir = tempDir()
    try {
      val fm = manager(dir)
      val p = new Path(new File(dir, "0").toURI)
      val first = fm.createAtomic(p, false)
      val second = fm.createAtomic(p, false)
      first.write("first".getBytes(UTF_8))
      second.write("second".getBytes(UTF_8))
      first.close()
      intercept[FileAlreadyExistsException](second.close())
      assert(new String(Files.readAllBytes(new File(dir, "0").toPath), UTF_8) == "first")
      assert(tree(dir) == Seq(".0.crc", "0"))
      // overwriting publishes the last writer's bytes
      write(fm, p, "third".getBytes(UTF_8), overwrite = true)
      assert(new String(Files.readAllBytes(new File(dir, "0").toPath), UTF_8) == "third")
      assert(tree(dir) == Seq(".0.crc", "0"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("cancel() leaves no temp file or temp .crc behind") {
    val dir = tempDir()
    try {
      val out = manager(dir).createAtomic(new Path(new File(dir, "1.delta").toURI), true)
      out.write(Array.fill[Byte](2000)(7))
      assert(tree(dir).exists(_.endsWith(".tmp")))
      out.cancel()
      out.close() // a no-op after cancel: nothing is published
      assert(tree(dir).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("Hadoop's LocalFileSystem reads the file and detects a flipped byte") {
    val dir = tempDir()
    try {
      val conf = new Configuration()
      val lfs = FileSystem.getLocal(conf)
      // three 512-byte chunks, the last one short
      val bytes = Array.tabulate[Byte](1300)(i => (i * 31 + 7).toByte)
      val ours = new Path(new File(dir, "ours").toURI)
      write(manager(dir), ours, bytes, overwrite = false)
      val in = lfs.open(ours)
      val back = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      assert(back.sameElements(bytes))
      // the sidecar is byte-for-byte what Hadoop writes for the same bytes
      val theirs = new Path(new File(dir, "theirs").toURI)
      val h = lfs.create(theirs)
      h.write(bytes)
      h.close()
      def crc(name: String) = Files.readAllBytes(new File(dir, s".$name.crc").toPath)
      assert(crc("ours").length == 8 + 4 * 3)
      assert(crc("ours").sameElements(crc("theirs")))
      val raf = new RandomAccessFile(new File(dir, "ours"), "rw")
      try {
        raf.seek(700)
        val b = raf.read()
        raf.seek(700)
        raf.write(b ^ 0x01)
      } finally raf.close()
      intercept[ChecksumException] {
        val in2 = lfs.open(ours)
        try org.apache.commons.io.IOUtils.toByteArray(in2) finally in2.close()
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("a session that already names a checkpoint file manager keeps it") {
    val key = LocalCheckpointFiles.ConfKey
    val before = spark.conf.getOption(key)
    val spec = GraftApp.parse("CREATE STREAM s (x INT);")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val named = classOf[FileSystemBasedCheckpointFileManager].getName
    try {
      spark.conf.set(key, named)
      AppRuntime.bindSources(spark, spec)
      assert(spark.conf.get(key) == named)
      // named in the Hadoop configuration (`spark.hadoop.*`): left alone too
      spark.conf.unset(key)
      hadoopConf.set(key, named)
      AppRuntime.bindSources(spark, spec)
      assert(spark.conf.getOption(key).isEmpty)
      hadoopConf.unset(key)
      AppRuntime.bindSources(spark, spec)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFiles].getName)
    } finally {
      hadoopConf.unset(key)
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a path outside the local file system goes to Spark's default manager") {
    val dir = tempDir()
    try {
      val conf = new Configuration()
      conf.set("fs.otherscheme.impl", classOf[OtherSchemeFs].getName)
      conf.setBoolean("fs.otherscheme.impl.disable.cache", true)
      val root = new Path(s"otherscheme://${dir.getAbsolutePath}")
      val fm = new LocalCheckpointFiles(root, conf)
      // FileContext has no binding for the scheme: Spark falls back to
      // its FileSystem-based manager, and so does the delegate
      assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
      write(fm, new Path(root, "0"), "x".getBytes(UTF_8), overwrite = false)
      // the raw file system writes no sidecar; the local path always does
      assert(tree(dir) == Seq("0"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
