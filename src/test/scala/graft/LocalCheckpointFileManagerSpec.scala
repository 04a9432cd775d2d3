package graft

import graft.log.{LogId, LogStore, LogWriter}
import graft.streaming.{LocalCheckpointFileManager, StreamHarness}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, Path => NioPath}
import scala.jdk.CollectionConverters._

/** The java.nio checkpoint file manager writes what Hadoop's local
  * `FileContext` writes (data and `.crc` sidecar, byte for byte), reads
  * either's files with checksum verification, and a streaming checkpoint
  * moves between the two managers mid-life without losing or repeating a
  * batch.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkManager = classOf[FileContextBasedCheckpointFileManager].getName
  private val LocalManager = classOf[LocalCheckpointFileManager].getName

  private def dir(): NioPath = Paths.get(TestSpark.tmpDir("ckfm"))
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def hadoop(d: NioPath): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(hpath(d), conf)
  private def local(d: NioPath): CheckpointFileManager = new LocalCheckpointFileManager(hpath(d), conf)

  private def payload(n: Int): Array[Byte] = Array.tabulate(n)(i => (i * 31 + 7).toByte)

  /** One single-byte write, then the rest in 100-byte pieces: both of the
    * stream's write paths and chunks that straddle the 512-byte boundary.
    */
  private def write(m: CheckpointFileManager, p: NioPath, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(hpath(p), overwrite)
    try {
      if (bytes.nonEmpty) out.write(bytes(0).toInt)
      bytes.indices.drop(1).grouped(100).foreach(g => out.write(bytes, g.head, g.size))
    } catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(m: CheckpointFileManager, p: NioPath): Array[Byte] = {
    val in = m.open(hpath(p))
    try in.readAllBytes() finally in.close()
  }

  private def names(d: NioPath): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  test("the sidecar and data are byte-identical to Hadoop's for 0, 1, 512, 513 and 1500 bytes") {
    for (n <- Seq(0, 1, 512, 513, 1500)) {
      val (a, b) = (dir(), dir())
      write(hadoop(a), a.resolve("7"), payload(n))
      write(local(b), b.resolve("7"), payload(n))
      assert(names(a) == Set("7", ".7.crc") && names(b) == names(a), s"$n bytes")
      assert(Files.readAllBytes(b.resolve("7")).sameElements(payload(n)), s"$n bytes")
      assert(Files.readAllBytes(b.resolve(".7.crc")).sameElements(Files.readAllBytes(a.resolve(".7.crc"))),
        s"$n bytes: sidecar differs")
    }
  }

  test("a file written by either manager reads back through the other") {
    val d = dir()
    write(hadoop(d), d.resolve("0"), payload(1500))
    write(local(d), d.resolve("1"), payload(700))
    assert(read(local(d), d.resolve("0")).sameElements(payload(1500)))
    assert(read(hadoop(d), d.resolve("1")).sameElements(payload(700)))
  }

  test("one flipped byte raises ChecksumException") {
    val d = dir()
    write(local(d), d.resolve("3"), payload(1500))
    val bytes = Files.readAllBytes(d.resolve("3"))
    bytes(600) = (bytes(600) ^ 1).toByte
    Files.write(d.resolve("3"), bytes)
    intercept[ChecksumException](read(local(d), d.resolve("3")))
  }

  test("a no-overwrite create on an existing path throws and keeps the original bytes") {
    val d = dir()
    write(local(d), d.resolve("5"), payload(900))
    intercept[FileAlreadyExistsException](write(local(d), d.resolve("5"), payload(40)))
    // the original's sidecar is untouched too: the read verifies it
    assert(read(local(d), d.resolve("5")).sameElements(payload(900)))
    assert(names(d) == Set("5", ".5.crc"))
    write(local(d), d.resolve("5"), payload(40), overwrite = true)
    assert(read(hadoop(d), d.resolve("5")).sameElements(payload(40)))
    assert(names(d) == Set("5", ".5.crc"))
  }

  test("cancel leaves no tmp file and no sidecar") {
    val d = dir()
    val out = local(d).createAtomic(hpath(d.resolve("9")), false)
    out.write(payload(2000))
    assert(names(d).exists(_.endsWith(".tmp")), "the write goes to a hidden tmp file")
    out.cancel()
    out.close() // after cancel: a no-op, nothing is published
    assert(names(d).isEmpty)
  }

  test("list hides sidecars like Hadoop's listing; delete takes the sidecar along") {
    val d = dir()
    Seq("0", "1", "2").foreach(n => write(local(d), d.resolve(n), payload(10)))
    Files.createDirectories(d.resolve("sub"))
    val all = new org.apache.hadoop.fs.PathFilter { def accept(p: Path) = true }
    def listed(m: CheckpointFileManager) = m.list(hpath(d), all).map(_.getPath.getName).toSet
    assert(listed(local(d)) == Set("0", "1", "2", "sub"))
    assert(listed(local(d)) == listed(hadoop(d)))
    val st = local(d).list(hpath(d), all).find(_.getPath.getName == "1").get
    assert(st.getLen == 10 && !st.isDirectory && st.getPath.toUri.getScheme == "file")
    local(d).delete(hpath(d.resolve("1")))
    local(d).delete(hpath(d.resolve("missing"))) // gone already: a no-op
    assert(names(d) == Set("0", ".0.crc", "2", ".2.crc", "sub"))
    assert(local(d).exists(hpath(d.resolve("0"))) && !local(d).exists(hpath(d.resolve("1"))))
    intercept[java.io.FileNotFoundException](local(d).list(hpath(d.resolve("missing")), all))
  }

  test("a non-file path is handed to Spark's FileContext manager") {
    val d = dir()
    val c = new Configuration()
    c.set("fs.viewfs.mounttable.graft.link./ck", d.toUri.toString)
    val m = new LocalCheckpointFileManager(new Path("viewfs://graft/ck"), c)
    assert(!m.isLocal, "a file: path would be local")
    assert(local(d).isLocal)
    val out = m.createAtomic(new Path("viewfs://graft/ck/0"), false)
    out.write(payload(100))
    out.close()
    assert(names(d) == Set("0", ".0.crc"))
    assert(read(local(d), d.resolve("0")).sameElements(payload(100)))
  }

  // --- the start wrapper ---

  /** A conf value of the session the running stream cloned at start. */
  private def streamConf(q: StreamingQuery, key: String): String = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
      .asInstanceOf[org.apache.spark.sql.SparkSession].conf.get(key, "<unset>")
  }
  private def managerOf(q: StreamingQuery): String = streamConf(q, ManagerKey)
  private def shuffleOf(q: StreamingQuery): String = streamConf(q, "spark.sql.shuffle.partitions")

  /** Start through the wrapper, with the session naming `manager` (or no
    * manager) at the time.
    */
  private def startWith(manager: Option[String])
      (writer: => DataStreamWriter[_]): StreamingQuery = {
    manager.foreach(spark.conf.set(ManagerKey, _))
    try StreamHarness.start(spark)(writer)
    finally spark.conf.unset(ManagerKey)
  }

  private def smallLog(): String = {
    val root = TestSpark.tmpDir("ckfm-log")
    new LogWriter(root, "src").produceAll((0 until 5).map(i => Map[String, Any]("i" -> i)))
    root
  }

  private def noopQuery(root: String): DataStreamWriter[_] =
    spark.readStream.format("graftlog").option("path", root).option("stream", "src")
      .option("startingOffsets", "earliest").load()
      .writeStream.format("noop")
      .option("checkpointLocation", TestSpark.tmpDir("ckfm-ckpt"))
      .trigger(Trigger.AvailableNow())

  test("StreamHarness.start installs the manager only while start runs, and never replaces a user's") {
    val root = smallLog()
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    assert(spark.conf.getOption(ManagerKey).isEmpty)
    val width = StreamHarness.StateWidth.toString
    assert(shuffle != width, "the session must differ from the harness width")
    val q = StreamHarness.start(spark)(noopQuery(root))
    q.awaitTermination()
    assert(managerOf(q) == LocalManager && shuffleOf(q) == width)
    assert(spark.conf.getOption(ManagerKey).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffle)
    val own = startWith(Some(SparkManager))(noopQuery(root))
    own.awaitTermination()
    assert(managerOf(own) == SparkManager && shuffleOf(own) == width)
  }

  /** A q342-style pipe, stopped after a first drain and resumed after more
    * produce under the other manager: every entry lands exactly once, in
    * order.
    */
  private def pipeResume(first: Option[String], second: Option[String]): Unit = {
    val root = TestSpark.tmpDir("ckfm-pipe")
    val ckpt = TestSpark.tmpDir("ckfm-pipe-ckpt")
    val w = new LogWriter(root, "src")
    def produce(r: Range): Unit = w.produceAll(r.map(i => Map[String, Any]("i" -> i)))
    def drain(manager: Option[String]): Unit = {
      val q = startWith(manager) {
        spark.readStream.format("graftlog")
          .option("path", root).option("stream", "src")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "15")
          .load()
          .select("values")
          .writeStream.format("graftlog")
          .option("path", root).option("stream", "dst")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
      }
      try {
        assert(managerOf(q) == manager.getOrElse(LocalManager))
        q.awaitTermination()
      } finally q.stop()
    }
    produce(0 until 40)
    drain(first)
    produce(40 until 70)
    drain(second)
    val got = LogStore.readRange(root, "dst", LogId.Zero, LogStore.maxId(root, "dst"))
      .map(_.values("i").toInt)
    assert(got == (0 until 70))
    // five batches, each with its offset and commit entry and their sidecars
    for (log <- Seq("offsets", "commits"))
      assert(names(Paths.get(ckpt, log)) == (0 until 5).flatMap(b => Seq(s"$b", s".$b.crc")).toSet, log)
  }

  test("a graftlog pipe checkpoint moves between Spark's manager and this one exactly once") {
    pipeResume(first = Some(SparkManager), second = None)
    pipeResume(first = None, second = Some(SparkManager))
  }

  /** A stateful count resumed under the other manager: the state store's
    * deltas written by one are read back, checksum-verified, by the other.
    */
  private def stateResume(first: Option[String], second: Option[String]): Unit = {
    val root = TestSpark.tmpDir("ckfm-state")
    val ckpt = TestSpark.tmpDir("ckfm-state-ckpt")
    val w = new LogWriter(root, "src")
    def produce(r: Range): Unit = w.produceAll(r.map(i => Map[String, Any]("k" -> i % 3)))
    def drain(manager: Option[String]): Map[String, Long] = {
      val sink = s"ckfm_state_${System.nanoTime()}"
      val q = startWith(manager) {
        spark.readStream.format("graftlog")
          .option("path", root).option("stream", "src")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "10")
          .load()
          .selectExpr("values['k'] AS k").groupBy("k").count()
          .writeStream.outputMode("complete").format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
      }
      try {
        assert(managerOf(q) == manager.getOrElse(LocalManager))
        q.awaitTermination()
        spark.table(sink).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      } finally { q.stop(); spark.catalog.dropTempView(sink) }
    }
    produce(0 until 30)
    assert(drain(first) == Map("0" -> 10L, "1" -> 10L, "2" -> 10L))
    produce(30 until 45)
    assert(drain(second) == Map("0" -> 15L, "1" -> 15L, "2" -> 15L))
    val deltas = Files.list(Paths.get(ckpt, "state", "0", "0")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".delta")).toSet
    assert(deltas == (1 to 5).map(v => s"$v.delta").toSet)
  }

  test("a stateful checkpoint moves between Spark's manager and this one") {
    stateResume(first = Some(SparkManager), second = None)
    stateResume(first = None, second = Some(SparkManager))
  }
}
