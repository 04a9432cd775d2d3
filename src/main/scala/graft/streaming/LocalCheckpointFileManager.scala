package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileNotFoundException, IOException, OutputStream}
import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption, Path => NioPath, Paths => NioPaths}
import java.util.UUID
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._

/** A checkpoint file manager for `file:` paths that writes the same bytes as
  * Spark's default one, without going through Hadoop's local `FileContext`.
  *
  * Where libhadoop is not loaded, every local `FileContext` create, mkdir and
  * rename sets permissions by spawning `chmod`/`ls`: one offset-log or
  * commit-log entry or state-store delta then costs tens of milliseconds of
  * process start-up, on every micro-batch. Here:
  *  - `createAtomic` streams into a hidden tmp file next to the target while
  *    computing Hadoop's per-chunk CRC32 (`file.bytes-per-checksum` bytes a
  *    chunk, 512 by default), then publishes the `.<name>.crc` sidecar and
  *    then the data file. With `overwriteIfPossible = false` the data file is
  *    published with a hard link, which never replaces an existing file; an
  *    existing target raises Hadoop's `FileAlreadyExistsException`, which
  *    `HDFSMetadataLog` reports as a concurrent writer. `cancel` removes the
  *    tmp file and its sidecar.
  *  - `open` reads through Hadoop's `LocalFileSystem`, which verifies the
  *    sidecar and starts no process.
  *  - `list` (sidecars hidden, as Hadoop's checksummed listing does),
  *    `mkdirs`, `exists` and `delete` (sidecar included) use java.nio.
  *
  * A checkpoint written by either manager is read and resumed by the other.
  * Paths of any other scheme are handed to Spark's
  * `FileContextBasedCheckpointFileManager`.
  *
  * Selected with `spark.sql.streaming.checkpointFileManagerClass`;
  * [[StreamHarness.start]] sets it for every streaming query the engine
  * starts.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val remote: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") None else Some(new FileContextBasedCheckpointFileManager(path, conf))
  }
  private val bytesPerChecksum = conf.getInt(BytesPerChecksumKey, 512)
  private lazy val localFs = FileSystem.getLocal(conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream](
      newStream(local(p), overwriteIfPossible, bytesPerChecksum))(
      _.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    remote.fold(localFs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = remote match {
    case Some(m) => m.list(p, filter)
    case None =>
      val dir = local(p)
      if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
      val children =
        if (!Files.isDirectory(dir)) Iterator(dir)
        else {
          val s = Files.newDirectoryStream(dir)
          try s.iterator().asScala.filterNot(c => isSidecar(c.getFileName.toString)).toList.iterator
          finally s.close()
        }
      children.flatMap(status).filter(st => filter.accept(st.getPath)).toArray
  }

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(Files.exists(local(p)))(_.exists(p))

  override def delete(p: Path): Unit = remote.fold(deleteTree(local(p)))(_.delete(p))

  override def isLocal: Boolean = remote.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = remote match {
    case Some(m) => m.createCheckpointDirectory()
    case None =>
      val dir = local(path)
      Files.createDirectories(dir)
      qualified(dir)
  }

  override def close(): Unit = remote.foreach(_.close())
}

object LocalCheckpointFileManager {
  private val BytesPerChecksumKey = "file.bytes-per-checksum"
  // the block size Hadoop's local file system reports (fs.local.block.size)
  private val LocalBlockSize = 32L << 20

  private def local(p: Path): NioPath = NioPaths.get(p.toUri.getPath).toAbsolutePath

  private def qualified(p: NioPath): Path = new Path("file", null, p.toString)

  private def isSidecar(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

  /** Hadoop's checksum file for `p`: `.<name>.crc` in the same directory. */
  private def sidecarOf(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  private def status(p: NioPath): Option[FileStatus] =
    try {
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      Some(new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1, LocalBlockSize,
        a.lastModifiedTime.toMillis, qualified(p)))
    } catch { case _: NoSuchFileException => None } // removed since the listing

  private def deleteTree(p: NioPath): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(deleteTree) finally s.close()
    } else Files.deleteIfExists(sidecarOf(p))
    Files.deleteIfExists(p)
  }

  /** Hadoop's checksum file layout: the magic `crc\0`, the chunk size, then
    * one big-endian CRC32 per chunk of data (the last chunk may be short).
    */
  private final class Sidecar(val bytesPerChecksum: Int) {
    private val buf = new ByteArrayOutputStream()
    private val sums = new DataOutputStream(buf)
    private val crc = new CRC32
    private var inChunk = 0
    sums.write(Array[Byte]('c', 'r', 'c', 0))
    sums.writeInt(bytesPerChecksum)

    def update(b: Int): Unit = {
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerChecksum) endChunk()
    }

    def update(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var left = len
      while (left > 0) {
        val n = math.min(left, bytesPerChecksum - inChunk)
        crc.update(b, o, n)
        inChunk += n
        o += n
        left -= n
        if (inChunk == bytesPerChecksum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    def result(): Array[Byte] = {
      if (inChunk > 0) endChunk()
      buf.toByteArray
    }
  }

  private final class ChecksummedFile(file: NioPath, bytesPerChecksum: Int) extends OutputStream {
    val sidecar = new Sidecar(bytesPerChecksum)
    private val out = new BufferedOutputStream(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
    override def write(b: Int): Unit = { out.write(b); sidecar.update(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      sidecar.update(b, off, len)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  private def move(from: NioPath, to: NioPath): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  /** Write `bytes` as `target`'s sidecar through `tmp`'s sidecar name. */
  private def publishSidecar(tmp: NioPath, bytes: Array[Byte], target: NioPath): Unit = {
    Files.write(sidecarOf(tmp), bytes)
    move(sidecarOf(tmp), sidecarOf(target))
  }

  private def newStream(target: NioPath, overwrite: Boolean,
      bytesPerChecksum: Int): CancellableFSDataOutputStream = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new AtomicFileStream(target, tmp, new ChecksummedFile(tmp, bytesPerChecksum), overwrite)
  }

  private final class AtomicFileStream(target: NioPath, tmp: NioPath, file: ChecksummedFile,
      overwrite: Boolean) extends CancellableFSDataOutputStream(file) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          file.close()
          if (!overwrite && Files.exists(target)) throw exists()
          publishSidecar(tmp, file.sidecar.result(), target)
          if (overwrite) move(tmp, target)
          else try Files.createLink(target, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // a concurrent writer published between the check and the
              // link, perhaps before this one replaced its sidecar: derive
              // the sidecar again from the bytes that won
              val again = new Sidecar(file.sidecar.bytesPerChecksum)
              val bytes = Files.readAllBytes(target)
              again.update(bytes, 0, bytes.length)
              publishSidecar(tmp, again.result(), target)
              throw exists()
          }
        } finally {
          Files.deleteIfExists(tmp)
          Files.deleteIfExists(sidecarOf(tmp))
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try file.close() catch { case _: IOException => () }
        Files.deleteIfExists(tmp)
        Files.deleteIfExists(sidecarOf(tmp))
      }
    }

    private def exists() = new FileAlreadyExistsException(s"$target already exists")
  }
}
