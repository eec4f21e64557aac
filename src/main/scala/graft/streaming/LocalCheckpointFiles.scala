package graft.streaming

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/**
 * The checkpoint file manager every graft session names
 * (`spark.sql.streaming.checkpointFileManagerClass`, set by `GraftConf`):
 * the manager Spark would pick itself, except that an atomic write to Hadoop's
 * checksummed LocalFileSystem goes through java.nio. Without a native
 * libhadoop the inherited write forks a `chmod` per create and a `readlink`
 * per rename, and the offset and commit logs write one file each per
 * trigger. Here the bytes stream into a `.<name>.<uuid>.tmp` sibling while
 * Hadoop's `.crc` sidecar is computed on the fly ("crc\0", the int
 * bytes-per-checksum, one big-endian CRC32 per chunk), so a verifying
 * read still checks it. Publishing is a hard link when
 * overwrite is not allowed — atomic no-clobber, a clash surfacing as
 * Hadoop's `FileAlreadyExistsException`, which the metadata logs turn into
 * Spark's concurrent-writer error — and an atomic rename when it is. No
 * fsync, as in the inherited code; the file mode comes from the umask.
 * A local read verifies the `.crc`: the inherited `FileContext.open(path)`
 * reaches the raw file system and checks nothing (Hadoop 3.4.2), so a
 * flipped byte in `offsets/<n>` would be read back silently on restart.
 * The read goes through the buffer-size overload, whose `ChecksumFs`
 * raises `ChecksumException` and, unlike `LocalFileSystem.open`, neither
 * moves the file to a `bad_files` directory nor forks `df` to find one.
 * Every other method, and every path on another file system, runs the
 * manager Spark picks when no class is named (the FileContext one, or the
 * FileSystem one for a scheme FileContext does not support).
 */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  private val inherited: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(LocalCheckpointFiles.ClassKey)
    CheckpointFileManager.create(path, conf)
  }

  private val local: Option[LocalFileSystem] =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) match {
      case "file" => path.getFileSystem(hadoopConf) match {
        case fs: LocalFileSystem => Some(fs)
        case _ => None
      }
      case _ => None
    }

  private val bytesPerSum = hadoopConf.getInt("file.bytes-per-checksum", 512)

  private lazy val verifying = FileContext.getLocalFSFileContext(hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    local match {
      case Some(fs) =>
        val target = fs.pathToFile(p).toPath
        val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
        new LocalCheckpointFiles.AtomicFile(target, overwriteIfPossible,
          new LocalCheckpointFiles.ChecksummedFile(tmp, bytesPerSum))
      case None => inherited.createAtomic(p, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = local match {
    case Some(_) => verifying.open(p, hadoopConf.getInt("io.file.buffer.size", 4096))
    case None => inherited.open(p)
  }
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = inherited.list(p, filter)
  override def mkdirs(p: Path): Unit = inherited.mkdirs(p)
  override def exists(p: Path): Boolean = inherited.exists(p)
  override def delete(p: Path): Unit = inherited.delete(p)
  override def isLocal: Boolean = inherited.isLocal
  override def createCheckpointDirectory(): Path = inherited.createCheckpointDirectory()
  override def close(): Unit = inherited.close()
}

object LocalCheckpointFiles {
  /** The setting `CheckpointFileManager.create` reads the class name from
    * (`spark.sql.streaming.checkpointFileManagerClass`). */
  val ClassKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Writes `tmp` and accumulates the `.crc` sidecar's bytes as it goes. */
  private final class ChecksummedFile(val tmp: JPath, bytesPerSum: Int) extends OutputStream {
    private val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    private val crcBytes = new ByteArrayOutputStream()
    private val sums = new DataOutputStream(crcBytes)
    sums.write(Array[Byte]('c', 'r', 'c', 0)); sums.writeInt(bytesPerSum)
    private val crc = new CRC32
    private var inChunk = 0

    private def endChunk(): Unit = { sums.writeInt(crc.getValue.toInt); crc.reset(); inChunk = 0 }

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      while (o < off + len) {
        val n = math.min(off + len - o, bytesPerSum - inChunk)
        crc.update(b, o, n); inChunk += n; o += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()

    /** The sidecar's bytes; call once, after the last write. */
    def checksums(): Array[Byte] = { if (inChunk > 0) endChunk(); crcBytes.toByteArray }
  }

  private final class AtomicFile(target: JPath, overwrite: Boolean, file: ChecksummedFile)
      extends CancellableFSDataOutputStream(file) {
    @volatile private var terminated = false
    private val crcTmp = file.tmp.resolveSibling(file.tmp.getFileName.toString.stripSuffix(".tmp") + ".crc.tmp")

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          Files.write(crcTmp, file.checksums(), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          if (overwrite) Files.move(file.tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, file.tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
          Files.move(crcTmp, target.resolveSibling(s".${target.getFileName}.crc"),
            StandardCopyOption.ATOMIC_MOVE)
        } finally removeTemps()
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case scala.util.control.NonFatal(_) => () }
        finally removeTemps()
      }
    }

    private def removeTemps(): Unit = { Files.deleteIfExists(file.tmp); Files.deleteIfExists(crcTmp); () }
  }
}
