package graft.sources.fits

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** Test-only local FileSystem that records every directory listing,
  * `open` and byte read, split into driver-side I/O (no task running on the
  * thread) and task I/O. Routed in through a session's Hadoop conf:
  * [[CountingFileSystem.session]] sets `fs.file.impl` with the
  * FileSystem cache disabled, so only reads that resolve their
  * FileSystem from that session's conf are counted.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    record(Listing, f, 0L)
    super.listStatus(f)
  }

  /** `listFiles` lists each directory through this. */
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    record(Listing, f, 0L)
    super.listLocatedStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record(Open, f, 0L)
    new FSDataInputStream(new Counted(super.open(f, bufferSize), f))
  }

  /** Positioned and sequential reads, each counted once by bytes. */
  private final class Counted(in: FSDataInputStream, f: Path)
      extends FSInputStream {
    private def got(n: Int): Int = { if (n > 0) record(Read, f, n); n }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean =
      in.seekToNewSource(target)
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) got(1)
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      got(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      got(in.read(pos, b, off, len))
    override def readFully(pos: Long, b: Array[Byte], off: Int,
        len: Int): Unit = {
      in.readFully(pos, b, off, len)
      got(len)
    }
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}

object CountingFileSystem {
  sealed trait Kind
  case object Listing extends Kind
  case object Open extends Kind
  case object Read extends Kind

  /** One recorded call: `path` is the URI path (scheme dropped). */
  final case class Event(kind: Kind, path: String, bytes: Long,
      onDriver: Boolean)

  private val events = new ConcurrentLinkedQueue[Event]()

  private def record(kind: Kind, f: Path, bytes: Long): Unit =
    events.add(Event(kind, f.toUri.getPath, bytes, TaskContext.get() == null))

  def reset(): Unit = events.clear()

  /** Events on paths under `root`, in arrival order. */
  def under(root: String): Seq[Event] =
    events.asScala.filter(_.path.startsWith(root)).toSeq

  /** A new session of `base`'s context whose Hadoop conf routes `file:`
    * through this class. */
  def session(base: SparkSession): SparkSession = {
    val s = base.newSession()
    s.conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s
  }
}
