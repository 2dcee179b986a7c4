package graft.sources.fits

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** File discovery with the reference's surface (FitsSourceRelation.scala:
  * 133-177): a single file, a directory (recursive, keeps only `*.fits`),
  * a glob pattern, or a comma-separated combination of those.
  */
object FitsFiles {

  def resolve(pathSpec: String, conf: Configuration): Seq[Path] = {
    val out = pathSpec.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap(one(_, conf))
    if (out.isEmpty)
      throw new IllegalArgumentException(
        s"No FITS files found for path '$pathSpec'")
    out
  }

  private def one(spec: String, conf: Configuration): Seq[Path] = {
    val path = new Path(spec)
    val fs = path.getFileSystem(conf)
    val status =
      try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    status match {
      case Some(st) if st.isDirectory => listFits(fs, path)
      case Some(_) => Seq(path)
      case None =>
        // not a literal path — try as a glob
        val matched = Option(fs.globStatus(path)).getOrElse(Array.empty)
        matched.toSeq.flatMap { st =>
          if (st.isDirectory) listFits(fs, st.getPath) else Seq(st.getPath)
        }
    }
  }

  /** The driver's resolved Hadoop settings (defaults and site files
    * included), shipped to tasks so object-store credentials and FS
    * settings reach executors; [[taskConf]] rebuilds them there. */
  def shipConf(conf: Configuration): Array[(String, String)] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
  }

  /** A task-side Configuration holding exactly the shipped settings.
    * Built without default resources: the shipped set already holds
    * them, so parsing core-default.xml/core-site.xml again per task is
    * pure overhead. */
  def taskConf(props: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Bounded driver-side parallel map (used for per-file header walks —
    * one small positioned read per HDU, latency-bound on object stores).
    */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import java.util.concurrent.Executors
      import scala.concurrent._
      import scala.concurrent.duration.Duration
      val pool = Executors.newFixedThreadPool(math.min(threads, xs.length))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
      finally pool.shutdown()
    }

  /** Every `*.fits` file under `dir`, at any depth, sorted by path.
    * Plain `listStatus` per directory: `listFiles` also fetches each
    * file's block locations and, on the local FS, its owner and
    * permissions — milliseconds per file, none of it used here. */
  private def listFits(fs: FileSystem, dir: Path): Seq[Path] = {
    val buf = Seq.newBuilder[Path]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && st.getPath.getName.toLowerCase.endsWith(".fits"))
        buf += st.getPath
    }
    walk(dir)
    buf.result().sortBy(_.toString)
  }
}
