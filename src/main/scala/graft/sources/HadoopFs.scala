package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Executor-safe Hadoop FileSystem plumbing for the custom format writers
  * (ZNG/VNG). The driver's Hadoop configuration is captured as a plain
  * `Map[String, String]` (serializable), and each task rebuilds a
  * `Configuration` from it so writes go through `FileSystem.create` — on a
  * real cluster the part files land on the shared filesystem (HDFS, S3A,
  * file: on NFS), not executor-local disk as `java.nio.file` would.
  *
  * `file:` paths resolve to [[NioLocalFileSystem]] in every session
  * `GraftSession.configure` builds (`fs.file.impl`). Without Hadoop's
  * native library, the stock local filesystem sets the mode of every file,
  * checksum file and directory it creates by forking `chmod`; this one
  * sets it in-process. Every other scheme keeps its stock filesystem.
  */
object HadoopFs {

  /** Serializable snapshot of the session's Hadoop configuration. */
  def confMap(spark: SparkSession): Map[String, String] =
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap

  private def confOf(m: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Driver-side: ensure the output directory exists, created FRESH —
    * overwrite semantics like every built-in `mode("overwrite")` sink. A
    * bare mkdirs would leave stale part files from a previous (possibly
    * wider-partitioned) write mixed into the new output.
    */
  def prepareDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true): Unit
    fs.mkdirs(p): Unit
  }

  /** Executor-side: open a part file for writing under `dir`. */
  def create(conf: Map[String, String], dir: String, name: String): java.io.OutputStream = {
    val p = new Path(dir, name)
    p.getFileSystem(confOf(conf)).create(p, true)
  }

  /** Driver-side listing with one retry on transient emptiness — the
    * single place a format reader touches the directory. Downstream
    * loads get the explicit file list, never a glob, so a read
    * immediately after a write can't race a second, inconsistent
    * listing — the behavior you want on an eventually-consistent
    * object store. (Replaces the old retryListing glob-and-retry, whose
    * FileNotFoundException rescue papered over the race.)
    */
  def dataFiles(spark: SparkSession, path: String): Seq[String] =
    dataStatuses(spark, path).map(_._1)

  /** [[dataFiles]] with each file's status from the same listing. */
  private def dataStatuses(spark: SparkSession, path: String): Seq[(String, FileStatus)] = {
    val first =
      try listStatuses(spark, path)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (first.nonEmpty) first
    else { Thread.sleep(500); listStatuses(spark, path) }
  }

  private final case class Entry[M](len: Long, mtime: Long, meta: M)

  /** Per-file discovery with a driver-side cache: `scan` runs on the
    * executors, one task per file, for the files whose (length, mtime)
    * changed since the last call — re-reading a path (interactive
    * sessions, a service, repeated queries over the same objects) lists
    * it and runs no job, like a metastore's file-statistics cache. A
    * rewrite under the same name replaces its entry.
    */
  final class Discovery[M: scala.reflect.ClassTag](scan: (Map[String, String], String) => M) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry[M]]

    /** Each data file under `path` with its length and record, in listing
      * order ([[dataFiles]], one retry on an empty listing).
      */
    def apply(spark: SparkSession, path: String): Seq[(String, Long, M)] = {
      val listed = dataStatuses(spark, path).map { case (f, st) =>
        (f, st.getLen, st.getModificationTime)
      }
      val hits = listed.map { case (f, len, mt) =>
        Option(cache.get(f)).filter(e => e.len == len && e.mtime == mt)
      }
      val missing = listed.zip(hits).collect { case (f, None) => f }
      val fresh = if (missing.isEmpty) Map.empty[String, Entry[M]] else {
        val conf = confMap(spark)
        val run = scan
        val scanned = spark.sparkContext.parallelize(missing.map(_._1), missing.length)
          .map(run(conf, _))
          .collect()
        // bound the cache for long-lived sessions (service): evict only
        // entries outside the current listing
        if (cache.size > 200000) {
          val keep = listed.iterator.map(_._1).toSet
          cache.keySet.removeIf(k => !keep.contains(k)): Unit
        }
        missing.iterator.zip(scanned).map { case ((f, len, mt), m) =>
          val e = Entry(len, mt, m)
          cache.put(f, e)
          f -> e
        }.toMap
      }
      listed.zip(hits).map { case ((f, len, _), hit) =>
        (f, len, hit.getOrElse(fresh(f)).meta)
      }
    }
  }

  /** Binary contents of a path's data files, loaded by explicit file
    * list (one driver-side listing, no re-glob).
    */
  def binaryFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(dataFiles(spark, path): _*)

  /** Driver-side directory test that works for any Hadoop scheme. */
  def isDirectory(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.getFileStatus(p).isDirectory catch { case _: java.io.FileNotFoundException => false }
  }

  /** Driver-side: the data files under `path` (itself, if a plain file) —
    * marker/hidden entries (_SUCCESS, .crc) skipped, name-sorted for
    * deterministic planning.
    */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] =
    listStatuses(spark, path).map(_._1)

  private def listStatuses(spark: SparkSession, path: String): Seq[(String, FileStatus)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(path -> st)
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.toString -> s).sortBy(_._1)
  }

  /** Executor-side positioned reads — the columnar segment fetch for VNG:
    * one open stream per file, `readFully(pos, …)` per segment, so a
    * pruned scan touches only the byte ranges of the columns it needs
    * (the point of a columnar format on a 100 TB object store).
    */
  final class RangeReader(conf: Map[String, String], path: String) extends AutoCloseable {
    private val p = new Path(path)
    private val fs = p.getFileSystem(confOf(conf))
    private val in = fs.open(p)
    lazy val length: Long = fs.getFileStatus(p).getLen
    def read(pos: Long, len: Int): Array[Byte] = {
      val buf = new Array[Byte](len)
      in.readFully(pos, buf)
      buf
    }
    def close(): Unit = in.close()
  }

  /** Executor-side STREAMING open — constant memory regardless of file
    * size (text scans must never materialize a whole object; a 100 TB
    * store has multi-GB log files).
    */
  def open(conf: Map[String, String], path: String): java.io.InputStream = {
    val p = new Path(path)
    p.getFileSystem(confOf(conf)).open(p)
  }

  /** Executor-side: read a file fully (zng streams decode from a byte
    * array; part files are bounded by the writing partition's size).
    */
  def readAll(conf: Map[String, String], path: String): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(confOf(conf))
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]]:
  * same files, same `.crc` checksums, same modes, but no process per
  * `setPermission`. Registered for the `file:` scheme only.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` calls
  * `Files.setPosixFilePermissions` where that sets the mode `chmod` would.
  * Without the native library the stock version runs `chmod` in a child
  * process for each file and directory it creates (and for each `.crc`).
  * It defers to that version for a sticky bit, for a directory carrying
  * setuid/setgid bits (GNU `chmod` keeps them under a four-digit mode,
  * `chmod(2)` clears them) and on a file store without POSIX attributes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !setInProcess(pathToFile(p).toPath, permission.toString))
      super.setPermission(p, permission)

  /** Set `rwx` (e.g. `rw-r--r--`) unless `chmod` must: false, and nothing
    * set, for a directory with setuid/setgid bits or a non-POSIX store.
    */
  private def setInProcess(file: java.nio.file.Path, rwx: String): Boolean =
    try {
      val mode = java.nio.file.Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val dirWithIdBits = (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
      if (!dirWithIdBits)
        java.nio.file.Files.setPosixFilePermissions(file,
          java.nio.file.attribute.PosixFilePermissions.fromString(rwx))
      !dirWithIdBits
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException => false
    }
}
