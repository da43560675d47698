package graft.sources

import java.util.ConcurrentModificationException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** The format-neutral commit core behind [[DeltaWrite]] and
  * [[IcebergWrite]]. Every table write runs the same three steps, and
  * each lives here once:
  *
  *  1. [[stage]] — data files are written into a writer-private hidden
  *     directory and moved into the table; the moved list IS the
  *     write's file set, so no directory-listing diff can cross-claim a
  *     concurrent writer's in-flight files;
  *  2. validate — each format re-checks a lost race against its own
  *     conflict rules, inside [[retry]];
  *  3. [[publish]] — the conditional, content-atomic create of the
  *     next log/metadata version; a taken slot is a lost race.
  *
  * Log-action encoding, manifest/metadata assembly and the conflict
  * rules themselves stay per format. */
private[graft] object TableCommit {

  /** lost races a commit absorbs before surfacing the conflict */
  val MaxCommitRetries = 5

  /** one data file a [[stage]] call produced: table-relative path, byte
    * size, row count, and its parquet footer (the stats source — the
    * footer is opened exactly once per file) */
  final case class Staged(rel: String, size: Long, rows: Long,
      footer: ParquetMetadata)

  /** STAGE-then-MOVE write: `run` writes parquet into a writer-private
    * hidden `.staging-*` dir under `root`; every non-empty produced
    * file is then renamed under `root/destPrefix` (nested dirs kept)
    * and returned. Zero-row files (a task whose every row died) are
    * dropped with the staging dir. Renames are same-volume moves on
    * HDFS/local FS. */
  def stage(fs: FileSystem, root: Path, destPrefix: String)
      (run: String => Unit): Seq[Staged] = {
    val staging = new Path(root,
      s".staging-${java.util.UUID.randomUUID().toString.take(12)}")
    withParquetWriteConf(run(staging.toString))
    def inner(dir: Path, prefix: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) inner(st.getPath, s"$prefix$name/")
        else if (name.endsWith(".parquet")) Seq((s"$prefix$name", st))
        else Seq.empty
      }
    val moved = parMap(inner(staging, "")) { case (in, st) =>
      val footer = readFooter(fs, st.getPath)
      val rows = rowCount(footer)
      if (rows == 0L) scala.None
      else {
        val rel = if (destPrefix.isEmpty) in else s"$destPrefix/$in"
        val dest = new Path(root, rel)
        Option(dest.getParent).foreach(fs.mkdirs)
        require(fs.rename(st.getPath, dest),
          s"could not move staged data file $in into $dest")
        // rename preserves mtime, so a data phase longer than the
        // orphan-retention window would leave the moved-but-uncommitted
        // file already outside the protection window; re-stamp the
        // clock at MOVE time so the window starts when the file becomes
        // visible in the table
        fs.setTimes(dest, System.currentTimeMillis(), -1)
        Some(Staged(rel, st.getLen, rows, footer))
      }
    }.flatten
    fs.delete(staging, true)
    moved
  }

  /** Parquet write settings every table data file needs, scoped to
    * `body` on the active session: INT64 micros is the stats-bearing
    * timestamp encoding (Spark's INT96 default is a deprecated legacy
    * type with NO usable column statistics and is not Iceberg-spec
    * conformant), and field-id writes carry `parquet.field.id` column
    * metadata (Iceberg's id-based, rename-proof resolution). */
  private def withParquetWriteConf[T](body: => T): T = {
    val sparkOpt = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val keys = Seq(
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    sparkOpt match {
      case scala.None => body
      case Some(spark) =>
        val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
        keys.foreach { case (k, v) => spark.conf.set(k, v) }
        try body
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, scala.None) => spark.conf.unset(k)
        }
    }
  }

  /** one metadata-only footer read */
  def readFooter(fs: FileSystem, file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, fs.getConf))
    try r.getFooter finally r.close()
  }

  def rowCount(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.map(_.getRowCount).sum

  /** CONDITIONAL publish of a commit's version file via content-atomic
    * rename ([[AtomicFiles]]): of two writers racing to the same
    * version exactly one lands, the other gets
    * ConcurrentModificationException, and no reader ever observes a
    * torn file. `format` names the table format in the message. */
  def publish(fs: FileSystem, file: Path, content: String, format: String): Unit =
    try AtomicFiles.publishUtf8(fs, file, content, overwrite = false)
    catch { case e: java.io.IOException => throw slotTaken(format, file, e) }

  /** the lost-race error for a version slot another writer already took */
  def slotTaken(format: String, file: Path,
      cause: Throwable = null): ConcurrentModificationException =
    new ConcurrentModificationException(
      s"concurrent $format commit detected: $file already exists — " +
        "another writer committed this version; re-read the table and retry",
      cause)

  /** THE optimistic-concurrency loop: run `body` until it does not
    * lose a commit race (ConcurrentModificationException), at most
    * `maxRetries` times more. After each lost race `revalidate` re-reads
    * the table and either prepares the next attempt or throws to abort
    * (a winner that conflicts with what this write read). */
  def retry[T](maxRetries: Int = MaxCommitRetries,
      revalidate: ConcurrentModificationException => Unit = _ => ())(body: => T): T = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          revalidate(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Crashed writers leave `.staging-*` dirs in the table root, which
    * readers and orphan listings rightly ignore (in-flight files must
    * not be claimable) — so table maintenance is the only reclamation
    * point: delete those whose mtime is at or before `cutoff` (a LIVE
    * writer's staging dir is younger than any sane retention window). */
  def sweepStaleStaging(fs: FileSystem, root: Path, cutoff: Long): Unit =
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
            st.getModificationTime <= cutoff)
          fs.delete(st.getPath, true)
      }

  /** bounded driver-side parallel map for per-file METADATA I/O
    * (parquet footer reads, staged-file moves): a partitioned write can
    * touch thousands of files, and a sequential walk single-cores the
    * commit. Order-preserving; exceptions propagate. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(8) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) })
        }
        futs.map(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdown()
    }

  /** JSON string literal with full control-char escaping */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
