package graft.sources

import java.io.{File, FileInputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch log-file source (SURVEY §2.1 S1/S2): read a log file with a
  * faithful arrival-order `seq`, after the reference's pre-flight checks.
  */
object LogSource {

  /** Magic-byte archive signatures the reference rejects via
    * `filetype.IsArchive` over the first 261 bytes (main.go:44-49) — the
    * formats a log rotation produces. (The 261-byte head can't reach tar's
    * magic at offset 257+5, so tar is undetectable — in the reference too.) */
  private val ArchiveMagics: Seq[Array[Int]] = Seq(
    Array(0x1f, 0x8b), // gzip
    Array(0x50, 0x4b, 0x03, 0x04), // zip
    Array(0x42, 0x5a, 0x68), // bzip2
    Array(0xfd, 0x37, 0x7a, 0x58, 0x5a, 0x00)) // xz

  /** Pre-flight validation mirroring `checkLogFile` (main.go:29-53): file
    * must exist, must not be a directory, must not be an archive. The
    * reference's is-directory branch `return err` actually returns nil — a
    * bug (directories pass validation); here the check is real, documented
    * as the deliberate fix. */
  def checkLogFile(path: String): Unit = {
    val f = new File(path)
    require(f.exists(), s"Can't stat path: $path")
    require(!f.isDirectory, s"It's a directory: $path")
    val head = new Array[Byte](261)
    val in = new FileInputStream(f)
    val n = try in.read(head) finally in.close()
    val isArchive = ArchiveMagics.exists { magic =>
      n >= magic.length && magic.zipWithIndex.forall { case (b, i) => (head(i) & 0xff) == b }
    }
    require(!isArchive, s"File is an archive: $path")
  }

  /** True when the file starts with the gzip magic (1f 8b). */
  def isGzip(path: String): Boolean = {
    val in = new FileInputStream(path)
    val head = new Array[Byte](2)
    val n = try in.read(head) finally in.close()
    n >= 2 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b
  }

  /** Pre-flight for BACKFILL archives: exists / not-a-directory like the
    * live check, but gzip is ACCEPTED — `logrotate compress` (the distro
    * default) means real rotated history is `.1.gz`/`.2.gz`, and an
    * archive is static, so it can decompress as one drained epoch
    * (TailFileMicroBatchStream's backfill scaladoc). The other rotation
    * codecs the reference's magic table names (zip/bzip2/xz) are still
    * rejected — only gzip decode is implemented, and a typo'd path must
    * keep failing fast. */
  def checkBackfillFile(path: String): Unit = {
    val f = new File(path)
    require(f.exists(), s"Can't stat path: $path")
    require(!f.isDirectory, s"It's a directory: $path")
    if (!isGzip(path)) checkLogFile(path)
  }

  /** Max line length the delivery path accepts — the analog of a tail
    * library's line buffer: a "line" longer than this is a corrupt record
    * (missing newline / binary garbage), not a log line. */
  val MaxLineBytes: Int = 1 << 20

  /** S3 tail-error side channel (reference main.go:113-117: a line delivery
    * error increments `errors{type="tail_line"}` and the line is skipped).
    * Spark's text source has no per-line error object; the observable
    * delivery failures are classified here instead: null lines, undecodable
    * bytes (the reader substitutes U+FFFD), over-long unterminated lines.
    *
    * @return input plus `tail_ok: boolean`; route `!tail_ok` lines to the
    *         `tail_line` counter (`QueryMerge.errorCountersWithTail`) and
    *         keep them away from the parser, exactly like the reference's
    *         `continue`. */
  def withDelivery(lines: DataFrame): DataFrame =
    lines.withColumn("tail_ok",
      col("value").isNotNull &&
        octet_length(col("value")) <= MaxLineBytes &&
        !col("value").contains("�"))

  /** Read a single log file as (seq, value) with `seq` = exact line number —
    * the arrival order the keyed merge correlates on. zipWithIndex is the
    * only order-guaranteed batch path for a multi-split text file (SURVEY
    * §7.3); a live, growing log goes through the streaming tail source
    * ([[graft.sources.TailFileSourceProvider]]) instead. */
  def readText(spark: SparkSession, path: String): DataFrame = {
    checkLogFile(path)
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (v, i) => (i, v) }.toDF("seq", "value")
  }
}
