package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ByteFmt.parse_bytes

/** Parse ClickHouse server-log lines into a typed event DataFrame.
  *
  * Re-expresses the reference's per-line dispatch (/root/reference/query.go:47-79)
  * as one declarative projection: a cheap severity prefilter
  * (query.go:49-51), then the four patterns (query.go:15-18) evaluated by
  * the fused single-pass [[graft.functions.LogLineParseExpr]] expression,
  * first match wins in the reference's order initial → stats → error →
  * memory.
  *
  * Each pattern is additionally guarded by a `contains` check on a literal
  * substring the regex requires anyway (e.g. "<Debug> executeQuery:"), so the
  * expensive regex only runs on lines that can possibly match — the same
  * cost-ordering trick the reference hand-codes, expressed as short-circuit
  * `when` chains that whole-stage codegen compiles to straight-line Java.
  *
  * Scale: embarrassingly parallel (per-line, no shuffle); runs inside a single
  * WholeStageCodegen stage on top of the text scan.
  *
  * Conversion failures (unparseable timestamp, overflow, fractional rps,
  * bad byte size — query.go:96-116,150-176,209-222,255-260) yield
  * `cv_ok = false`; [[QueryMerge]] routes them to the `convert` error counter
  * exactly where the reference does (conversion happens only after the state
  * lookup for non-initial events).
  */
object LogParser {

  /** Timestamp prefix shared by all four patterns (query.go:15-18). */
  val DtRe: String =
    """\d{1,4}[.\-/]\d{1,2}[.\-/]\d{1,4} \d{1,2}:\d{1,2}:\d{1,2}\.\d{1,6}"""

  /** groups: 1 dt, 2 pid, 3 id, 4 host, 5 port, 6 additional, 7 query — query.go:15 */
  val InitialRe: String = "^(" + DtRe +
    """) \[ (\d+) \] \{(.*)\} <Debug> executeQuery: \(from ((?:[0-9]{1,3}\.){3}[0-9]{1,3}):(\d+)(.*?)\) (.*)$"""

  /** groups: 1 dt, 2 pid, 3 id, 4 rows, 5 bytes, 6 elapsed (unused), 7 rps, 8 speed — query.go:16.
    * The unescaped dots and trailing `[/\w]+.` are kept verbatim from the reference. */
  val StatsRe: String = "^(" + DtRe +
    """) \[ (\d+) \] \{(.*)\} <Information> executeQuery: Read (\d+) rows, ([.\d]+ \w+) in ([.\d]+) sec., ([.\d]+) rows/sec., ([.\d]+ \w+)[/\w]+.$"""

  /** groups: 1 dt, 2 pid, 3 id, 4 bytes — query.go:17 */
  val MemoryRe: String = "^(" + DtRe +
    """) \[ (\d+) \] \{(.*)\} <Debug> MemoryTracker: Peak memory usage \(for query\): ([.\d]+ \w+).$"""

  /** groups: 1 dt, 2 pid, 3 id, 4 code, 5 message — query.go:18 */
  val ErrorRe: String = "^(" + DtRe +
    """) \[ (\d+) \] \{(.*)\} <Error> executeQuery: Code: (\d+), e\.displayText\(\) = (.*)$"""

  /** Only dot-separated dates parse (reference layout "2006.01.02 15:04:05.999999",
    * query.go:110); dashed/slashed dates regex-match but fail conversion. */
  val TsFormat = "yyyy.MM.dd HH:mm:ss.SSSSSS"

  /** First-keyword statement classifier mirroring `sqlparser.Preview` +
    * `getStmtType` (/root/reference/query.go:276-289). Preview's
    * `StripLeadingComments` strips EXACTLY: whitespace, slash-star block
    * comments EXCEPT version comments (a leading slash-star-bang is kept —
    * Preview classifies it StmtComment → "other"), and `--` line comments
    * TERMINATED BY a newline (an unterminated `--...` is kept); it never
    * strips `#`. Then first whitespace-token, leading non-letters stripped,
    * lowercased; select/insert/update/delete, everything else "other".
    */
  def stmtType(q: Column): Column = {
    val noComments =
      regexp_replace(q, "(?s)^(?:\\s+|/\\*(?!!).*?\\*/|--[^\\n]*\\n)+", "")
    val word = lower(regexp_replace(regexp_extract(noComments, "^(\\S+)", 1), "^[^a-zA-Z]+", ""))
    when(word.isin("select", "insert", "update", "delete"), word).otherwise("other")
  }

  /** strconv.ParseInt(..., 10, 64) semantics for unsigned digit runs: any
    * count of digits parses as long as the value fits int64; true overflow
    * (and non-digit input) is a convert failure. The 19-digit case is guarded
    * through decimal(20,0) because an ANSI string→long cast would throw. */
  private def digitsToLong(c: Column): Column =
    when(c.rlike("^\\d{1,18}$"), c.cast("long"))
      .when(c.rlike("^\\d{19}$") &&
        c.cast("decimal(20,0)") <= lit(Long.MaxValue).cast("decimal(20,0)"),
        c.cast("decimal(20,0)").cast("long"))

  /** @param lines DataFrame with `seq: long` (arrival order) and `value: string`.
    *         Any OTHER columns pass through unchanged (the tail-fleet path
    *         carries a per-file `src` tag alongside each line).
    * @return typed event frame: seq, kind, id, pid, ts, host, port, query_text,
    *         stmt_type, rows_read, bytes_read, rps, speed, memory, error_code,
    *         error_message, cv_ok [, passthrough columns]
    *
    * The classify+extract step is the fused [[graft.functions.LogLineParseExpr]]
    * — severity prefilter, guarded dispatch, and one regex pass per line in a
    * single expression (the M7 upgrade; the reference's hand-fused loop shape).
    */
  def parse(lines: DataFrame): DataFrame = parseImpl(lines, dropUnmatched = true)

  /** [[parse]] keeping EVERY input line: non-matching lines (and, when a
    * `tail_ok` column is present, delivery-failed lines — which are never
    * regex'd, like the reference's `continue` at main.go:113-117) come out
    * as `kind = null` rows with `cv_ok = false`. This is what lets the
    * streaming serving path count `read_lines`/`tail_line` in the SAME
    * scan that feeds the parser instead of a second source read
    * ([[graft.streaming.StreamingMerge.mergeWithDelivery]]). */
  def parseKeepAll(delivered: DataFrame): DataFrame =
    parseImpl(delivered, dropUnmatched = false)

  private def parseImpl(lines: DataFrame, dropUnmatched: Boolean): DataFrame = {
    import graft.functions.LogLineParse.log_line_parse

    val pExpr =
      if (lines.columns.contains("tail_ok"))
        when(col("tail_ok"), log_line_parse(col("value")))
      else log_line_parse(col("value"))
    val withP = lines.withColumn("p", pExpr)
    val tagged = (if (dropUnmatched) withP.filter(col("p").isNotNull) else withP)
      .withColumn("kind",
        when(col("p").isNull, lit(null).cast("string"))
          .when(col("p.kind") === 0, "initial")
          .when(col("p.kind") === 1, "stats")
          .when(col("p.kind") === 2, "error")
          .otherwise("memory"))

    val g = col("p.groups")
    def grp(kindName: String, i: Int): Column =
      when(col("kind") === kindName, element_at(g, i))
    val dt = element_at(g, 1)
    val pid = digitsToLong(element_at(g, 2))
    val ts = try_to_timestamp(dt, lit(TsFormat))
    val port = digitsToLong(grp("initial", 5))
    val rows = digitsToLong(grp("stats", 4))
    val bytes = parse_bytes(grp("stats", 5))
    val rps = digitsToLong(grp("stats", 7))
    val speed = parse_bytes(grp("stats", 8))
    val mem = parse_bytes(grp("memory", 4))
    // strconv.ParseInt(code, 10, 16): out-of-int16-range is a convert failure
    val codeRaw = digitsToLong(grp("error", 4))
    val code = when(codeRaw <= 32767, codeRaw)

    val passthrough = lines.columns.toSeq
      .filterNot(Set("seq", "value").contains).map(col)
    tagged.select(Seq(
      col("seq"),
      col("kind"),
      element_at(g, 3).as("id"),
      pid.as("pid"),
      when(col("kind").isin("initial", "memory"), ts).as("ts"),
      grp("initial", 4).as("host"),
      port.as("port"),
      grp("initial", 7).as("query_text"),
      when(col("kind") === "initial", stmtType(element_at(g, 7))).as("stmt_type"),
      rows.as("rows_read"),
      bytes.as("bytes_read"),
      rps.as("rps"),
      speed.as("speed"),
      mem.as("memory"),
      code.as("error_code"),
      grp("error", 5).as("error_message"),
      when(col("kind") === "initial", pid.isNotNull && port.isNotNull && ts.isNotNull)
        .when(col("kind") === "stats",
          rows.isNotNull && bytes.isNotNull && rps.isNotNull && speed.isNotNull)
        .when(col("kind") === "error", code.isNotNull)
        .otherwise(ts.isNotNull && mem.isNotNull)
        .as("cv_ok")) ++ passthrough: _*)
  }
}
