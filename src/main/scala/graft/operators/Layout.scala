package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DATA-LAYOUT operators — write-time clustering that makes 100 TB scans
  * cheap to PRUNE. A table range-partitioned and sorted by one column
  * prunes min/max file statistics on that column only; interleaving the
  * bits of TWO keys into one Z-VALUE (Morton code) and range-clustering
  * on it makes every contiguous chunk a small rectangle in (a, b) space,
  * so per-file min/max stats prune box predicates on BOTH dimensions —
  * the standard multi-dimensional layout trick (Z-ordering), here as a
  * plain declarative column + `repartitionByRange`, nothing custom at
  * execution time.
  *
  * Everything is exact BIGINT mask-shift arithmetic, so the z-values
  * hash-match a DuckDB replay (`layout_zorder`); the PRUNING benefit —
  * not expressible as a row oracle — is pinned by a live spec that lays
  * the same table out z-ordered vs 1-D-sorted and counts chunks a 2-D box
  * query touches (ScaleTechniquesSpec). */
object Layout {

  /** Spread the low 16 bits of `x` onto the even bit positions 0,2,…,30 —
    * the classic mask-shift cascade, four exactly-reproducible BIGINT
    * steps, no loop, fully codegen'd. */
  private[operators] def spreadBits(x: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(x.bitwiseAND(lit(0xFFFFL))) { case (c, (s, mask)) =>
        c.bitwiseOR(shiftleft(c, s)).bitwiseAND(lit(mask))
      }

  /** The same cascade as a DuckDB expression over `e` (kept textually next
    * to [[spreadBits]] so the two cannot drift apart). */
  private def spreadSql(e: String): String =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(s"(($e) & 65535)") { case (c, (s, mask)) =>
        s"(($c | ($c << $s)) & $mask)"
      }

  /** The 32-bit Morton code of two 16-bit keys: `a`'s bits on the even
    * positions, `b`'s on the odd. */
  def zValue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Min/max normalization of `raw` onto `[0, scale]` as a Spark SQL
    * expression string — OVERFLOW-SAFE: the naive `(raw - lo) * scale`
    * wraps silently once the key range exceeds 2^63/scale (a
    * microsecond-scale raw key is ~2^50 already), and Spark wraps where
    * DuckDB raises, so the two sides would fail DIFFERENTLY. Ranges at or
    * above `guard` pre-shift both the offset and the range down 31 bits
    * first (range>>31 < 2^32, so ×scale stays far under 2^63); narrow
    * ranges take shift 0 and are bit-identical to the unshifted formula.
    * The conditional shift is plain BIGINT arithmetic both engines
    * replay exactly ([[normSql]] is the same text, operator-translated).
    *
    * CONTRACT BOUND (ADVICE r12): a key range of 2^63 or more wraps the
    * `hi - lo` detector itself — DuckDB raises on that subtraction, and
    * no shift-based rescue can replay exactly across engines. Such ranges
    * are OUT OF CONTRACT, enforced with failure PARITY: the wrapped
    * (negative) range trips `assert_true`, so Spark fails as loudly as
    * DuckDB does instead of silently z-ordering garbage. */
  private def normExpr(raw: String, lo: String, hi: String,
      scale: Long, guard: Long): String = {
    val sh = s"(CASE WHEN $hi - $lo >= ${guard}L THEN 31 ELSE 0 END)"
    val ok = s"assert_true($hi - $lo >= 0L, " +
      "'z-order key range spans >= 2^63 - out of the normalization contract')"
    s"(CASE WHEN $ok IS NULL THEN " +
      s"(shiftright($raw - $lo, $sh) * $scale) div greatest(shiftright($hi - $lo, $sh), 1) END)"
  }

  /** [[normExpr]]'s DuckDB twin (kept textually adjacent so the two cannot
    * drift): same conditional pre-shift, `>>` for shiftright. No explicit
    * range assert: DuckDB RAISES on the `hi - lo` overflow itself, which
    * is exactly the failure the Spark side's `assert_true` mirrors. */
  private def normSql(raw: String, lo: String, hi: String,
      scale: Long, guard: Long): String = {
    val sh = s"(CASE WHEN $hi - $lo >= $guard THEN 31 ELSE 0 END)"
    s"((($raw - $lo) >> $sh) * $scale) // greatest((($hi - $lo) >> $sh), 1)"
  }

  /** Largest range the ×65535 normalization multiplies without BIGINT
    * overflow is (2^63−1)/65535 ≈ 2^47.07; guard at 2^47. */
  private[operators] val Guard16: Long = 1L << 47
  /** ×1023 overflows past (2^63−1)/1023 ≈ 2^53.01; guard at 2^53. */
  private[operators] val Guard10: Long = 1L << 53

  /** The 16-bit normalization as a Column over literal-named inputs —
    * exposed for the overflow property spec. */
  private[graft] def normTo16(raw: String, lo: String, hi: String): Column =
    expr(normExpr(raw, lo, hi, 65535L, Guard16))

  /** Z-ORDER the frame for a write: range-cluster on the interleaved key
    * so each output chunk is a rectangle in (a, b) space. This IS the
    * write path — `zOrderBy(df, …).write.parquet(dest)` gives parquet
    * row-group/file min-max stats that prune on both keys. Range
    * partitioning samples boundaries (one pass) and the within-partition
    * sort is spill-safe — no global sort. */
  def zOrderBy(df: DataFrame, a: Column, b: Column,
      partitions: Int = 32): DataFrame =
    df.withColumn("z_val", zValue(a, b))
      .repartitionByRange(partitions, col("z_val"))
      .sortWithinPartitions("z_val")

  /** The registry form over `events`: layout keys = (user_id, epoch hour)
    * — the two dimensions interactive queries actually box on (a user's
    * activity; a time window) — each NORMALIZED to the full 16-bit range
    * before interleaving. The normalization is load-bearing, not
    * cosmetic: raw keys of asymmetric bit-width (15 users = 4 bits vs
    * ~720 distinct hours = 10) put all the varying bits of one dimension
    * ABOVE the other's in the Morton code, and the "2-D" layout
    * degenerates to a 1-D sort on the wider key — caught live by the
    * pruning spec, which saw a user-box query touch every chunk. Rank- or
    * min/max-scaling each dimension first is the standard Z-order
    * discipline (at 100 TB the bounds row comes from table stats, not a
    * scan; here one tiny aggregate broadcast-joins back). All integer
    * arithmetic — (c − lo)·65535 div max(hi − lo, 1) — so the oracle
    * replays it exactly; the hour index uses the exact floor-division
    * spelling (sign-safe below epoch 0, the interval-join lesson). */
  def eventsZorder(events: DataFrame): DataFrame = {
    val keyed = Tables.fanOut(events)
      .withColumn("h_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id").as("u_raw"),
        expr("(h_us - pmod(h_us, 3600000000)) div 3600000000").as("h_raw"))
    val bounds = keyed.agg(
      min("u_raw").as("u_lo"), max("u_raw").as("u_hi"),
      min("h_raw").as("h_lo"), max("h_raw").as("h_hi"))
    keyed.crossJoin(broadcast(bounds))
      .select(col("event_id"),
        expr(normExpr("u_raw", "u_lo", "u_hi", 65535L, Guard16)).as("u16"),
        expr(normExpr("h_raw", "h_lo", "h_hi", 65535L, Guard16)).as("h16"))
      .withColumn("z_val", zValue(col("u16"), col("h16")))
      .orderBy("event_id")
  }

  /** [[zOrderBy]] over ARBITRARY BIGINT keys: per-write min/max
    * normalization onto the 16-bit grid first (the [[eventsZorder]]
    * discipline as a reusable write path — unnormalized keys of asymmetric
    * bit-width degenerate to a 1-D sort, and the normalization itself is
    * overflow-guarded past 2^47 ranges). The write path for
    * `graft.Ingest --layout zorder:<k1>,<k2>`: the landing (and the
    * compacted base) get parquet file min/max stats that prune box
    * predicates on BOTH keys. Helper columns are dropped; the output
    * schema equals the input's. */
  def zOrderByNormalized(df: DataFrame, a: Column, b: Column,
      partitions: Int = 8): DataFrame = {
    val keyed = df
      .withColumn("_za", a.cast("long")).withColumn("_zb", b.cast("long"))
    val bounds = keyed.agg(
      min("_za").as("_za_lo"), max("_za").as("_za_hi"),
      min("_zb").as("_zb_lo"), max("_zb").as("_zb_hi"))
    keyed.crossJoin(broadcast(bounds))
      .withColumn("_zu", normTo16("_za", "_za_lo", "_za_hi"))
      .withColumn("_zv", normTo16("_zb", "_zb_lo", "_zb_hi"))
      .withColumn("_z_val", zValue(col("_zu"), col("_zv")))
      .repartitionByRange(partitions, col("_z_val"))
      .sortWithinPartitions("_z_val")
      .drop("_za", "_zb", "_za_lo", "_za_hi", "_zb_lo", "_zb_hi",
        "_zu", "_zv", "_z_val")
  }

  /** Spread the low 10 bits of `x` onto positions 0,3,…,27 — the Morton-3
    * mask cascade (verified bit-for-bit against the naive interleave in
    * the spec). 3 keys × 10 bits fit one BIGINT with room to spare; more
    * dimensions at fewer bits per key follow the same pattern. */
  private[operators] def spreadBits3(x: Column): Column =
    Morton3Masks.foldLeft(x.bitwiseAND(lit(0x3FFL))) { case (c, (s, mask)) =>
      c.bitwiseOR(shiftleft(c, s)).bitwiseAND(lit(mask))
    }

  private val Morton3Masks: Seq[(Int, Long)] =
    Seq((16, 0xFF0000FFL), (8, 0x0300F00FL), (4, 0x030C30C3L), (2, 0x09249249L))

  private def spread3Sql(e: String): String =
    Morton3Masks.foldLeft(s"(($e) & 1023)") { case (c, (s, mask)) =>
      s"(($c | ($c << $s)) & $mask)"
    }

  /** The 30-bit Morton code of three 10-bit keys. */
  def zValue3(a: Column, b: Column, c: Column): Column =
    spreadBits3(a)
      .bitwiseOR(shiftleft(spreadBits3(b), 1))
      .bitwiseOR(shiftleft(spreadBits3(c), 2))

  /** The 3-key registry form over `events`: (user_id, epoch hour, value
    * cents), each min/max-normalized to 10 bits — the third dimension a
    * fraud/anomaly dashboard boxes on (value bands). Same normalization
    * discipline as [[eventsZorder]]; value integerizes to cents first
    * (`round(v·100)::bigint`, the repo-wide float rule). */
  def eventsZorder3(events: DataFrame): DataFrame = {
    val keyed = Tables.fanOut(events)
      .withColumn("h_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id").as("u_raw"),
        expr("(h_us - pmod(h_us, 3600000000)) div 3600000000").as("h_raw"),
        round(col("value") * 100).cast("long").as("v_raw"))
    val bounds = keyed.agg(
      min("u_raw").as("u_lo"), max("u_raw").as("u_hi"),
      min("h_raw").as("h_lo"), max("h_raw").as("h_hi"),
      min("v_raw").as("v_lo"), max("v_raw").as("v_hi"))
    keyed.crossJoin(broadcast(bounds))
      .select(col("event_id"),
        expr(normExpr("u_raw", "u_lo", "u_hi", 1023L, Guard10)).as("u10"),
        expr(normExpr("h_raw", "h_lo", "h_hi", 1023L, Guard10)).as("h10"),
        expr(normExpr("v_raw", "v_lo", "v_hi", 1023L, Guard10)).as("v10"))
      .withColumn("z_val", zValue3(col("u10"), col("h10"), col("v10")))
      .orderBy("event_id")
  }

  val eventsZorder3Sql: String = {
    val hUs = "epoch_us(CAST(ts AS TIMESTAMP))"
    val hour = s"(($hUs - ((($hUs % 3600000000) + 3600000000) % 3600000000)) // 3600000000)"
    s"""WITH k AS (
      |  SELECT event_id, CAST(user_id AS BIGINT) AS u_raw,
      |    CAST($hour AS BIGINT) AS h_raw,
      |    CAST(round(value*100) AS BIGINT) AS v_raw
      |  FROM events),
      |b AS (
      |  SELECT min(u_raw) AS u_lo, max(u_raw) AS u_hi,
      |    min(h_raw) AS h_lo, max(h_raw) AS h_hi,
      |    min(v_raw) AS v_lo, max(v_raw) AS v_hi FROM k),
      |e AS (
      |  SELECT event_id,
      |    CAST(${normSql("u_raw", "u_lo", "u_hi", 1023L, Guard10)} AS BIGINT) AS u10,
      |    CAST(${normSql("h_raw", "h_lo", "h_hi", 1023L, Guard10)} AS BIGINT) AS h10,
      |    CAST(${normSql("v_raw", "v_lo", "v_hi", 1023L, Guard10)} AS BIGINT) AS v10
      |  FROM k CROSS JOIN b)
      |SELECT event_id, u10, h10, v10,
      |  CAST(${spread3Sql("u10")} | (${spread3Sql("h10")} << 1) | (${spread3Sql("v10")} << 2) AS BIGINT) AS z_val
      |FROM e ORDER BY event_id""".stripMargin
  }

  val eventsZorderSql: String = {
    // floor division on an exact multiple of W: trunc == floor, so the
    // engine's `//` semantics cannot matter; the normalization divisions
    // have nonneg numerator and positive divisor — same argument
    val hUs = "epoch_us(CAST(ts AS TIMESTAMP))"
    val hour = s"(($hUs - ((($hUs % 3600000000) + 3600000000) % 3600000000)) // 3600000000)"
    s"""WITH k AS (
      |  SELECT event_id, CAST(user_id AS BIGINT) AS u_raw,
      |    CAST($hour AS BIGINT) AS h_raw
      |  FROM events),
      |b AS (
      |  SELECT min(u_raw) AS u_lo, max(u_raw) AS u_hi,
      |    min(h_raw) AS h_lo, max(h_raw) AS h_hi FROM k),
      |e AS (
      |  SELECT event_id,
      |    CAST(${normSql("u_raw", "u_lo", "u_hi", 65535L, Guard16)} AS BIGINT) AS u16,
      |    CAST(${normSql("h_raw", "h_lo", "h_hi", 65535L, Guard16)} AS BIGINT) AS h16
      |  FROM k CROSS JOIN b)
      |SELECT event_id, u16, h16,
      |  CAST(${spreadSql("u16")} | (${spreadSql("h16")} << 1) AS BIGINT) AS z_val
      |FROM e ORDER BY event_id""".stripMargin
  }
}
