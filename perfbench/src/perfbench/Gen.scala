package perfbench

import java.time.{Duration, LocalDateTime}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Seeded input generators and the independent models the checker
  * compares the program's answers against. Every value is a pure
  * function of (seed, row index), so the model never reads what Spark
  * wrote: it recomputes the same rows in plain Scala.
  */
object Mix {
  /** SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long): Long = mix64(mix64(mix64(seed) ^ a) ^ b)
  /** Uniform in [0, n). */
  def u(seed: Long, a: Long, b: Long, n: Int): Int =
    java.lang.Math.floorMod(h(seed, a, b), n.toLong).toInt
}

/** Flight rows in the `events` layout (FIXTURES.md §3): carrier →
  * `event_type`, month → `month(ts)`, delay → `value`, cancelled /
  * diverted → `props.k` % 7 / % 11. Three calendar years, so two thirds
  * of the rows fall outside `FlightOps.TargetYear`; `ts` grows with the
  * row index, so the files are sorted by `ts`.
  */
object Flights {
  final case class Flight(event_id: Long, ts: LocalDateTime, user_id: Long,
                          event_type: String, value: Double, props: String)

  val Carriers: IndexedSeq[String] = IndexedSeq(
    "AA", "AS", "B6", "CO", "DL", "EV", "F9", "FL", "HA", "MQ",
    "NK", "NW", "OH", "OO", "UA", "US", "WN", "XE", "YV", "9E")
  /** The last carrier does not fly in these months, so its report row
    * carries empty (0) month slots. */
  val SparseCarrier: Int = Carriers.size - 1
  val SparseMonths: Set[Int] = Set(2, 5, 8, 11)
  val TargetYear: Int = 2024
  private val Start = LocalDateTime.of(TargetYear - 1, 1, 1, 0, 0)
  private val SpanSec = Duration.between(Start, Start.plusYears(3)).getSeconds

  /** The `props.k` flag value: k % 7 == 0 is cancelled, k % 11 == 0 diverted. */
  def flagK(seed: Long, i: Long): Int = Mix.u(seed, i, 5, 1000)

  def row(seed: Long, n: Long, i: Long): Flight = {
    val ts = Start.plusSeconds(i * SpanSec / n)
    var c = Mix.u(seed, i, 1, Carriers.size)
    if (c == SparseCarrier && SparseMonths(ts.getMonthValue)) c = 0
    val delay = Mix.u(seed, i, 2, 90) +
      (if (Mix.u(seed, i, 3, 10) == 0) Mix.u(seed, i, 4, 400) else 0)
    val k = flagK(seed, i)
    Flight(i, ts, Mix.u(seed, i, 6, 50000).toLong, Carriers(c), delay.toDouble,
      s"""{"k":$k,"gate":"G${Mix.u(seed, i, 7, 40)}"}""")
  }

  /** Writes `n` rows as `<dir>/events.parquet`: `files` files in `ts`
    * order, small row groups so the year range prunes at row-group level. */
  def write(spark: SparkSession, seed: Long, n: Long, files: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, files).map(i => row(seed, n, i))
      .write.mode("overwrite").option("parquet.block.size", 256 * 1024)
      .parquet(s"$dir/events.parquet")
  }

  /** Exact integer sums and counts of successful TargetYear flights per
    * (carrier, month), plus a digest of every generated row. */
  final class Model(val sums: Array[Array[Long]], val counts: Array[Array[Long]],
                    val digest: Long) {
    /** floor(avg)+1 over the exact sums; an empty month is 0. */
    def rounded(c: Int, m: Int): Int =
      if (counts(c)(m) == 0) 0 else (Math.floorDiv(sums(c)(m), counts(c)(m)) + 1).toInt
    def carriers: Seq[Int] =
      Carriers.indices.filter(c => (1 to 12).exists(m => counts(c)(m) > 0))
        .sortBy(Carriers(_))
    def reportLine(c: Int): String =
      s"AIR-${Carriers(c)}\t" + (1 to 12).map(m => s", ($m,${rounded(c, m)})").mkString
  }

  def model(seed: Long, n: Long): Model = {
    val sums = Array.fill(Carriers.size, 13)(0L)
    val counts = Array.fill(Carriers.size, 13)(0L)
    var digest = seed
    var i = 0L
    while (i < n) {
      val f = row(seed, n, i)
      digest = Mix.mix64(digest ^ f.ts.hashCode ^ (f.event_type.hashCode.toLong << 32) ^
        f.value.toLong ^ (f.props.hashCode.toLong << 16) ^ f.user_id)
      val k = flagK(seed, i)
      if (f.ts.getYear == TargetYear && k % 7 != 0 && k % 11 != 0) {
        val c = Carriers.indexOf(f.event_type)
        sums(c)(f.ts.getMonthValue) += f.value.toLong
        counts(c)(f.ts.getMonthValue) += 1
      }
      i += 1
    }
    new Model(sums, counts, digest)
  }

  /** Mismatch description, or None when `rows` is exactly the report. */
  def checkReport(m: Model, rows: Array[Row]): Option[String] = {
    val want = m.carriers
    if (rows.length != want.size)
      return Some(s"report has ${rows.length} rows, model ${want.size}")
    rows.zip(want).collectFirst {
      case (r, c) if r.getAs[String]("carrier") != Carriers(c) =>
        s"report row carrier ${r.getAs[String]("carrier")}, model ${Carriers(c)}"
      case (r, c) if (1 to 12).exists(mo => r.getAs[Int](s"m$mo") != m.rounded(c, mo)) =>
        s"report month slots differ for ${Carriers(c)}"
      case (r, c) if r.getAs[String]("report") != m.reportLine(c) =>
        s"report line differs for ${Carriers(c)}"
    }
  }

  /** Secondary output: one (carrier, month, d) row per non-empty month. */
  def checkSecondary(m: Model, rows: Array[Row]): Option[String] = {
    val want = for (c <- m.carriers; mo <- 1 to 12 if m.counts(c)(mo) > 0)
      yield (Carriers(c), mo, m.rounded(c, mo))
    val got = rows.map(r => (r.getAs[String]("carrier"), r.getAs[Int]("month"),
      r.getAs[Int]("d"))).toSeq
    if (got == want) None
    else Some(s"secondary differs: ${got.size} rows vs model ${want.size}" +
      got.zip(want).find(p => p._1 != p._2).map(p => s", first ${p._1} vs ${p._2}").getOrElse(""))
  }
}

/** The keyed table: BIGINT key `k` with gaps, payload derived from
  * (key, version). Slot j holds at most one initial key, j*4 + o_j; one
  * slot in five is empty, and the other three offsets of every slot are
  * absent keys inside the table's key range.
  */
object Kv {
  final case class KvRow(k: Long, v: Long, tag: String, amt: Double)

  val ChangeSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("op", StringType),
    StructField("v", LongType), StructField("tag", StringType),
    StructField("amt", DoubleType)))

  def slotKey(seed: Long, j: Long): Long = j * 4 + Mix.u(seed, j, 10, 4)
  def slotFilled(seed: Long, j: Long): Boolean = Mix.u(seed, j, 11, 5) != 0
  def payload(seed: Long, k: Long, ver: Int): KvRow = {
    val v = Mix.h(seed, k, 1000L + ver)
    KvRow(k, v, f"t$ver-${Math.floorMod(v, 1000000L)}%06d-${Math.floorMod(v >>> 20, 1000000L)}%06d",
      Math.floorMod(v, 10000000L) / 100.0)
  }

  def write(spark: SparkSession, seed: Long, slots: Long, files: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, slots, 1, files)
      .flatMap(j => if (slotFilled(seed, j)) Iterator(payload(seed, slotKey(seed, j), 0)) else Iterator.empty)
      .write.mode("overwrite").parquet(dir)
  }

  /** Live key → version, updated by every change the benchmark commits. */
  final class Model(val seed: Long, val slots: Long) {
    val live = new mutable.LongMap[Int]()
    var digest: Long = seed
    var j = 0L
    while (j < slots) {
      if (slotFilled(seed, j)) {
        val k = slotKey(seed, j)
        live(k) = 0
        val p = payload(seed, k, 0)
        digest = Mix.mix64(digest ^ k ^ p.v ^ p.tag.hashCode ^ java.lang.Double.doubleToLongBits(p.amt))
      }
      j += 1
    }
    /** Initial keys in order, for sampling keys to read. */
    val initialKeys: Array[Long] = live.keys.toArray.sorted

    def expect(keys: Iterable[Long]): Map[Long, KvRow] =
      keys.flatMap(k => live.get(k).map(ver => k -> payload(seed, k, ver))).toMap
    def expectRange(from: Long, to: Long): Map[Long, KvRow] =
      expect((from to to).filter(live.contains))
  }

  /** A change set of `size` distinct keys from slots [lo, hi): half
    * updates, a quarter deletes, a quarter inserts into empty offsets,
    * so the live row count stays constant. */
  def changes(m: Model, rng: java.util.SplittableRandom, lo: Long, hi: Long,
              size: Int, ver: Int): Seq[(Long, Char)] = {
    val quota = mutable.Map('U' -> size / 2, 'D' -> size / 4, 'I' -> (size - size / 2 - size / 4))
    val seen = mutable.LinkedHashMap.empty[Long, Char]
    var attempts = 0
    while (quota.values.sum > 0 && attempts < size * 50) {
      attempts += 1
      val k = rng.nextLong(lo, hi) * 4 + rng.nextInt(4)
      if (!seen.contains(k)) {
        val op = if (m.live.contains(k)) { if (quota('U') > 0) 'U' else 'D' } else 'I'
        if (quota(op) > 0) { quota(op) -= 1; seen(k) = op }
      }
    }
    require(quota.values.sum == 0, s"slot range [$lo, $hi) too small for $size changes")
    seen.toSeq
  }

  def changeFrame(spark: SparkSession, m: Model, ch: Seq[(Long, Char)], ver: Int): DataFrame = {
    val rows = ch.map { case (k, op) =>
      val p = payload(m.seed, k, if (op == 'D') m.live(k) else ver)
      Row(k, op.toString, p.v, p.tag, p.amt)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeSchema)
  }

  def apply(m: Model, ch: Seq[(Long, Char)], ver: Int): Unit =
    ch.foreach { case (k, op) => if (op == 'D') m.live.remove(k) else m.live(k) = ver }

  def keyFrame(spark: SparkSession, keys: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map(Row(_)): _*),
      StructType(Seq(StructField("k", LongType))))

  /** Mismatch description, or None when `rows` is exactly `want`. */
  def check(want: Map[Long, KvRow], rows: Array[Row]): Option[String] = {
    val got = rows.map(r => KvRow(r.getAs[Long]("k"), r.getAs[Long]("v"),
      r.getAs[String]("tag"), r.getAs[Double]("amt")))
    val byKey = got.map(r => r.k -> r).toMap
    if (byKey.size != got.length) Some(s"${got.length - byKey.size} duplicate keys returned")
    else if (byKey.keySet != want.keySet)
      Some(s"keys differ: ${(byKey.keySet -- want.keySet).size} extra, ${(want.keySet -- byKey.keySet).size} missing")
    else want.collectFirst { case (k, w) if byKey(k) != w => s"payload of key $k differs" }
  }
}
