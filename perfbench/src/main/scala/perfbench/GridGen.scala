package perfbench

import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalAdjusters

/** One generated BOM grid: its file name, the cell values (NODATA
  * included) and the Sydney-local partition the file belongs to.
  */
final case class GenGrid(name: String, radiationType: String,
    year: Int, month: Int, day: Int, hour: Int, values: Array[Int]) {

  def partition: (Int, Int, Int, Int) = (year, month, day, hour)

  def points: Int = GridGen.DataCells

  def radiationSum: Long = {
    var s = 0L
    var i = 0
    while (i < values.length) {
      if (values(i) != GridGen.NoData) s += values(i)
      i += 1
    }
    s
  }

  /** The file's bytes in ESRI ASCII grid format. */
  def text: Array[Byte] = {
    val sb = new java.lang.StringBuilder(values.length * 4 + 128)
    sb.append("ncols ").append(GridGen.NCols).append('\n')
      .append("nrows ").append(GridGen.NRows).append('\n')
      .append("xllcorner ").append(GridGen.XllCorner).append('\n')
      .append("yllcorner ").append(GridGen.YllCorner).append('\n')
      .append("cellsize ").append(GridGen.CellSize).append('\n')
      .append("NODATA_value ").append(GridGen.NoData).append('\n')
    var r = 0
    while (r < GridGen.NRows) {
      var c = 0
      while (c < GridGen.NCols) {
        if (c > 0) sb.append(' ')
        sb.append(values(r * GridGen.NCols + c))
        c += 1
      }
      sb.append('\n')
      r += 1
    }
    sb.toString.getBytes(StandardCharsets.US_ASCII)
  }
}

/** Seeded generator of real-size BOM radiation grids (886×691 cells at
  * 0.05°, the Australian product extent).
  *
  * Sizes never depend on the seed: the NODATA mask is a fixed ellipse
  * (about 21% of cells outside it, standing in for the sea), so every
  * grid has the same number of points. The seed picks the year and the
  * cell values.
  */
object GridGen {
  val NCols = 886
  val NRows = 691
  val XllCorner = 112.0
  val YllCorner = -44.5
  val CellSize = 0.05
  val NoData = -999
  /** Largest value [[grid]] produces. */
  val MaxValue = 200 + 40 * 11 + 150 + 299 + 399
  val Types: Seq[String] = Seq("direct", "global")

  private val Sydney = ZoneId.of("Australia/Sydney")
  private val Ymd = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** true where the cell holds data. */
  val mask: Array[Boolean] = {
    val cx = (NCols - 1) / 2.0
    val cy = (NRows - 1) / 2.0
    Array.tabulate(NRows * NCols) { i =>
      val dx = (i % NCols - cx) / (NCols / 2.0)
      val dy = (i / NCols - cy) / (NRows / 2.0)
      dx * dx + dy * dy <= 1.0
    }
  }

  val DataCells: Int = mask.count(identity)

  /** The engine's placement of cell (r, c); the same double arithmetic,
    * so expected coordinates compare exactly.
    */
  def longitude(c: Int): Double = XllCorner + c * CellSize
  def latitude(r: Int): Double = YllCorner + (NRows - 1 - r) * CellSize

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One grid for `utc` (minutes dropped by the file-name contract). */
  def grid(seed: Long, radiationType: String, utc: LocalDateTime): GenGrid = {
    val local = utc.atOffset(ZoneOffset.UTC).atZoneSameInstant(Sydney)
    val key = mix(mix(seed, radiationType.hashCode.toLong), utc.toEpochSecond(ZoneOffset.UTC))
    val rng = new java.util.SplittableRandom(key)
    val base = 200 + 40 * (utc.getHour % 12) + (if (radiationType == "direct") 150 else 0)
    val values = new Array[Int](NRows * NCols)
    var i = 0
    while (i < values.length) {
      values(i) =
        if (mask(i)) base + (i / NCols + i % NCols) % 300 + rng.nextInt(400)
        else NoData
      i += 1
    }
    val name = f"IDE00326_${radiationType}_${utc.format(Ymd)}_${utc.getHour}%02d00.txt"
    GenGrid(name, radiationType, local.getYear, local.getMonthValue,
      local.getDayOfMonth, local.getHour, values)
  }

  def year(seed: Long): Int = 2015 + java.lang.Math.floorMod(seed, 10L).toInt

  /** Ingest waves of `perWave` grids, hourly from Saturday 15:00 UTC
    * before the seeded year's April DST end (first Sunday 03:00 AEDT =
    * Saturday 16:00 UTC), the radiation types alternating. The grids at
    * 15:00 and 16:00 UTC land in the same Sydney hour partition.
    */
  def ingestWaves(seed: Long, waves: Int, perWave: Int): Seq[Seq[GenGrid]] = {
    val sunday = LocalDate.of(year(seed), 4, 1)
      .`with`(TemporalAdjusters.firstInMonth(DayOfWeek.SUNDAY))
    val first = sunday.minusDays(1).atTime(15, 0)
    (0 until waves).map(w => (0 until perWave).map { j =>
      val k = w * perWave + j
      grid(seed, Types(k % Types.size), first.plusHours(k))
    })
  }
}
