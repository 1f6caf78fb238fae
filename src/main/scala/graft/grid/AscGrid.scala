package graft.grid

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter

/** One parsed ESRI ASCII Grid raster.
  *
  * Format (reference: `bom/bom.py:123-139`): six positional header lines
  * (`ncols nrows xllcorner yllcorner cellsize NODATA_value`, each
  * `<key> <value>`), then `nrows` lines of `ncols` whitespace-separated
  * integer cell values, top row first.
  *
  * `values(r)(c)` is the raw cell at data row `r` (0-based from the top)
  * and column `c`; NODATA cells are retained here and filtered at
  * explode time so the parse stays lossless.
  */
final case class AscGrid(
    ncols: Int,
    nrows: Int,
    xllcorner: Double,
    yllcorner: Double,
    cellsize: Double,
    nodata: Int,
    values: Vector[Array[Int]]) {

  require(values.length == nrows, s"expected $nrows data rows, got ${values.length}")

  /** Raster → long-format points (reference: `bom/bom.py:140-151`).
    *
    * Affine placement: `lon = xllcorner + c*cellsize`,
    * `lat = yllcorner + (nrows-1-r)*cellsize` — the bottom data row sits ON
    * `yllcorner` (the reference initializes `y = yll + nrows*cell` and
    * decrements before each row, `bom/bom.py:138,142`). Cells equal to
    * `NODATA_value` are skipped entirely, not emitted as null
    * (`bom/bom.py:145-147`).
    */
  def explode: Iterator[GridPoint] =
    for {
      r <- Iterator.range(0, nrows)
      c <- Iterator.range(0, ncols)
      v = values(r)(c)
      if v != nodata
    } yield GridPoint(
      longitude = xllcorner + c * cellsize,
      latitude = yllcorner + (nrows - 1 - r) * cellsize,
      radiation = v)

  def cellCount: Int = nrows * ncols
}

/** A single exploded raster cell. */
final case class GridPoint(longitude: Double, latitude: Double, radiation: Int)

/** Per-file metadata parsed from the BOM filename convention
  * `<product>_<radiationtype>_<YYYYMMDD>_<HHMM...>.<ext>`
  * (reference: `bom/bom.py:94-107`). The embedded datetime is UTC with
  * minutes DISCARDED (`bom/bom.py:102` keeps only `HH`), then converted to
  * Australia/Sydney local time (DST-aware). Partition keys `year/month/
  * day/hour` are the Sydney-local fields (`bom/bom.py:28-32`).
  */
final case class GridFileMeta(
    baseName: String,
    radiationType: String,
    utc: Instant,
    localDateTime: String, // "yyyy-MM-dd HH:mm" Sydney-local, minutes always 00
    year: Int,
    month: Int,
    day: Int,
    hour: Int)

object AscGrid {

  val SydneyZone: ZoneId = ZoneId.of("Australia/Sydney")

  private val utcParse = DateTimeFormatter.ofPattern("yyyyMMdd HH")
  private val localFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  /** Split one header line `<key> <value>` and return the value token.
    * The reference does `line.split(' ')[1]` (`bom/bom.py:127-137`); we
    * tolerate runs of whitespace.
    */
  private def headerValue(line: String, lineNo: Int): String = {
    val toks = line.trim.split("\\s+")
    require(toks.length >= 2, s"malformed header line $lineNo: '${quote(line)}'")
    toks(1)
  }

  /** Parse the full text of one `.asc`/`.txt` grid file. */
  def parse(wholeText: String): AscGrid = parseLines(wholeText.linesIterator.toVector)

  def parseLines(lines: IndexedSeq[String]): AscGrid = {
    require(lines.length >= 6, s"grid needs 6 header lines, got ${lines.length}")
    val ncols = headerValue(lines(0), 0).toInt
    val nrows = headerValue(lines(1), 1).toInt
    val xll = headerValue(lines(2), 2).toDouble
    val yll = headerValue(lines(3), 3).toDouble
    val cell = headerValue(lines(4), 4).toDouble
    val nodata = headerValue(lines(5), 5).toInt
    val dataLines = lines.view.slice(6, 6 + nrows)
    val values = dataLines.map(parseRow(_, ncols)).toVector
    AscGrid(ncols, nrows, xll, yll, cell, nodata, values)
  }

  /** A bad line as errors quote it: at most 120 chars, as errors reach the driver. */
  private[grid] def quote(line: String): String =
    if (line.length <= 120) line else line.take(120) + "…"

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r'

  /** Hand-rolled integer row tokenizer — the per-cell hot path (a BOM AUS
    * grid is ~612k cells/file). ~10× the regex-split + boxing route the
    * naive implementation used; same error contract.
    */
  private[grid] def parseRow(line: String, ncols: Int): Array[Int] = {
    val out = new Array[Int](ncols)
    val len = line.length
    var i = 0
    var idx = 0
    while (i < len && idx < ncols) {
      while (i < len && isWs(line.charAt(i))) i += 1
      if (i < len) {
        var neg = false
        if (line.charAt(i) == '-') { neg = true; i += 1 }
        var v = 0
        val start = i
        while (i < len && line.charAt(i) >= '0' && line.charAt(i) <= '9') {
          v = v * 10 + (line.charAt(i) - '0')
          i += 1
        }
        if (i == start)
          throw new NumberFormatException(s"bad cell token at col $idx in '${quote(line)}'")
        if (i < len && !isWs(line.charAt(i)))
          throw new NumberFormatException(
            s"non-integer cell '${line.substring(start - (if (neg) 1 else 0), math.min(i + 4, len))}' in '${quote(line)}'")
        out(idx) = if (neg) -v else v
        idx += 1
      }
    }
    while (i < len && isWs(line.charAt(i))) i += 1
    require(idx == ncols && i >= len,
      s"expected $ncols cells, got ${if (i < len) "more" else idx.toString} in '${quote(line)}'")
    out
  }

  /** Filename → metadata per the reference contract (`bom/bom.py:94-107`):
    * strip extension, token 1 (underscore-split) is the radiation type,
    * token 2 the UTC date `YYYYMMDD`, token 3 the time of which only `HH`
    * is kept. Local rendering and partition keys are Australia/Sydney.
    *
    * Example: `IDZ00026_radiation_20171231_2300.txt` → type `radiation`,
    * Sydney-local `2018-01-01 10:00` (DST +11) → partition
    * `year=2018/month=1/day=1/hour=10`.
    */
  def parseFileName(fileName: String): GridFileMeta = {
    val justName = fileName.substring(fileName.lastIndexOf('/') + 1)
    val dot = justName.lastIndexOf('.')
    val base = if (dot >= 0) justName.substring(0, dot) else justName
    val toks = base.split("_")
    require(toks.length >= 4, s"filename '$justName' lacks _-separated metadata")
    val radType = toks(1)
    val dateTok = toks(2)
    val hourTok = toks(3).take(2) // minutes discarded, bom/bom.py:102
    val utcLdt = LocalDateTime.parse(s"$dateTok $hourTok", utcParse)
    val utc = utcLdt.toInstant(ZoneOffset.UTC)
    val local: ZonedDateTime = utc.atZone(SydneyZone)
    GridFileMeta(
      baseName = base,
      radiationType = radType,
      utc = utc,
      localDateTime = local.format(localFmt),
      year = local.getYear,
      month = local.getMonthValue,
      day = local.getDayOfMonth,
      hour = local.getHour)
  }
}
