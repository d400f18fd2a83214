package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem

/** Request-economics bound for the day-dir walks (VERDICT r13 #2): a
  * bounded window over an arbitrarily DEEP lake must cost
  * 1 + touchedYears + touchedMonths directory LISTs — on an object
  * store every LIST is a billable request, so a 3-hour read over a
  * decade lake pruning down from ~3,700 LISTs to 3 is the difference
  * between metadata noise and a per-request cost floor. Pure-FS spec:
  * it starts no SparkSession, just directories. */
class DayDirsSpec extends graft.SparkSpec {

  /** A bare year=/month=/day= tree spanning [firstYear, lastYear]. */
  private def mkTree(firstYear: Int, lastYear: Int): String = {
    val base = tempDir("graft-daydirs").toString
    for (y <- firstYear to lastYear; m <- 1 to 12; d <- Seq(1, 10, 28))
      Files.createDirectories(java.nio.file.Paths.get(
        base, f"year=$y%04d", f"month=$m%02d", f"day=$d%02d"))
    base
  }

  private val fs = FileSystem.getLocal(new Configuration())

  test("inRange lists only the touched years/months — flat in lake depth") {
    // a decade of directory depth: 10 years × 12 months × 3 days
    val base = mkTree(2017, 2026)
    val (days, lists) = DayDirs.inRangeCounting(fs, base,
      instant("2026-03-09T10:00:00Z"), instant("2026-03-10T13:00:00Z"))
    assert(days.map(DayDirs.ymdOf) == Seq((2026, 3, 10)))
    // 1 root LIST + 1 year LIST + 1 month LIST — depth-independent
    assert(lists == 3, s"expected 3 LISTs for a same-month window, got $lists")

    // cross-year window: 1 root + 2 years + (Dec + Jan) months = 5
    val (days2, lists2) = DayDirs.inRangeCounting(fs, base,
      instant("2025-12-20T00:00:00Z"), instant("2026-01-05T00:00:00Z"))
    assert(days2.map(DayDirs.ymdOf) == Seq((2025, 12, 28), (2026, 1, 1)))
    assert(lists2 == 5, s"expected 5 LISTs for a cross-year window, got $lists2")
  }

  test("inRange matches the full-walk-then-filter semantics exactly") {
    val base = mkTree(2024, 2026)
    val start = instant("2024-11-10T04:00:00Z")
    val end = instant("2025-02-28T23:00:00Z")
    val dfmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    val lo = dfmt.format(start); val hi = dfmt.format(end)
    val reference = DayDirs.ascending(fs, base).filter { p =>
      val (y, m, d) = DayDirs.ymdOf(p)
      val key = f"$y%04d$m%02d$d%02d"
      key >= lo && key <= hi
    }
    assert(DayDirs.inRange(fs, base, start, end) == reference && reference.size == 11)
  }

  test("matching descends only the requested years/months; deepest walks backward") {
    val base = mkTree(2023, 2026)
    val got = DayDirs.matching(fs, base, Set((2024, 5, 10), (2026, 1, 28), (2024, 5, 7)))
    assert(got.map(DayDirs.ymdOf) == Seq((2024, 5, 10), (2026, 1, 28)))
    assert(DayDirs.matching(fs, base, Set.empty).isEmpty)

    assert(DayDirs.deepest(fs, base, 4).map(DayDirs.ymdOf) ==
      Seq((2026, 12, 28), (2026, 12, 10), (2026, 12, 1), (2026, 11, 28)))
    assert(DayDirs.deepest(fs, base, 0).isEmpty)
  }

  test("ymdOf resolves a day dir, its _delta dir and the files in them to the day") {
    val day = "file:/lake/futures/um/minute/year=2026/month=01/day=15"
    for (p <- Seq(day, s"$day/_delta", s"$day/part-00000.parquet",
                  s"$day/_delta/delta-000000000001-part-00000.parquet"))
      assert(DayDirs.ymdOf(p) == ((2026, 1, 15)), p)
    assert(DayDirs.ymdOf("/lake/year=2026/month=1/day=5") == ((2026, 1, 5)))
  }
}
