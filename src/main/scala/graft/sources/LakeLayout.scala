package graft.sources

/** Physical layout of the minute/HTF lakes — the one layout the
  * writers and readers know.
  *
  * The reference's layout (`writer/atomic.py:99-111`) is one file per
  * symbol-hour under `symbol=S/year=/month=/day=/hour=`. That shape was
  * measured (width-10k probe, SURVEY §8.15) to be the binding constraint
  * at lake width ≥10,000 symbols: 240k files/day, bulk append DNF at
  * 2 h, HTF backfill ×16 for ×10 width. On an object store the same
  * shape is LIST/PUT request economics, so it is not a local-FS
  * artifact. A reference-layout tree is adopted once through
  * [[LakeMigrate.hourlyToDayWide]].
  *
  * The day-wide layout partitions at DAY granularity only
  * (`year=/month=/day=`), carries `symbol` as a DATA column, and
  * range-partitions + sorts each day's files by (symbol, timestamp), so
  * parquet min/max column statistics give per-symbol file/row-group
  * skipping without per-symbol directories. Files/day is
  * O(`filesPerDay`) regardless of width — the knob trades read
  * parallelism against file-count economics and is independent of
  * symbol count.
  *
  * Trade-offs (measured by WideWidthProbe):
  *  - the partition pruning floor is a DAY: a 2-hour repair window
  *    reads a full day partition;
  *  - the rewrite unit is a day×all-symbols partition, so point repairs
  *    land as delta files ([[MinuteLakeWriter.writeDeltaPatch]]) and
  *    fold back on a threshold.
  */
object LakeLayout {

  /** The writers' layout argument: `filesPerDay` bounds the file
    * population — files/day is this constant, not O(width × 24). */
  final case class DayWide(filesPerDay: Int = 32)
}
