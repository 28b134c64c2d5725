package graft.tabulate

import scala.collection.mutable

/** The row order every per-file reader ([[graft.sources.LineSource]])
  * emits, and that the stream steps over its rows rely on ([[NonTabular]]'s
  * walk, the footer trim of [[graft.compile.MappingCompiler.dataRows]]):
  * each file's rows one contiguous run inside one partition, `lineno`
  * rising. One instance checks one partition's rows as they pass: a file
  * that comes back after its run ended, or a `lineno` that does not rise,
  * fails naming the file. */
private[graft] final class FileRuns {
  private val seen = mutable.HashSet.empty[String]
  private var file: String = _
  private var last = 0L

  /** Whether the row (`f`, `lineno`) opens a file run. */
  def opens(f: String, lineno: Long): Boolean = {
    val opens = f != file
    if (opens && !seen.add(f))
      throw new IllegalStateException(s"input returns to file $f after its lines ended")
    if (!opens && lineno <= last)
      throw new IllegalStateException(s"input repeats line $lineno of file $f")
    file = f
    last = lineno
    opens
  }
}
