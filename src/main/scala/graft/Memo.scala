package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compute-once memo for results derived from a data dir: trained
  * codebooks and model weights, pinned intermediate frames, staged
  * input files and written index dirs.
  *
  * Every key is `name:` + [[Tables.versioned]]`(dir)`, so a dir whose
  * parquet is rewritten in place gets a new key and recomputes instead
  * of serving a result derived from the old bytes.
  *
  * Two scopes:
  *  - [[value]] is JVM-wide: every session sees the same entry. It
  *    holds plain driver-side data and the paths of dirs the
  *    computation wrote with [[TempDirs.create]]; those dirs live
  *    until the JVM exits, under [[TempDirs.root]].
  *  - [[frame]] is per session, keyed on the live session object
  *    through identity (a WeakHashMap), so a new session never sees a
  *    frame pinned (`localCheckpoint`) in another. A cached frame
  *    references its session, so an entry is not collected while the
  *    session lives: the map bounds staleness, not memory.
  *
  * The core holds one `Cell` per key. `computeIfAbsent` only creates
  * the cell and runs no caller code; the computation runs under the
  * cell's own monitor. That gives:
  *  - compute-once: concurrent callers of one key wait for the first;
  *  - reentrancy: a computation may call the memo for another key
  *    (an index computes the codebook it is built on), since that is
  *    another cell and JVM monitors are reentrant;
  *  - no cached failure: when the computation throws, the cell stays
  *    empty and the next caller computes again.
  */
object Memo {
  private final class Cell {
    var done = false
    var v: AnyRef = _
  }

  private type Cells = ConcurrentHashMap[String, Cell]

  private val jvm = new Cells()
  private val sessions = new java.util.WeakHashMap[SparkSession, Cells]()

  def value[T <: AnyRef](dir: String, name: String)(f: => T): T =
    once(jvm, dir, name)(f)

  def frame(s: SparkSession, dir: String, name: String)(
      f: => DataFrame): DataFrame = {
    val cells = sessions.synchronized {
      sessions.computeIfAbsent(s, _ => new Cells())
    }
    once(cells, dir, name)(f)
  }

  private def once[T <: AnyRef](cells: Cells, dir: String, name: String)(
      f: => T): T = {
    val cell = cells.computeIfAbsent(s"$name:${Tables.versioned(dir)}",
      _ => new Cell)
    cell.synchronized {
      if (!cell.done) { cell.v = f; cell.done = true }
      cell.v.asInstanceOf[T]
    }
  }
}
