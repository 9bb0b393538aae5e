package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Shared helpers for the mains that write result artifacts ([[Bench]],
  * [[Verify]], perfbench) and for [[graft.query.DatsGen]]: the one JSON
  * string escaper, GC-bracketed timing, the calibration kernel, and a
  * recursive delete. One copy each, so two artifacts never disagree on
  * how a string is quoted or what the calibration kernel measures.
  */
object BenchKit {

  /** `s` as a quoted JSON string literal: named escapes for `" \ \n \r
    * \t`, a six-character unicode escape (backslash, `u00`, two hex
    * digits) for every other control character below 0x20, and
    * everything else (non-ASCII included) passed through. A tab or CR
    * in a query name, path or SQL text would otherwise make a consumer's
    * JSON parse fail. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Wall-clock seconds of `f`, GC'd first so a prior query's garbage
    * is not charged to this one. */
  def timed(f: => Unit): Double = {
    System.gc()
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** The calibration kernel: one partition ⇒ one task ⇒ a fixed amount
    * of single-thread work, so contention from other processes shows up
    * directly in its wall-time. [[Bench]]'s sentinel and perfbench's
    * both run THIS definition, so their calib_sec numbers are
    * cross-comparable by construction. */
  def calibSec(spark: SparkSession): Double = timed(
    spark.range(0L, 200000000L, 1L, 1).selectExpr("sum(id)").collect())

  /** Recursively delete a directory tree, children first (best-effort:
    * already-missing entries are tolerated). */
  def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally walk.close()
  }
}
