package graft
import java.nio.file.{Files, Paths}
import BenchKit.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [names-csv] — the optional filter is for local
    // iteration on a new operator; the driver always runs the full suite
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val spark = Tables.session("graft-verify")
    // ERROR: the localCheckpoint lineage WARNs flood the log at 69
    // queries (same rationale as Bench)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // Scrub any PREVIOUS run's manifest before the query loop: a run
    // that dies hard mid-suite (OOM/kill) must not leave a stale
    // manifest describing the earlier run — the checker would restrict
    // scoring to that stale name list against stale parquet and pass
    // vacuously (r12 advice). No manifest at all makes the checker
    // score every oracle entry, which fails loudly on missing output.
    Files.deleteIfExists(Paths.get(s"$outDir/manifest.json"))
    // An erroring query must leave a visible artifact, not a silent gap:
    // r10's correctness JSON shrank 69→59 rows because failed queries
    // wrote no parquet and the driver omitted them. Every failure now
    // writes <out>/<name>/_ERROR.txt plus a row in <out>/errors.json.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // every job of the query, AQE stage jobs included, carries its name
      spark.sparkContext.setJobGroup(name, name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        // scrub the query dir BEFORE writing the marker: a failure
        // during plan construction (before overwrite deletes) or
        // mid-write (partial part-files) would otherwise leave stale
        // parquet that the checker scores as a PASS against a previous
        // run's output — exactly the masking the marker exists to stop
        val d = new java.io.File(s"$outDir/$name")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(d); d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg + "\n")
      } finally {
        Caches.release() // each query's internal caches die with it
        spark.sparkContext.clearJobGroup()
      }
    }
    // JSON string escape for every key and value: a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Run manifest: the names this invocation actually executed. A
    // filtered run (names-csv) followed by a checker pass would
    // otherwise score the UNSELECTED names against stale parquet from
    // an earlier full run — the checker restricts itself to this list.
    val ranNames = SparkEntry.queries.keys
      .filter(n => only.forall(_.contains(n))).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      ranNames.map(jstr).mkString("[", ",", "]"))
    // the one-line summary a log tail can't miss
    val selectedN = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    println(s"[verify] ${selectedN - failures.size} dumped, " +
      s"${failures.size} FAILED${if (failures.nonEmpty) ": " + failures.keys.mkString(",") else ""}")
    spark.stop()
  }
}
