package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [key ...] — extra args
  * name a key subset to dump (and to write oracle SQL for). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSet
    val keep = (name: String) => subset.isEmpty || subset(name)
    val spark = Graft.localSession(reuseAcrossKeys = true)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's operator-local scratch caches/checkpoints:
      // the full pass then has no net cache growth (table-level
      // caches in Tables are not registered there and stay warm)
      graft.ops.ScratchCache.releaseAll()
    }
    // the landmark-BFS and co-purchase-edge memos (kept across keys by
    // design) are done once every query has been dumped — return their
    // pinned blocks
    graft.ops.LandmarkMemo.clear()
    graft.ops.EdgeMemo.clear()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => keep(k) }))
    spark.stop()
  }

  /** The oracle map as one JSON object, key → SQL. Every control char
    * is escaped: a raw tab or CR in the SQL would make the driver's
    * json.load fail and zero the round's correctness. */
  def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) =>
      "\"" + Bench.jsonEscape(k) + "\": \"" + Bench.jsonEscape(v) + "\""
    }.mkString("{", ",", "}")
}
