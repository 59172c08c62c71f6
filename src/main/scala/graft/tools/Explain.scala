package graft.tools

import graft.{Graft, SparkEntry}

/** Dev utility: dump formatted physical plans for the named queries
  * (or all) so scan pruning / pushdown / join strategies can be audited.
  * Usage: runMain graft.tools.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.localSession(reuseAcrossKeys = false)
    names.foreach { n =>
      println(s"\n===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
