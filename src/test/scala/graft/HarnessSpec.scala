package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared session conf, Verify's oracle map, and the set of
  * graft session confs the code reads. */
class HarnessSpec extends AnyFunSuite {

  test("localSessionConf: per-key timing turns both memos off; codegen " +
      "cache, UTC and nanosAsLong are always set") {
    val memos = Seq("spark.graft.landmarks.memo", "spark.graft.edges.memo")
    for (reuse <- Seq(true, false)) {
      val conf = Graft.localSessionConf(cpus = 3, reuseAcrossKeys = reuse)
      val m = conf.toMap
      assert(m.size == conf.size, s"duplicate keys in $conf")
      assert(m("spark.master") == "local[3]")
      assert(m("spark.sql.shuffle.partitions") == "3")
      // without it the ~104 plans of one pass thrash the 100-entry
      // default cache and every timing inflates ~1.8×
      assert(m("spark.sql.codegen.cache.maxEntries") == "20000")
      assert(m("spark.sql.session.timeZone") == "UTC")
      assert(m("spark.sql.legacy.parquet.nanosAsLong") == "true")
      if (reuse) memos.foreach(k => assert(!m.contains(k), k))
      else memos.foreach(k => assert(m.get(k).contains("false"), k))
    }
  }

  test("Verify.oracleJson: a subset writes exactly its keys, and SQL " +
      "with newlines, tabs and quotes round-trips") {
    val subset = SparkEntry.oracleSql.keys.toSeq.sorted.take(3).toSet
    val tricky = "SELECT 'a\tb' AS \"q\",\r\n  '\\' AS s -- \u0001 end"
    val sql = SparkEntry.oracleSql.filter { case (k, _) => subset(k) } +
      ("q_tricky" -> tricky)
    val node = new ObjectMapper().readTree(Verify.oracleJson(sql))
    assert(node.fieldNames().asScala.toSet == subset + "q_tricky")
    sql.foreach { case (k, v) => assert(node.get(k).asText() == v, k) }
  }

  test("conf inventory: src/main reads exactly the reviewed " +
      "spark.graft.* session confs") {
    val lit = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val found = files.flatMap { f =>
      lit.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1))
    }.toSet
    assert(found == Set("ann.trainMax", "bpe.maxLocalVocab",
      "cc.localEdgeThreshold", "cc.maxRounds", "edges.memo",
      "landmarks.memo"))
  }
}
