package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import graft.ops.Par

/** The table cache's layout rule: a table whose scan statistics exceed
  * the per-task target is cached `w` wide, hash-partitioned on its
  * leading key, unless its scan already has `w` partitions; and the
  * decision runs no Spark job. */
class TablesSpec extends GraftSuite with BeforeAndAfterAll {
  private lazy val root = Files.createTempDirectory("tables-spec").toFile

  override def afterAll(): Unit = {
    for (sub <- Seq("one", "multi", "fresh"); t <- Seq("lineitem", "orders"))
      Tables.refresh(spark, s"$root/$sub", t)
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(root)
    super.afterAll()
  }

  /** Writes `rows` rows of `(key, payload)` as `<root>/<sub>/<name>.parquet`
    * in `files` files; 64 hex chars of payload per row keep the file
    * size proportional to the row count. Returns the table directory. */
  private def write(sub: String, name: String, key: String, rows: Long,
      files: Int): String = {
    val d = s"$root/$sub"
    spark.range(0, rows)
      .select((col("id") / 4).cast("long").as(key),
        sha2(col("id").cast("string"), 256).as("payload"))
      .repartition(files, col(key))
      .write.mode("overwrite").parquet(s"$d/$name.parquet")
    d
  }

  /** The width the rule should choose for a table: one task per MiB of
    * parquet, capped at the session's parallelism. */
  private def expectedWidth(d: String, name: String): Int = {
    val bytes = new File(s"$d/$name.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val perMiB = ((bytes + (1L << 20) - 1) >> 20).toInt
    math.min(spark.sparkContext.defaultParallelism, perMiB)
  }

  private def repartitioned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[RepartitionByExpression])

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(500) // drain events queued before the body
      jobs = 0
      body
      Thread.sleep(500) // the listener bus is async
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a table above the target is cached w wide, hash-partitioned on " +
      "its leading key") {
    val d = write("one", "lineitem", "l_orderkey", 40000, 1)
    val w = expectedWidth(d, "lineitem")
    val raw = spark.read.parquet(s"$d/lineitem.parquet")
    assert(w > 1 && Par.width(raw) < w,
      s"fixture must be a narrow scan above the target (w=$w)")
    val li = Tables.lineitem(spark, d)
    assert(repartitioned(li) && Par.width(li) == w)
    assert(li.count() == 40000 && li.exceptAll(raw).isEmpty)
    val cachedScan = Par.plan(li).sparkPlan.collectFirst {
      case m: InMemoryTableScanExec => m
    }.get
    cachedScan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == w)
        assert(h.references.map(_.name).toSeq == Seq("l_orderkey"))
      case other => fail(s"cached layout lost its partitioning: $other")
    }
    // the surviving partitioning spares an aggregation on the key its
    // exchange
    val agg = li.groupBy("l_orderkey").count()
    assert(agg.count() == 10000)
    assert(agg.queryExecution.executedPlan.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan.exists(_.isInstanceOf[ShuffleExchangeExec])
    }.contains(false))
  }

  test("a table below the target keeps its scan layout") {
    val nation = Tables.nation(spark, sf)
    assert(!repartitioned(nation))
    assert(Par.width(nation) ==
      Par.width(spark.read.parquet(s"$sf/nation.parquet")))
    assert(nation.count() == 25)
  }

  test("a multi-file scan already w wide is cached without a repartition") {
    val d = write("multi", "orders", "o_orderkey", 40000, 8)
    val w = expectedWidth(d, "orders")
    val rawWidth = Par.width(spark.read.parquet(s"$d/orders.parquet"))
    assert(w > 1 && rawWidth >= w,
      s"fixture must be a wide scan above the target (w=$w, scan=$rawWidth)")
    val orders = Tables.orders(spark, d)
    assert(!repartitioned(orders))
    assert(Par.width(orders) == rawWidth)
    assert(orders.count() == 40000)
  }

  test("building a reader runs no job beyond parquet's schema read, and " +
      "Par.spread over a freshly refreshed lineitem runs none") {
    val d = write("fresh", "lineitem", "l_orderkey", 40000, 1)
    val schemaRead = jobsDuring(spark.read.parquet(s"$d/lineitem.parquet"))
    Tables.lineitem(spark, d).count() // a built cache, then dropped
    Tables.refresh(spark, d, "lineitem")
    var li: DataFrame = null
    assert(jobsDuring { li = Tables.lineitem(spark, d) } == schemaRead)
    assert(repartitioned(li), "the widened layout is what spread must read")
    var spread: DataFrame = null
    assert(jobsDuring { spread = Par.spread(li, col("l_orderkey")) } == 0)
    // guard against a vacuous listener: acting on the frame runs jobs
    assert(jobsDuring(assert(spread.count() == 40000)) > 0)
  }

  test("after refresh, a new read rebuilds the widened layout from the " +
      "regenerated table") {
    val d = write("fresh", "lineitem", "l_orderkey", 40000, 1)
    Tables.refresh(spark, d, "lineitem")
    val before = Tables.lineitem(spark, d)
    assert(before.count() == 40000)
    write("fresh", "lineitem", "l_orderkey", 24000, 1)
    Tables.refresh(spark, d, "lineitem")
    assert(before.storageLevel == StorageLevel.NONE)
    val after = Tables.lineitem(spark, d)
    assert(after ne before)
    assert(after.storageLevel != StorageLevel.NONE)
    assert(after.count() == 24000)
    val w = expectedWidth(d, "lineitem")
    assert(w > 1 && repartitioned(after) && Par.width(after) == w)
  }
}
