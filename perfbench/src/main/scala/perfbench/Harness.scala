package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}
import graft.ops.ScratchCache

/** One closed-loop client: a single driver thread runs a workload's keys
  * one after another, pass after pass, until the time budget is spent
  * and at least `--min-passes` passes are done.
  *
  * Set-up (session start, table load, `--warmup-passes` untimed warm-up
  * passes) runs first. After the timed window, with `--check-dir`, each
  * oracle key's result is written there as parquet for run.py's content
  * check. Every timed key execution is recorded as build (the
  * `fn(spark, dir)` call), action (`count()`, or a parquet write with
  * `--write-dir`) and release (`ScratchCache.releaseAll`). The JVM only
  * records; run.py computes every statistic from the records this
  * writes to `--out`.
  *
  * With `--cold 1` each pass, warm-up passes after the first included,
  * starts by dropping every table from the table cache
  * (`Tables.refresh`) and loading the workload's tables again, so no
  * pass reuses the previous pass's scan.
  */
object Harness {
  val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "region"     => Tables.region(s, d)
    case "nation"     => Tables.nation(s, d)
    case "customer"   => Tables.customer(s, d)
    case "supplier"   => Tables.supplier(s, d)
    case "part"       => Tables.part(s, d)
    case "orders"     => Tables.orders(s, d)
    case "lineitem"   => Tables.lineitem(s, d)
    case "events"     => Tables.events(s, d)
    case "documents"  => Tables.documents(s, d)
    case "embeddings" => Tables.embeddings(s, d)
  }

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def flag(k: String): Boolean = m.get(k).contains("1")
    def list(k: String): Seq[String] =
      m.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  /** Exits through `halt` either way: an exception must not leave the
    * JVM waiting on Spark's non-daemon threads. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Unit = {
    val clock = new Clock
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val dir = a("data")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val keys = a.list("keys")
    val loadTables = a.list("tables")
    val cold = a.flag("cold")
    val writeDir = a.m.get("write-dir").filter(_.nonEmpty)
    val checkDir = a.m.get("check-dir").filter(_.nonEmpty)
    val queries = SparkEntry.queries
    val unknown = keys.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")

    val out = new Records(Paths.get(a("out")))
    val oracle = SparkEntry.oracleSql
    keys.filter(oracle.contains).foreach(k =>
      out.put("type" -> "oracle", "key" -> k, "sql" -> oracle(k)))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the suite cycles through more plans than the default 100-entry
      // codegen cache holds; graft's own Bench sizes it the same way
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.graft.landmarks.memo", "false")
      .config("spark.graft.edges.memo", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val trace = if (a.flag("trace")) Some(new Trace(spark, clock)) else None
    val sessionEnd = clock.now()

    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    /** Drop the cached tables (cold passes), then load the workload's
      * tables into the cache; returns the load's wall time in ns. */
    def loadAll(pass: Int): Long = {
      if (cold) tableNames.foreach(t => Tables.refresh(spark, dir, t))
      val t0 = clock.now()
      trace.foreach(_.open("load", "Tables", pass))
      loadTables.foreach { t =>
        sc.setJobGroup("Tables." + t, s"perfbench load $t", false)
        table(spark, dir, t).count()
      }
      trace.foreach(_.close())
      clock.now() - t0
    }

    val setupLoadNs = loadAll(0)
    val tableCacheBytes = storageBytes()

    // warm-up: untimed, the same calls as a timed pass (a cold pass
    // reloads the tables first; the first uses the load above): the
    // first pass compiles, the later ones let the JIT settle
    for (round <- 1 to a("warmup-passes").toInt) {
      if (cold && round > 1) loadAll(0)
      keys.foreach { k =>
        sc.setJobGroup(k, s"perfbench warm-up $k", false)
        val t0 = clock.now()
        val (rows, err) =
          try {
            val df = queries(k)(spark, dir)
            writeDir match {
              case Some(w) =>
                df.write.mode("overwrite").parquet(s"$w/$k")
                (spark.read.parquet(s"$w/$k").count(), "")
              case None => (df.count(), "")
            }
          } catch { case e: Throwable => (-1L, firstLine(e)) }
          finally ScratchCache.releaseAll()
        out.put("type" -> "warmup", "key" -> k, "rows" -> rows, "error" -> err,
          "wall_s" -> (clock.now() - t0) / 1e9)
      }
    }
    val setupEnd = clock.now()
    out.put("type" -> "setup",
      "setup_s" -> (setupEnd - jvmStart) / 1e9,
      "session_s" -> (sessionEnd - jvmStart) / 1e9,
      "load_s" -> setupLoadNs / 1e9,
      "warmup_s" -> (setupEnd - sessionEnd - setupLoadNs) / 1e9,
      "table_cache_bytes" -> tableCacheBytes)

    trace.foreach(_.start())
    val gcBefore = gcNanos()
    val windowStart = clock.now()
    val budget = (seconds * 1e9).toLong
    var pass = 0
    val minPasses = a("min-passes").toInt
    while (pass < minPasses || clock.now() - windowStart < budget) {
      pass += 1
      val passStart = clock.now()
      val loadNs = if (cold) loadAll(pass) else 0L
      keys.foreach { k =>
        sc.setJobGroup(k, s"perfbench pass $pass $k", false)
        val keySpan = trace.map(_.open("key", k, pass))
        val t0 = clock.now()
        var t1 = t0
        var t2 = t0
        var rows = -1L
        var err = ""
        try {
          trace.foreach(_.open("build", k, pass))
          val df = queries(k)(spark, dir)
          trace.foreach(_.close())
          t1 = clock.now()
          trace.foreach(_.open("action", k, pass))
          writeDir match {
            case Some(w) => df.write.mode("overwrite").parquet(s"$w/$k")
            case None => rows = df.count()
          }
          trace.foreach(_.close())
          t2 = clock.now()
        } catch { case e: Throwable =>
          err = firstLine(e)
          keySpan.foreach(trace.get.closeAbove)
          if (t1 == t0) t1 = clock.now()
          t2 = clock.now()
        }
        // storage freed by the release: traced runs only (a probe per key)
        val before = if (trace.isDefined) storageBytes() else 0L
        val r0 = clock.now()
        trace.foreach(_.open("release", k, pass))
        ScratchCache.releaseAll()
        trace.foreach(_.close())
        val t3 = clock.now()
        trace.foreach(_.close())
        val freed = if (trace.isDefined) before - storageBytes() else 0L
        // the benchmark's own check of a written result is not timed;
        // traced, it is a span of its own, outside the key's
        if (writeDir.isDefined && err.isEmpty) {
          trace.foreach(_.open("verify", k, pass))
          rows = try spark.read.parquet(s"${writeDir.get}/$k").count()
            catch { case e: Throwable => err = firstLine(e); -1L }
          trace.foreach(_.close())
        }
        out.put("type" -> "exec", "key" -> k, "pass" -> pass,
          "start" -> (t0 - windowStart) / 1e9,
          "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
          "release_s" -> (t3 - r0) / 1e9, "wall_s" -> (t2 - t0 + t3 - r0) / 1e9,
          "rows" -> rows, "error" -> err, "freed_bytes" -> freed)
      }
      val passEnd = clock.now()
      // files the pass wrote: result writes and the sinks' own output
      val written = (writeDir.toSeq :+ System.getProperty("java.io.tmpdir"))
        .flatMap(d => filesSince(Paths.get(d), passStart / 1000000L))
      out.put("type" -> "pass", "pass" -> pass,
        "start" -> (passStart - windowStart) / 1e9,
        "wall_s" -> (passEnd - passStart) / 1e9,
        "load_s" -> loadNs / 1e9,
        "storage_bytes" -> storageBytes(),
        "out_bytes" -> written.map(_._1).sum, "out_files" -> written.size)
    }
    val windowEnd = clock.now()
    out.put("type" -> "window", "passes" -> pass,
      "wall_s" -> (windowEnd - windowStart) / 1e9,
      "driver_gc_s" -> (gcNanos() - gcBefore) / 1e9, "cores" -> cores)
    trace.foreach(_.finish(out, windowStart))

    // content check, after the window: each key's result as parquet
    checkDir.foreach { c =>
      keys.filter(oracle.contains).foreach { k =>
        sc.setJobGroup(k, s"perfbench check $k", false)
        val err =
          try { queries(k)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$c/$k"); "" }
          catch { case e: Throwable => firstLine(e) }
          finally ScratchCache.releaseAll()
        out.put("type" -> "check", "key" -> k, "error" -> err)
      }
    }
    // every record is written; main skips the session's orderly
    // shutdown, and run.py deletes the run's scratch directories
    out.close()
  }

  def gcNanos(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum * 1000000L

  /** (size, path) of every regular file under `p` modified at or after
    * `sinceMs` (epoch milliseconds). */
  def filesSince(p: Path, sinceMs: Long): Seq[(Long, Path)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs)
        .map(f => (Files.size(f), f)).toList
      finally s.close()
    }

  /** Exception class and first message line: names a failure's cause. */
  def firstLine(e: Throwable): String = {
    val head = Option(e.getMessage).getOrElse("").linesIterator
      .find(_.nonEmpty).getOrElse("")
    (e.getClass.getSimpleName + (if (head.nonEmpty) ": " + head else "")).take(300)
  }
}

/** Monotonic nanoseconds, convertible to epoch nanoseconds so that
  * Spark's epoch-millisecond event times share one time line. */
final class Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch(System.nanoTime())
  def epoch(nano: Long): Long = epoch0 + (nano - nano0)
}

/** JSON-lines sink. Numbers use Java's locale-independent rendering. */
final class Records(path: Path) {
  Files.createDirectories(path.getParent)
  private val w = new PrintWriter(Files.newBufferedWriter(path))
  def put(fields: (String, Any)*): Unit = synchronized {
    w.println(fields.map { case (k, v) => Records.str(k) + ":" + Records.value(v) }
      .mkString("{", ",", "}"))
  }
  def close(): Unit = w.close()
}

object Records {
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""
}
