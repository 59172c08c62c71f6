package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import graft.ops.Par

/** Schema-pinned, cached readers for the generated parquet tables
  * (`<sfDir>/<table>.parquet`). See FIXTURES.md for schemas.
  *
  * At 100 TB these reads become partitioned parquet scans over object
  * storage, already as wide as the cluster; everything downstream only
  * relies on columnar pruning + predicate pushdown, which Catalyst
  * applies identically there. The cache layout adapts to the scan's
  * statistics (see `layout`): a large table read from a single file is
  * spread across the cores once, at cache build, instead of leaving
  * every later scan of it a single task.
  */
object Tables {
  private def p(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  // Cache each (sfDir, table) once per JVM: Spark's CacheManager matches
  // by canonicalized plan, so EVERY later scan of the same parquet path
  // (each of the ~68 harness queries re-builds its own DataFrame) reads
  // the in-memory columnar copy instead of re-decoding parquet. The
  // whole sf0.1 dataset is well under 200 MB cached — at cluster scale
  // this is the classic "cache the dimension/fact working set once"
  // policy, with spill-to-disk if it ever doesn't fit.
  //
  // The DATAFRAME is memoized too (keyed by session so a second
  // SparkSession in the JVM never receives a frame bound to the first):
  // every spark.read.parquet call runs a footer/schema-inference job,
  // so rebuilding the reader per query would pay one small driver job
  // per table access — with the memo, query construction after first
  // table touch is fully lazy (asserted in DedupSimSpec and TablesSpec).
  private val cachedOnce = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  private def cached(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    cachedOnce.getOrElseUpdate((s, d, name),
      { val df = layout(build); df.cache(); df })

  /** Scan bytes one task of a cached table's build and of every scan
    * over it should cover. */
  private val TargetBytes = BigInt(1L << 20)

  /** The layout a table is cached in. Its width is
    * `w = min(defaultParallelism, ceil(scanBytes / TargetBytes))`, with
    * `scanBytes` the file relation's size statistic, so no job runs.
    *
    * A scan that already has `w` or more partitions (the wide multi-file
    * scans of a large deployment) is cached as read: no payload shuffle.
    * A narrower one — a generated table is ONE parquet file with ONE row
    * group, so all its rows sit in a single scan partition whatever the
    * split count — is cached as `repartition(w, k).sortWithinPartitions(k)`
    * on its leading key column `k` (l_orderkey, o_orderkey, event_id, …).
    * Scans and partial aggregates over the large tables then run on
    * every core, the cache build compresses in `w` tasks, and the cached
    * relation keeps its hash partitioning on `k`, so joins and
    * aggregations on that key skip one exchange. Small tables (w = 1)
    * keep their layout: a blanket 32-way layout for every table taxed
    * each tiny stage ~0.2 s in scheduling. */
  private def layout(df: DataFrame): DataFrame = {
    val qe = Par.plan(df)
    val bytes = qe.optimizedPlan.stats.sizeInBytes
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val w = BigInt(cores).min((bytes + TargetBytes - 1) / TargetBytes).max(1).toInt
    if (Par.width(qe.sparkPlan) >= w) df
    else {
      val k = col(df.columns.head)
      df.repartition(w, k).sortWithinPartitions(k)
    }
  }

  /** Evict and unpersist the memoized reader for table `name` under
    * `d` (no-op when absent) and drop Spark's cached file listing for
    * the path. Standing-index builders call this when the dataset
    * fingerprint says the corpus was REGENERATED in-session: without
    * it the rebuild would read the memoized frame — `.cache()`d with a
    * snapshotted file listing — and the fresh-fingerprint-named index
    * would silently hold stale rows (or the scan would fail on deleted
    * part files). The next [[documents]]/[[embeddings]] call re-primes
    * the memo from a fresh `read.parquet`. */
  def refresh(s: SparkSession, d: String, name: String): Unit = {
    cachedOnce.remove((s, d, name)).foreach(_.unpersist(false))
    try s.catalog.refreshByPath(p(d, name))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  def region(s: SparkSession, d: String): DataFrame =
    cached(s, d, "region")(s.read.parquet(p(d, "region")))
  def nation(s: SparkSession, d: String): DataFrame =
    cached(s, d, "nation")(s.read.parquet(p(d, "nation")))
  def customer(s: SparkSession, d: String): DataFrame =
    cached(s, d, "customer")(s.read.parquet(p(d, "customer")))
  def supplier(s: SparkSession, d: String): DataFrame =
    cached(s, d, "supplier")(s.read.parquet(p(d, "supplier")))
  def part(s: SparkSession, d: String): DataFrame =
    cached(s, d, "part")(s.read.parquet(p(d, "part")))
  def orders(s: SparkSession, d: String): DataFrame =
    cached(s, d, "orders")(s.read.parquet(p(d, "orders")))
  def lineitem(s: SparkSession, d: String): DataFrame =
    cached(s, d, "lineitem")(s.read.parquet(p(d, "lineitem")))
  /** events.ts has shipped in two physical shapes across testdata
    * generations, so the reader adapts to the loaded schema:
    *
    *  - TIMESTAMP(NANOS) (rounds 1–7 data): Spark 4 refuses to read
    *    parquet ns as a timestamp; under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as
    *    BIGINT nanos, which we floor to µs (`ts DIV 1000`) — DuckDB's
    *    CAST(ts_ns AS TIMESTAMP) truncates identically, and the
    *    generator's ns values are µs-aligned anyway, so it's lossless.
    *  - timestamp[us] (round-8+ data): Spark reads it natively as
    *    TIMESTAMP_NTZ; we only cast to the session-zone TimestampType
    *    (value-preserving under the pinned UTC session) so every
    *    downstream frame and oracle sees the exact type/values they
    *    were verified against.
    *
    * The legacy branch still REQUIRES `nanosAsLong=true` on the session
    * — set by `Graft.init` and the Verify/Bench/test harnesses, and
    * harmless when no ns column exists. Deliberately NOT set here: a
    * reader function mutating session conf is a global side effect
    * library consumers don't expect. */
  def events(s: SparkSession, d: String): DataFrame =
    cached(s, d, "events") {
      val raw = s.read.parquet(p(d, "events"))
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts DIV 1000")) // legacy ns-as-long data
        case _ =>
          // NTZ carries a wall-clock; CAST to TIMESTAMP interprets it
          // in the SESSION zone. The harness pins UTC — enforce it here
          // so a non-UTC library consumer fails loudly instead of
          // silently shifting every event time against the timezone-
          // naive oracle (ADVICE r8).
          require(s.conf.get("spark.sql.session.timeZone") == "UTC",
            "graft.Tables.events reads a TIMESTAMP_NTZ column via a " +
              "session-zone cast; set spark.sql.session.timeZone=UTC " +
              s"(found '${s.conf.get("spark.sql.session.timeZone")}')")
          expr("CAST(ts AS TIMESTAMP)") // native µs (NTZ → UTC LTZ)
      }
      raw.withColumn("ts", ts)
    }
  def documents(s: SparkSession, d: String): DataFrame =
    cached(s, d, "documents")(s.read.parquet(p(d, "documents")))
  def embeddings(s: SparkSession, d: String): DataFrame =
    cached(s, d, "embeddings")(s.read.parquet(p(d, "embeddings")))
}
