package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom Catalyst surface (SURVEY.md §4.3).
  *
  * The t2 contract needs zero custom rules — every operator composes
  * from built-ins — so this module exists to (a) exercise the real
  * extension mechanism end-to-end and (b) mark where heavier custom
  * work would attach:
  *
  *  - scalar/agg functions → custom `Expression` with `doGenCode`
  *    (beats a Scala UDF: codegen + Catalyst visibility), injected via
  *    `FunctionRegistry` / `ext.injectFunction`;
  *  - whole-operator semantics (e.g. a range-partitioned merge as-of
  *    join replacing the union+window rewrite in Joins.joinAsofOn) →
  *    custom `LogicalPlan` node + `Rule[LogicalPlan]` +
  *    `SparkStrategy` producing a custom `SparkPlan`, injected via
  *    `ext.injectPlannerStrategy(_ => AsofMergeStrategy)`;
  *  - install with
  *    `SparkSession.builder.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseRedundantCase)
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.AnalysisException
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
  import graft.functions.CosineSimilarity

  /** Arity validation for registration builders: a builder that indexes
    * `children(i)` unguarded turns `shingles(text)` into an
    * IndexOutOfBoundsException from deep inside the analyzer — this
    * raises the same WRONG_NUM_ARGS AnalysisException Spark's own
    * function registry produces. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != n)
        throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> n.toString,
            "actualNum" -> children.size.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(children)
    }

  /** `cosine_sim(array<double>, array<double>) -> double` — the native
    * codegen expression (one fused loop, no interpreted lambdas). */
  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    arity("cosine_sim", 2)(c => CosineSimilarity(c(0), c(1))))

  /** `dot_product(array<double>, array<double>) -> double` — the
    * codegen sibling for k-means / IVF scoring (left-to-right fold,
    * bit-exact with the HOF formulation and DuckDB). */
  val dotProductDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "dot_product"),
    arity("dot_product", 2)(c => graft.functions.DotProduct(c(0), c(1))))

  /** Runtime registration for an existing session (tests, notebooks).
    * Idempotent: a function the session already has is left as it is,
    * so the many call sites that register before use cost one lookup. */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def register(name: String, build: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    register("cosine_sim",
      arity("cosine_sim", 2)(c => CosineSimilarity(c(0), c(1))))
    register("dot_product",
      arity("dot_product", 2)(c => graft.functions.DotProduct(c(0), c(1))))
    register("count_min_est",
      arity("count_min_est", 2)(c =>
        graft.functions.CountMinEstimate(c(0), c(1)).toAggregateExpression()))
    register("shingles",
      arity("shingles", 2)(c =>
        graft.functions.ShinglesGenerator(c(0), c(1))))
    register("cdc_split",
      arity("cdc_split", 3)(c =>
        graft.functions.CdcSplit(c(0), c(1), c(2))))
    register("roaring_and_card",
      arity("roaring_and_card", 2)(c =>
        graft.functions.RoaringAndCard(c(0), c(1))))
    // Spark's own Bloom-filter sketch pair (the machinery behind
    // runtime row-group filters), surfaced as SQL functions for the
    // q_filter_bloom prefilter: bloom_agg(xxhash64(x), estItems,
    // numBits) builds the sketch as an aggregate; bloom_might_contain
    // (sketch, xxhash64(x)) is the row-local membership probe. The
    // sketch argument must be a literal or an uncorrelated scalar
    // subquery (BloomFilterMightContain.checkInputDataTypes), which is
    // exactly how the caller supplies it.
    register("bloom_agg",
      arity("bloom_agg", 3)(c =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(c(0), c(1), c(2)).toAggregateExpression()))
    register("bloom_might_contain",
      arity("bloom_might_contain", 2)(c =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(c(0), c(1))))
  }
}

/** Small but real optimizer rule: collapses IDEMPOTENT stacked
  * case-conversion calls (`upper(upper(x))` → `upper(x)`,
  * `lower(lower(x))` → `lower(x)`) that show up when composed cleaning
  * pipelines each defensively normalize case — the reference's
  * CURIE-normalization layers do exactly this. Deliberately does NOT
  * rewrite mixed stacks (`lower(upper(x))` ≠ `lower(x)`): Unicode case
  * mapping is not an involution — e.g. upper('ß') = "SS" so
  * lower(upper('ß')) = "ss" ≠ 'ß', and lower('İ') round-trips
  * differently under dotted-I rules — so the mixed collapse would
  * silently change results for non-ASCII data. Also runtime-injectable
  * for tests via `spark.experimental.extraOptimizations`. */
object CollapseRedundantCase extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Upper(Upper(c))  => Upper(c)
      case Lower(Lower(c))  => Lower(c)
    }
}
