package graft.ops

import org.apache.spark.graphx.{Edge => GXEdge, Graph => GXGraph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import scala.util.chaining._

/** Graph / ETL operator surface (SURVEY.md §2.11) — the reference's core
  * business re-expressed over the testdata-derived graph (nodes :=
  * customers ∪ event users; edges := order→part lines).
  *
  * Reference mapping: id normalization with failure retention
  * (`Common/normalization.py` NodeNormalizer + `kgx_file_normalizer.py`),
  * node/edge merging (`Common/merging.py` GraphMerger/DiskGraphMerger),
  * pre-load QC stats. The reference normalizes via batched HTTP calls to
  * a remote service and merges via external sort on one machine; here
  * normalization is a broadcast join against the mapping table and the
  * merge is Spark's native shuffle — the same external-merge-sort
  * algorithm, distributed.
  */
object GraphOps {
  private val D = DecimalType(12, 2)
  // Exact decimal internally; DOUBLE on the wire (see Relational.d2).
  private def d2(c: Column): Column = c.cast(DecimalType(38, 2)).cast("double")

  /** q_norm_remap — canonical-id remap through a broadcast mapping with
    * failure retention: ids the mapping doesn't cover keep a RAW: form
    * instead of being dropped (exactly the reference's norm-failure
    * handling). The mapping table broadcasts; the fact side never
    * shuffles for the join. */
  def normRemap(s: SparkSession, d: String): DataFrame = {
    val mapping = Tables.nation(s, d).filter(col("n_nationkey") < 20)
    Tables.customer(s, d)
      .join(broadcast(mapping),
        col("c_nationkey") === col("n_nationkey"), "left")
      .select(coalesce(
        concat(lit("NATION:"), col("n_name")),
        concat(lit("RAW:"), col("c_nationkey"))).as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("canonical"))
  }

  /** Edge normalization — the reference's edge-side normalize stage,
    * pairing with [[normRemap]]'s node side: every edge's predicate is
    * remapped through a (small, broadcast) predicate mapping — unmapped
    * predicates are retained with a `raw:` prefix, mirroring node-norm
    * failure retention — and edges are classified by whether their
    * endpoints survived node normalization (`retained`,
    * `dropped_subject`, `dropped_object`, `dropped_both`), so callers
    * can keep the retained set and log the rest (the reference's
    * norm-failure file). Endpoint checks are equi joins against the
    * normalized-id sets — shuffle joins at 100 TB, never per-row
    * lookups; the predicate map is dimension-sized and broadcasts.
    *
    * edges: (subject, predicate, object); subjectIds/objectIds: (id);
    * predicateMap: (raw, pred). */
  def normalizeEdges(edges: DataFrame, subjectIds: DataFrame,
      objectIds: DataFrame, predicateMap: DataFrame): DataFrame = {
    val e = edges.select(col("subject"),
      col("predicate").as("raw_predicate"), col("object"))
    e.join(broadcast(predicateMap),
        e("raw_predicate") === predicateMap("raw"), "left")
      .join(subjectIds.select(col("id").as("s_id")),
        col("subject") === col("s_id"), "left")
      .join(objectIds.select(col("id").as("o_id")),
        col("object") === col("o_id"), "left")
      .select(col("subject"),
        coalesce(col("pred"),
          concat(lit("raw:"), lower(col("raw_predicate")))).as("predicate"),
        col("object"),
        when(col("s_id").isNotNull && col("o_id").isNotNull, "retained")
          .when(col("s_id").isNull && col("o_id").isNull, "dropped_both")
          .when(col("s_id").isNull, "dropped_subject")
          .otherwise("dropped_object").as("status"))
  }

  /** The retained / dropped split (dropped = the failure-log twin). */
  def normalizeEdgesSplit(edges: DataFrame, subjectIds: DataFrame,
      objectIds: DataFrame, predicateMap: DataFrame)
      : (DataFrame, DataFrame) = {
    val annotated = normalizeEdges(edges, subjectIds, objectIds, predicateMap)
    (annotated.filter(col("status") === "retained").drop("status"),
      annotated.filter(col("status") =!= "retained"))
  }

  /** q_norm_edges — edge normalization over the order→part edge set:
    * return-flag predicates remap through a 2-row map ('N' stays
    * raw:n), subjects must be non-'P' orders, objects must be parts
    * with size ≤ 45; per-(status, predicate) edge counts. */
  def normEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pm = Seq(("A", "biolink:affects"), ("R", "biolink:related_to"))
      .toDF("raw", "pred")
    val edges = Tables.lineitem(s, d).select(
      col("l_orderkey").as("subject"),
      col("l_returnflag").as("predicate"),
      col("l_partkey").as("object"))
    val subj = Tables.orders(s, d).filter(col("o_orderstatus") =!= "P")
      .select(col("o_orderkey").as("id"))
    val obj = Tables.part(s, d).filter(col("p_size") <= 45)
      .select(col("p_partkey").as("id"))
    normalizeEdges(edges, subj, obj, pm)
      .groupBy(col("status"), col("predicate"))
      .agg(count(lit(1)).as("n_edges"))
      .orderBy(col("status"), col("predicate"))
  }

  /** q_graph_node_merge — same-id nodes from two sources merge into one
    * node with the union of category sets (sorted for determinism) and
    * max name — GraphMerger.merge_nodes semantics as one hash
    * aggregate. */
  def nodeMerge(s: SparkSession, d: String): DataFrame = {
    val customers = Tables.customer(s, d)
      .select(col("c_custkey").as("id"),
        lit("customer").as("category"),
        col("c_name").as("name"))
    val users = Tables.events(s, d)
      .select(col("user_id").as("id")).distinct()
      .select(col("id"), lit("user").as("category"),
        concat(lit("user_"), col("id")).as("name"))
    customers.unionByName(users)
      .groupBy(col("id"))
      .agg(
        // stringified for the comparator wire format (see Aggregates)
        array_join(sort_array(collect_set(col("category"))), ",").as("cats"),
        max(col("name")).as("name"),
        count(lit(1)).as("n_srcs"))
      .orderBy(col("id"))
  }

  /** q_graph_metakg — META-KNOWLEDGE-GRAPH content summary (r14): the
    * per-graph metadata artifact the reference publishes after every
    * build (content metadata: node id-prefixes per category + the
    * distinct (subject_category, predicate, object_category) edge
    * patterns with counts — exactly what a TRAPI
    * /meta_knowledge_graph endpoint serves [R-shape]). ONE ledger:
    *   kind='node' rows — (category, prefixes = sorted distinct CURIE
    *     prefixes joined ',', n = node count);
    *   kind='edge' rows — (category = subject category, predicate,
    *     object_category, n = DISTINCT (s,p,o) edge count — merged-
    *     graph semantics, multiplicities collapse like edge_merge).
    * Inapplicable cells carry '' (not NULL) so cross-engine ordering
    * and hashing are unambiguous.
    *
    * Graph derivation (deterministic): customers CUST:<k> categorized
    * by market segment; suppliers SUPP:<k>; parts categorized by the
    * first p_type word with TWO id spaces (PARTX: when p_size > 25,
    * PART: otherwise — so part categories exercise the multi-prefix
    * collection). Edges: customer→part per lineitem (predicate from
    * the return flag: returned / accepted / ordered) and
    * supplier→part 'supplies'.
    *
    * Scale shape: two id-keyed equi joins hang the node categories on
    * the edge endpoints (data-sized, plain shuffle joins), then ONE
    * hash agg collapses to the ≤ |cats|²·|preds| pattern table; the
    * node side is one hash agg. Nothing driver-side. */
  def metaKg(s: SparkSession, d: String): DataFrame = {
    // r20 long-key rewrite (guide §2.3 — narrow shuffle keys): the
    // string graph ("CUST:123" ids, predicate words) exists only in the
    // OUTPUT pattern table; the data-sized path runs entirely on longs.
    // Node ids pack a 2-bit namespace flavor into bits 62-61 of a long
    // (every TPC-H key stays < 2^61 at any SF, incl. 100 TB), so the
    // four disjoint CURIE prefixes stay disjoint after encoding and the
    // string↔long mapping is injective — the DISTINCT (s,p,o) set and
    // both category attachments are value-identical to the string plan
    // the oracle runs. Category strings attach BEFORE the distinct on
    // the dimension side (customer→orders: |O| narrow rows, part dim:
    // |P| rows) instead of AFTER it on the |E|-sized side — two full
    // |E|-row string-keyed join exchanges gone; predicate travels as a
    // tinyint and decodes post-aggregation on ≤ |cats|²·|preds| rows.
    val CUST = 0L << 61; val SUPP = 1L << 61
    val PART = 2L << 61; val PARTX = 3L << 61
    val partPrefix = when(col("p_size") > 25, "PARTX").otherwise("PART")
    val partFlavor = when(col("p_size") > 25, lit(PARTX)).otherwise(lit(PART))
    // node-pattern side: category/prefix only, no id strings built
    val nodesLight = Tables.customer(s, d)
      .select(lower(col("c_mktsegment")).as("category"),
        lit("CUST").as("prefix"))
      .unionByName(Tables.supplier(s, d)
        .select(lit("supplier").as("category"), lit("SUPP").as("prefix")))
      .unionByName(Tables.part(s, d)
        .select(lower(split(col("p_type"), " ").getItem(0)).as("category"),
          partPrefix.as("prefix")))
    val nPat = nodesLight.groupBy(col("category"))
      .agg(array_join(sort_array(collect_set(col("prefix"))), ",")
          .as("prefixes"),
        count(lit(1)).as("n"))
      .select(lit("node").as("kind"), col("category"),
        lit("").as("predicate"), lit("").as("object_category"),
        col("prefixes"), col("n"))
    // edge-pattern side: subject category rides the order row (one
    // |O|-sized customer join), object category rides the part dim row
    val li = Tables.lineitem(s, d)
    val ordersC = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        lit(CUST).bitwiseOR(col("o_custkey").cast("long")).as("s_id"),
        lower(col("c_mktsegment")).as("s_cat"))
    val partDim = Tables.part(s, d)
      .select(col("p_partkey"),
        partFlavor.bitwiseOR(col("p_partkey").cast("long")).as("o_id"),
        lower(split(col("p_type"), " ").getItem(0)).as("o_cat"))
    val custPart = li
      .join(ordersC, li("l_orderkey") === col("o_orderkey"))
      .join(partDim, li("l_partkey") === col("p_partkey"))
      .select(col("s_id"), col("s_cat"),
        when(col("l_returnflag") === "R", 0)
          .when(col("l_returnflag") === "A", 1)
          .otherwise(2).cast("tinyint").as("pred"),
        col("o_id"), col("o_cat"))
    val suppPart = li
      .join(partDim, li("l_partkey") === col("p_partkey"))
      .select(lit(SUPP).bitwiseOR(col("l_suppkey").cast("long")).as("s_id"),
        lit("supplier").as("s_cat"),
        lit(3).cast("tinyint").as("pred"), col("o_id"), col("o_cat"))
    // s_id determines s_cat and o_id determines o_cat (category is a
    // function of the node), so DISTINCT over the 5-col row equals
    // DISTINCT (s,p,o) — no extra collapse, no lost rows
    val ePat = custPart.unionByName(suppPart).distinct()
      .groupBy(col("s_cat"), col("pred"), col("o_cat"))
      .agg(count(lit(1)).as("n"))
      .select(lit("edge").as("kind"), col("s_cat").as("category"),
        when(col("pred") === 0, "returned")
          .when(col("pred") === 1, "accepted")
          .when(col("pred") === 2, "ordered")
          .otherwise("supplies").as("predicate"),
        col("o_cat").as("object_category"), lit("").as("prefixes"),
        col("n"))
    nPat.unionByName(ePat)
      .orderBy(col("kind"), col("category"), col("predicate"),
        col("object_category"))
  }

  /** Core of q_graph_metakg over any (id, category, prefix) node frame
    * and (subject, predicate, object) edge frame. */
  def metaKgOn(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val cats = nodes.select(col("id"), col("category"))
    val ePat = edges
      .select(col("subject"), col("predicate"), col("object")).distinct()
      .join(cats.select(col("id").as("subject"),
        col("category").as("subject_category")), "subject")
      .join(cats.select(col("id").as("object"),
        col("category").as("object_category")), "object")
      .groupBy(col("subject_category"), col("predicate"),
        col("object_category"))
      .agg(count(lit(1)).as("n"))
      .select(lit("edge").as("kind"),
        col("subject_category").as("category"), col("predicate"),
        col("object_category"), lit("").as("prefixes"), col("n"))
    val nPat = nodes.groupBy(col("category"))
      .agg(array_join(sort_array(collect_set(col("prefix"))), ",")
          .as("prefixes"),
        count(lit(1)).as("n"))
      .select(lit("node").as("kind"), col("category"),
        lit("").as("predicate"), lit("").as("object_category"),
        col("prefixes"), col("n"))
    nPat.unionByName(ePat)
      .orderBy(col("kind"), col("category"), col("predicate"),
        col("object_category"))
  }

  /** q_graph_edge_merge — duplicate (subject,object) edges merge:
    * decimal-sum of quantities, sorted supplier set, multiplicity —
    * GraphMerger.merge_edges as one hash aggregate. */
  def edgeMerge(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("subject"),
        col("l_partkey").as("object"))
      .agg(
        d2(sum(col("l_quantity").cast(D))).as("sum_qty"),
        // numeric sort FIRST, then stringify ("10" < "2" lexically)
        array_join(transform(sort_array(collect_set(col("l_suppkey"))),
          _.cast("string")), ",").as("supps"),
        count(lit(1)).as("n"))
      .orderBy(col("subject"), col("object"))

  /** q_graph_degree — per-node degree over the order→part edge set,
    * top-20 (pre-load QC stats). TakeOrderedAndProject, no full sort. */
  def degree(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val outDeg = li.groupBy(col("l_orderkey").as("node"))
      .agg(count(lit(1)).as("degree"))
      .select(lit("order").as("ntype"), col("node"), col("degree"))
    val inDeg = li.groupBy(col("l_partkey").as("node"))
      .agg(count(lit(1)).as("degree"))
      .select(lit("part").as("ntype"), col("node"), col("degree"))
    outDeg.unionByName(inDeg)
      .orderBy(col("degree").desc, col("ntype"), col("node"))
      .limit(20)
  }

  /** q_graph_triangles — exact triangle count + global clustering
    * coefficient over the part co-purchase graph (parts sharing an
    * order are adjacent; id-canonical undirected edges u < v). THE
    * closed-wedge QC metric: "does this merged graph have community
    * structure, or is it a hairball".
    *
    * Scale shape — compact-forward / degree-ordered triangle counting,
    * the standard distributed formulation: edges are ORIENTED from the
    * (degree, id)-smaller endpoint to the larger, so every vertex's
    * out-neighborhood is O(√|E|)-bounded regardless of hub degree;
    * wedges come from the oriented self-join on the apex (Σ C(outdeg,2)
    * ≤ |E|·√|E| candidates instead of a hub's C(deg,2) blowup) and each
    * triangle is counted exactly once at its unique (degree, id)-min
    * apex via one hash-join closure probe against the canonical edge
    * set. All equi joins + hash aggregates; the count is an exact
    * integer so the DuckDB oracle (plain a<b<c 3-way join — fine at
    * oracle scale, quadratic at ours) value-checks it. */
  def triangles(s: SparkSession, d: String): DataFrame =
    // deterministic part slice (¼ of the vocabulary): co-purchase
    // graphs DENSIFY as orders grow over a fixed part vocabulary
    // (degree ∝ orders ⇒ wedges quadratic), so the benchmarked metric
    // runs on a slice — row-local, pushed into the scan; the plan is
    // identical for the full graph
    trianglesOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_triangles over any (o, p) membership frame. */
  def trianglesOn(membership: DataFrame): DataFrame = {
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    // id-canonical co-purchase edges (u < v), deduped across orders;
    // skew-hardened per-order pair build (see [[coPairs]])
    val ec = coPairs(op).distinct()
      .pipe(ScratchCache.cache)
    val deg = ec.select(col("u").as("x")).unionByName(
        ec.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .pipe(ScratchCache.cache)
    // orient each edge from the (deg, id)-smaller endpoint
    val oriented = ec
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .pipe(ScratchCache.cache)
    // wedges at each apex s: unordered out-neighbor pairs (t1, t2);
    // closure = the canonical edge (min, max) exists
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(least(col("e1.t"), col("e2.t")).as("u"),
        greatest(col("e1.t"), col("e2.t")).as("v"))
    val tri = wedges.join(ec, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
      .withColumn("k", k0(col("n_triangles")))
    val stats = ec.agg(count(lit(1)).as("n_edges"))
      .withColumn("k", k0(col("n_edges")))
    val openw = deg
      .agg(sum((col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
      .withColumn("k", k0(col("n_wedges")))
    // three 1-row frames on the non-foldable all-zeros key (a literal
    // key would constant-fold the joins into census-breaking BNLJs)
    stats.join(broadcast(tri), "k").join(broadcast(openw), "k")
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        round(lit(3) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_cc"))
  }

  /** q_graph_jaccard — item-similarity by exact order-set Jaccard over
    * the (sliced) co-purchase relation: for every part pair sharing at
    * least one order, J(a,b) = |orders(a) ∩ orders(b)| /
    * |orders(a) ∪ orders(b)|; top-20 pairs. The classic "customers who
    * bought X also bought Y" score — and, for a training pipeline, the
    * co-occurrence similarity that seeds concept clustering.
    *
    * Scale shape: candidates come ONLY from the membership self-join on
    * the order key (per-order fanout is bounded by the order's line
    * count — never an all-pairs product over parts); intersections are
    * one hash aggregate over those candidates; union sizes come from
    * inclusion–exclusion (deg(a)+deg(b)−∩) via two equi joins against
    * the per-part degree table, so no union is ever materialized.
    * DETERMINISM: counts are exact integers; ONE double division,
    * rounded to 6dp, and the ranking orders by the ROUNDED score with
    * (u, v) tie-breaks so a 1-ulp divergence cannot flip ranks. */
  def jaccard(s: SparkSession, d: String): DataFrame =
    // same deterministic ¼-vocabulary slice as q_graph_triangles:
    // co-purchase graphs densify quadratically as orders grow over a
    // fixed part vocabulary (row-local filter, pushed into the scan)
    jaccardOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** (o, p, gsz): the membership frame size-tagged via a WINDOW count —
    * the window's hash-partitioning on o is exactly what [[coPairs]]'s
    * cold self-join needs, so tagging costs ONE shuffle of op (like the
    * naive pair build) instead of an agg+join's two extra exchanges.
    * Deliberately NOT cached: [[coPairs]]'s four consumers (cold a/b,
    * hot A/B sides) all sit on the same exchange, which Spark reuses
    * (ReusedExchange), and re-running the per-partition window count
    * per consumer measured cheaper than materializing a cache
    * (1.28/2.11/1.79 s vs 1.32/2.41/1.87 s for jaccard/paths/triangles
    * at sf0.1). */
  private[graft] def sizeTagged(op: DataFrame): DataFrame =
    op.withColumn("gsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("o"))))

  /** All within-order part pairs (u < v) of an (o, p) membership frame,
    * ONE ROW PER (order, pair) CO-OCCURRENCE — the shared pair build
    * behind [[jaccardOn]], [[pathsOn]] and [[trianglesOn]].
    *
    * SKEW HARDENING. The naive `a ⋈ b ON a.o = b.o AND a.p < b.p`
    * self-join lands ALL of a group's m·(m−1)/2 pairs on the single
    * reducer that owns key o — fine on TPC-H-shaped data (≤7 items per
    * order; measured plan-identical cold path) but a straggler/OOM on a
    * power-law membership graph where one hub key holds 10k+ items
    * (~10⁸ pairs on one task). Two-phase build:
    *  - per-key sizes ride a window count ([[sizeTagged]]) — NOT a
    *    broadcast heavy-hitter list: at 100 TB that list itself can
    *    exceed driver memory; the window is a linear pass on the same
    *    hash-partitioning the self-join needs;
    *  - keys at or under `hotThreshold` take the plain self-join
    *    (bounded ≤ threshold²/2 pairs per task);
    *  - hotter keys are pair-built on a `blocks`×`blocks` grid: each
    *    item hashes to a block, side A replicates to block pairs
    *    (blk, blk..B−1), side B to (0..blk, blk), and the join keys on
    *    (o, blockA, blockB) — spreading one hub's pairs over B(B+1)/2
    *    reducer keys, so max task work drops m² → (m/B)². Off-diagonal
    *    tasks emit (least, greatest); diagonal tasks filter a.p < b.p —
    *    every unordered pair appears exactly once, so cold ∪ hot equals
    *    the naive join row-for-row (property-tested against a planted
    *    hub in GraphOpsSpec). Replication cost: ≤ (B+1)/2 shuffle
    *    copies, paid ONLY by hot keys. */
  private[graft] def coPairs(tagged: DataFrame, hotThreshold: Int = 256,
      blocks: Int = 16, carrySize: Boolean = false): DataFrame = {
    // carrySize threads the shared order's size (gsz) through both
    // paths — [[adamicAdarOn]]'s per-co-occurrence weight — without
    // changing the default (u, v) shape the other consumers distinct
    def out(cols: Column*): Seq[Column] =
      if (carrySize) cols :+ col("a.gsz").as("gsz") else cols
    val cold = tagged.filter(col("gsz") <= hotThreshold)
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(out(col("a.p").as("u"), col("b.p").as("v")): _*)
    val hot = tagged.filter(col("gsz") > hotThreshold)
      .select(col("o"), col("p"), col("gsz"),
        pmod(hash(col("p")), lit(blocks)).as("blk"))
    val aSide = hot.select(col("o"), col("p"), col("gsz"), col("blk"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("jb"))
    val bSide = hot.select(col("o"), col("p"), col("blk"),
      explode(sequence(lit(0), col("blk"))).as("ib"))
    val hotPairs = aSide.as("a").join(bSide.as("b"),
        col("a.o") === col("b.o") &&
        col("a.blk") === col("b.ib") && col("a.jb") === col("b.blk") &&
        (col("a.blk") < col("b.blk") || col("a.p") < col("b.p")))
      .select(out(least(col("a.p"), col("b.p")).as("u"),
        greatest(col("a.p"), col("b.p")).as("v")): _*)
    coldPairs.unionByName(hotPairs)
  }

  /** Core of q_graph_jaccard over any (o, p) membership frame. */
  def jaccardOn(membership: DataFrame): DataFrame = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    val inter = coPairs(op)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    val deg = op.groupBy(col("p")).agg(count(lit(1)).as("d"))
      .pipe(ScratchCache.cache)
    inter
      .join(deg.select(col("p").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("p").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("c").as("n_common"),
        round(col("c").cast("double")
          / (col("du") + col("dv") - col("c")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(20)
  }

  /** q_graph_adamic_adar — LINK-PREDICTION scoring by weighted common
    * neighbors: for every part pair sharing at least one order,
    * AA(u,v) = Σ_{shared orders o} 1/ln(|o|) — [[jaccardOn]]'s "how
    * much do they co-occur" refined by "how INFORMATIVE is each
    * co-occurrence" (a 2-item order is strong evidence, a 500-item
    * order is noise — the Adamic–Adar discount). Top-20 candidate
    * links; the score that seeds recommendation / knowledge-graph
    * edge-completion candidates.
    *
    * Scale shape: identical to jaccard — candidates come only from
    * the skew-hardened [[coPairs]] membership self-join (carrySize
    * threads the shared order's size through, so no join back to a
    * size table), one hash agg over candidates. DETERMINISM: each
    * co-occurrence's weight 1/ln(|o|) is rounded to 6dp and cast to
    * DECIMAL(18,6) BEFORE summation (the q_text_lm_score discipline),
    * so per-pair totals are exact and partition-order free; ranking
    * orders by the exact decimal score with (u, v) tie-breaks. |o| ≥ 2
    * whenever a pair exists, so ln never sees 1. */
  def adamicAdar(s: SparkSession, d: String): DataFrame =
    adamicAdarOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_adamic_adar over any (o, p) membership frame. */
  def adamicAdarOn(membership: DataFrame): DataFrame = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    coPairs(op, carrySize = true)
      .select(col("u"), col("v"),
        round(lit(1.0) / log(col("gsz").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("w")).cast(DecimalType(38, 6)).cast("double").as("aa"))
      .orderBy(col("aa").desc, col("u"), col("v"))
      .limit(20)
  }

  /** q_graph_paths — bounded-depth BFS reachability profile: distance
    * histogram (hop → node count, min-hop semantics) from the minimum
    * part id over the undirected (sliced) co-purchase graph, depth ≤ 3.
    * The "how far does influence propagate" / graph-radius QC probe,
    * and the fixed-depth core of any distributed shortest-path pass.
    *
    * Scale shape: textbook frontier BFS — each hop is ONE equi join of
    * the (cached) previous frontier against the symmetrized edge list
    * plus a distinct; min-hop resolution is a single hash aggregate
    * over the ≤4 unioned frontiers. Frontiers are ScratchCache'd so
    * the unrolled plan executes each hop once (the DAG references each
    * frontier twice: as the next hop's seed and in the final union).
    * At unbounded depth this becomes the ccLabels checkpoint loop; at
    * fixed small depth the unrolled lazy plan is strictly better (no
    * eager jobs during construction — the lazy-construction rule).
    * DETERMINISM: everything is exact integer sets and counts. */
  def paths(s: SparkSession, d: String): DataFrame =
    pathsOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_paths over any (o, p) membership frame. */
  def pathsOn(membership: DataFrame): DataFrame = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    val ec = coPairs(op).distinct()
    val sym = trunc(ec.unionByName(
        ec.select(col("v").as("u"), col("u").as("v"))))
    val src = op.agg(min(col("p")).as("node"))
    // unrolled frontier expansion, each hop lineage-truncated ([[trunc]])
    // so execution AND the analyzed plan are linear in depth (every
    // frontier has two consumers in the DAG: next hop's seed + final union)
    val hops = Iterator.iterate(trunc(src), 4) { f =>
      trunc(f.join(sym, f("node") === sym("u"))
        .select(col("v").as("node")).distinct())
    }.toSeq
    hops.zipWithIndex
      .map { case (f, h) => f.withColumn("hop", lit(h.toLong)) }
      .reduce(_ unionByName _)
      .groupBy(col("node")).agg(min(col("hop")).as("hop"))
      .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hop"))
  }

  /** q_graph_sssp — bounded-hop WEIGHTED single-source shortest paths
    * (min-plus / Bellman-Ford rounds, ≤ 4 relaxations) from the
    * minimum part id over the undirected co-purchase graph — the
    * weighted sibling of [[pathsOn]]'s hop-count BFS and the classic
    * graph-QC metric the family lacked: with per-edge costs the
    * cheapest route is NOT the fewest-hop route (the planted fixture
    * in GraphOpsSpec has a 2-hop path beating its direct edge), so
    * min-plus relaxation, not frontier membership, is the required
    * algebra. Edge weight = 1 + (u+v) mod 7 — deterministic integer
    * arithmetic both engines replay exactly (a production run would
    * join real costs; the algebra is weight-source-agnostic).
    *
    * Scale shape: each round is ONE equi join of the current distance
    * table against the cached symmetrized weighted edge list, a union
    * with the previous distances, and a min hash-agg — the textbook
    * distributed Bellman-Ford round. Distance tables are
    * ScratchCache'd (each is consumed twice: relax join + carry-over
    * union); at fixed small depth the unrolled lazy plan beats eager
    * checkpoints (the [[pathsOn]] rule), at unbounded depth this
    * becomes the ccLabels checkpoint loop with a convergence probe.
    * Wire: (dist, n_nodes) histogram over reached nodes — min-dist
    * semantics, exact integers throughout. */
  def sssp(s: SparkSession, d: String): DataFrame =
    ssspOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_sssp over any (o, p) membership frame. */
  def ssspOn(membership: DataFrame): DataFrame = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    val ec = coPairs(op).distinct()
    // checkpoint the build, cache its repartition (the coSymEdges r19
    // hybrid): lineage truncated to a scan; hash(u) + in-partition
    // ordering stay visible, so each relax round's merge-hinted join
    // consumes the static weighted edge set in place — no per-round
    // edge exchange, no per-round broadcast build
    val sym = ScratchCache.cache(trunc(ec.unionByName(
        ec.select(col("v").as("u"), col("u").as("v")))
      .withColumn("w", lit(1L) + pmod(col("u") + col("v"), lit(7L))))
      .repartition(col("u")).sortWithinPartitions(col("u")))
    val src = op.agg(min(col("p")).as("node"))
      .withColumn("dist", lit(0L))
    // 4 unrolled min-plus relaxation rounds; dist_k(v) = cheapest
    // ≤ k-hop path cost by induction; each round lineage-truncated
    // ([[trunc]] — a round references the previous one TWICE, so a
    // cache-only chain grows the analyzed plan 2^rounds)
    val rounds = Iterator.iterate(trunc(src), 5) { dcur =>
      // rename before the relax join: dcur's lineage contains sym (via
      // the previous round), so attribute-based dcur("dist")/sym("w")
      // references would be ambiguous self-join attributes
      trunc(dcur.select(col("node").as("dn"), col("dist").as("dd"))
        .join(sym, col("dn") === col("u"))
        .select(col("v").as("node"), (col("dd") + col("w")).as("dist"))
        .unionByName(dcur.select(col("node"), col("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }.toSeq
    rounds.last
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist"))
  }

  /** q_graph_closeness — LANDMARK harmonic closeness centrality over
    * the undirected co-purchase graph: multi-source BFS from the K
    * smallest node ids (the standard landmark approximation — exact
    * all-pairs closeness is O(V·E) and off the table at 100 TB; K
    * fixed landmarks bound frontier state to K·V rows and the answer
    * converges as K grows, Eppstein–Wang-style sampling), then
    * harmonic score Σ 1/d(landmark, node) per node. Harmonic (not
    * classic reciprocal-of-sum) closeness so unreached landmarks
    * contribute 0 instead of poisoning the sum with ∞ — the standard
    * disconnected-graph fix (Boldi & Vigna, "Axioms for Centrality").
    *
    * EXACT integer arithmetic on the wire: with hops bounded at 3,
    * 1/d is scaled by LCM(1,2,3)=6 → `6 div d` ∈ {6,3,2} — no float
    * sum ordering to diverge between engines. Scale shape: each BFS
    * round is one frontier⋈edges equi join + a (lmk, node) min
    * hash-agg, frontiers ScratchCache'd (two DAG consumers each);
    * landmark count and hop depth are fixed constants, so state is
    * O(K·V) and rounds are O(depth) — the [[ssspOn]] discipline with
    * a landmark key column added. Wire: top-20 nodes by harmonic
    * score, ties broken by node id. */
  def closeness(s: SparkSession, d: String): DataFrame =
    closenessOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      nLandmarks = 8, maxHop = 3)

  /** Shared landmark BFS under q_graph_closeness, q_graph_betweenness,
    * q_graph_betweenness_brandes and q_graph_ecc: (lm, mh, sym) where
    * lm = the nLandmarks smallest node ids, mh = (lmk, node, hop)
    * min-hop distances within maxHop, sym = the symmetric edge set.
    * Frontier rounds are the [[ssspOn]] discipline with a landmark key
    * column; state is O(K·V).
    *
    * The four landmark keys each need this BFS over the SAME
    * membership frame, so it is memoized per session, nLandmarks and
    * maxHop in [[LandmarkMemo]] (a [[SessionMemo]]: memo-owned eager
    * pins that survive the per-key releaseAll). Sessions built with
    * `Graft.localSession(reuseAcrossKeys = false)` (Bench, Profile)
    * turn it off, so every timed key pays its own full BFS. Values are
    * bit-identical either way (asserted in GraphOpsSpec). */
  private def landmarkHops(membership: DataFrame, nLandmarks: Int,
      maxHop: Int): (DataFrame, DataFrame, DataFrame) =
    LandmarkMemo.getOrBuild(membership, nLandmarks, maxHop)(
      pin => buildLandmarkHops(membership, nLandmarks, maxHop, pin))

  /** The landmark BFS build. `pin` = memo mode: the three returned
    * frames are eagerly pinned outside ScratchCache (memo-owned
    * lifecycle); superseded frontier rounds stay Scratch-registered in
    * both modes (they are dead once mh materializes). */
  private def buildLandmarkHops(membership: DataFrame, nLandmarks: Int,
      maxHop: Int, pin: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    val ec = coPairs(op).distinct()
    val symRaw = ec.unionByName(
      ec.select(col("v").as("u"), col("u").as("v")))
    // non-memo path: checkpoint + cached repartition (the coSymEdges
    // r19 hybrid) so every BFS/sigma round consumes the static edge
    // set in place via the merge-hinted joins below; the memo path
    // keeps its pinned checkpoint (Verify-only, untimed — its rounds
    // re-exchange the pinned set, values bit-identical either way)
    val sym = if (pin) LandmarkMemo.pin(symRaw)
      else ScratchCache.cache(trunc(symRaw)
        .repartition(col("u")).sortWithinPartitions(col("u")))
    // K smallest node ids: global sort-limit plans TakeOrderedAndProject
    // (K rows to the driver, no full sort) — deterministic landmarks
    val lmRaw = sym.select(col("u").as("lmk")).distinct()
      .orderBy(col("lmk")).limit(nLandmarks)
    val lm = if (pin) LandmarkMemo.pin(lmRaw) else lmRaw
    val src = lm.select(col("lmk"), col("lmk").as("node"),
      lit(0L).as("hop"))
    // multi-source BFS keyed by (lmk, node); rename before the expand
    // join — the frontier's lineage contains sym after round 1. Each
    // round lineage-truncated ([[trunc]]): a round references the
    // previous one twice (expand join + min-hop union), so a cache-only
    // chain grows the analyzed plan 2^rounds copies of the pair build
    val rounds = Iterator.iterate(trunc(src), maxHop + 1) { f =>
      trunc(f.select(col("lmk").as("fl"), col("node").as("fn"),
          col("hop").as("fh"))
        .join(sym, col("fn") === col("u"))
        .select(col("fl").as("lmk"), col("v").as("node"),
          (col("fh") + lit(1L)).as("hop"))
        .unionByName(f.select(col("lmk"), col("node"), col("hop")))
        .groupBy(col("lmk"), col("node")).agg(min(col("hop")).as("hop")))
    }.toSeq
    val mh = if (pin) LandmarkMemo.pin(rounds.last) else rounds.last
    (lm, mh, sym)
  }

  /** Shortest-path COUNTS σ(landmark, node) by level-synchronous DP
    * over the [[landmarkHops]] distances: σ(s, s) = 1, and at each
    * hop h, σ(s, v) = Σ σ(s, u) over edges (u, v) with hop(s, u) =
    * h−1 and hop(s, v) = h — the Brandes forward pass, one bounded
    * edge join + hash agg per level (state O(K·V), all integers).
    * Returns (lmk, node, sigma, hop) for every reached node. */
  private def landmarkSigma(lm: DataFrame, mh: DataFrame, sym: DataFrame,
      maxHop: Int): DataFrame = {
    var sig = trunc(lm.select(col("lmk"), col("lmk").as("node"),
      lit(1L).as("sigma"), lit(0L).as("hop")))
    var sga = sig
    for (h <- 1 to maxHop) {
      val next = trunc(sig
        .select(col("lmk").as("sl"), col("node").as("u0"),
          col("sigma").as("ps"))
        .join(sym, col("u0") === col("u"))
        .join(mh.filter(col("hop") === h)
            .select(col("lmk"), col("node")),
          col("sl") === col("lmk") && col("v") === col("node"))
        .groupBy(col("lmk"), col("node"))
        .agg(sum(col("ps")).as("sigma"))
        .withColumn("hop", lit(h.toLong)))
      sga = sga.unionByName(next)
      sig = next
    }
    sga
  }

  /** Core of q_graph_closeness over any (o, p) membership frame.
    * maxHop must stay ≤ 3 so the LCM-6 exact scaling holds. */
  def closenessOn(membership: DataFrame, nLandmarks: Int,
      maxHop: Int): DataFrame = {
    require(maxHop >= 1 && maxHop <= 3, s"maxHop must be in [1,3]: $maxHop")
    val (_, mh, _) = landmarkHops(membership, nLandmarks, maxHop)
    mh.filter(col("hop") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("CAST(6 AS BIGINT) div hop")).as("harmonic6"),
        count(lit(1)).as("n_landmarks"))
      .orderBy(col("harmonic6").desc, col("node")).limit(20)
  }

  /** The q_graph_ecc demo key's landmark count and hop bound — shared
    * with the DuckDB twin (OracleSql interpolates BOTH into the
    * recursive-CTE hop guard and the radius_ub/radius_bounded label
    * split), so changing the key here can never silently diverge from
    * the oracle (ADVICE r15). */
  val eccDemoLandmarks = 8
  val eccDemoMaxHop = 3

  /** q_graph_ecc — bounded-hop ECCENTRICITY / DIAMETER / RADIUS bounds
    * from the landmark BFS (r14, completing the landmark family beside
    * closeness and the two betweenness variants): per node the
    * eccentricity LOWER BOUND ecc_lb(v) = max over landmarks of
    * d(l, v) (distances within maxHop — the standard BFS-from-sample
    * bounding method), rolled into ONE exact-integer ledger:
    *   ('diameter_lb', k, n) — the largest landmark-pair distance (a
    *     true diameter lower bound) and how many pairs attain it;
    *   ('ecc_nodes', k, n) — the ecc_lb histogram over all reached
    *     nodes ("how far is everything from the sample");
    *   ('radius_ub' | 'radius_bounded', k, n) — the smallest LANDMARK
    *     eccentricity and how many landmarks attain it. The stat is
    *     labelled `radius_ub` — a TRUE radius upper bound within the
    *     landmark's component (the graph's most central point is at
    *     most as eccentric as the best landmark) — ONLY when that
    *     minimum is < maxHop, i.e. the best landmark's BFS frontier
    *     provably emptied before the hop bound, so its bounded
    *     eccentricity is its true eccentricity. When the minimum
    *     equals maxHop the BFS may have been truncated (the true
    *     radius can exceed it — e.g. a 9-node path at maxHop 3), so
    *     the row is labelled `radius_bounded`: the bounded-hop
    *     landmark-eccentricity minimum, with no bound claim (ADVICE
    *     r14).
    * All hops are exact integers — fully oracle-checked. Scale shape:
    * the [[landmarkHops]] BFS (state O(K·V)) + three tiny hash aggs;
    * nothing beyond the closeness contract. */
  def eccentricity(s: SparkSession, d: String): DataFrame =
    eccentricityOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      nLandmarks = eccDemoLandmarks, maxHop = eccDemoMaxHop)

  /** Core of q_graph_ecc over any (o, p) membership frame. */
  def eccentricityOn(membership: DataFrame, nLandmarks: Int,
      maxHop: Int): DataFrame = {
    val (lm, mh, _) = landmarkHops(membership, nLandmarks, maxHop)
    val ecc = ScratchCache.cache(
      mh.groupBy(col("node")).agg(max(col("hop")).as("ecc")))
    val hist = ecc.groupBy(col("ecc")).agg(count(lit(1)).as("n"))
      .select(lit("ecc_nodes").as("stat"), col("ecc").as("k"), col("n"))
    val diam = mh
      .join(broadcast(lm.select(col("lmk").as("t"))), col("node") === col("t"))
      .filter(col("lmk") < col("t"))
      .groupBy(col("hop")).agg(count(lit(1)).as("n"))
      .orderBy(col("hop").desc).limit(1)
      .select(lit("diameter_lb").as("stat"), col("hop").as("k"), col("n"))
    val radius = ecc
      .join(broadcast(lm), ecc("node") === lm("lmk"))
      .groupBy(col("ecc")).agg(count(lit(1)).as("n"))
      .orderBy(col("ecc").asc).limit(1)
      // ecc < maxHop ⟹ the best landmark's frontier emptied before the
      // bound (a node at hop ecc+1 ≤ maxHop would have been found), so
      // its bounded ecc is exact and the upper-bound claim holds;
      // ecc = maxHop ⟹ possibly truncated, no bound claim
      .select(when(col("ecc") < lit(maxHop.toLong), lit("radius_ub"))
          .otherwise(lit("radius_bounded")).as("stat"),
        col("ecc").as("k"), col("n"))
    hist.unionByName(diam).unionByName(radius)
      .orderBy(col("stat"), col("k"))
  }

  /** q_graph_betweenness — LANDMARK-PAIR coverage betweenness (r13):
    * node v scores one point for every landmark pair (s < t) whose
    * shortest-path distance v sits on — d(s,v) + d(v,t) = d(s,t) with
    * v ∉ {s, t} — the membership-counting variant of betweenness over
    * a fixed landmark sample (counts PRESENCE on a shortest path, not
    * Brandes' σ-fraction — fractions would put floats on the wire;
    * presence is exact integers both engines replay). Sampling
    * sources/targets is the standard scale answer (Brandes–Pich 2007):
    * exact betweenness is O(V·E) and off the table at 100 TB; K fixed
    * landmarks bound everything to the [[landmarkHops]] BFS plus ONE
    * K²-pair broadcast and one (t, v) equi-join. The bounded-hop
    * truncation is exact for this predicate: equality forces both
    * legs ≤ d(s,t) ≤ maxHop. Wire: top-20 (node, n_pairs) ties broken
    * by node id. */
  def betweenness(s: SparkSession, d: String): DataFrame =
    betweennessOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      nLandmarks = 8, maxHop = 3)

  /** Core of q_graph_betweenness over any (o, p) membership frame. */
  def betweennessOn(membership: DataFrame, nLandmarks: Int,
      maxHop: Int): DataFrame = {
    val (lm, mhRaw, _) = landmarkHops(membership, nLandmarks, maxHop)
    val mh = mhRaw // already a truncated checkpoint; 3 consumers below
                   // all read its materialized blocks directly
    // landmark-pair distances d(s,t), s < t, from s's own BFS row
    val pairs = mh.join(broadcast(lm.select(col("lmk").as("t"))),
        col("node") === col("t"))
      .filter(col("lmk") < col("t"))
      .select(col("lmk").as("s"), col("t"), col("hop").as("dst"))
    val sv = mh.select(col("lmk").as("s"), col("node").as("vn"),
      col("hop").as("d_sv"))
    val vt = mh.select(col("lmk").as("t"), col("node").as("vn"),
      col("hop").as("d_vt"))
    // fan sv against the ≤K²/2 pair table (broadcast), close the
    // triangle with one (t, vn) equi-join, keep exact equalities
    sv.join(broadcast(pairs), "s")
      .join(vt, Seq("t", "vn"))
      .filter(col("d_sv") + col("d_vt") === col("dst") &&
        col("vn") =!= col("s") && col("vn") =!= col("t"))
      .groupBy(col("vn").as("node"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("node")).limit(20)
  }

  /** q_graph_betweenness_brandes — the TEXTBOOK σ-fraction betweenness
    * (Brandes 2001) over the same landmark-pair sample as
    * q_graph_betweenness (Brandes–Pich 2007 sampling): node v earns
    * σ_sv·σ_vt / σ_st per landmark pair (s < t) it sits between — the
    * FRACTION of shortest s→t paths through v, not mere presence.
    * EXACT ON THE WIRE: each per-pair fraction is emitted as FLOOR
    * MICRO-UNITS, (σ_sv·σ_vt·10⁶) div σ_st — an exact integer (and
    * ≤ 10⁶, since shortest paths through v are a subset of all s→t
    * shortest paths), so the per-node sum bc_micro rides pure integer
    * arithmetic that DuckDB replays digit-for-digit and the key is
    * FULLY ORACLE-CHECKED, unlike a float-summed formulation whose
    * accumulation order would diverge. Wire: top-20 (node, bc_micro),
    * ties by node id.
    *
    * Scale shape: [[landmarkHops]] BFS + the [[landmarkSigma]] forward
    * DP (one bounded edge join + hash agg per hop level, state
    * O(K·V), all integer path counts) + the q_graph_betweenness
    * triangle closure (K²-pair broadcast + one (t, v) equi-join).
    * Exact all-pairs Brandes is O(V·E) and off the table at 100 TB;
    * K landmarks bound every pass. */
  def betweennessBrandes(s: SparkSession, d: String): DataFrame =
    betweennessBrandesOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      nLandmarks = 8, maxHop = 3)

  /** Core of q_graph_betweenness_brandes over any (o, p) membership
    * frame. */
  def betweennessBrandesOn(membership: DataFrame, nLandmarks: Int,
      maxHop: Int): DataFrame = {
    val (lm, mh, sym) = landmarkHops(membership, nLandmarks, maxHop)
    val sga = landmarkSigma(lm, mh, sym, maxHop)
    val st = sga.join(broadcast(lm.select(col("lmk").as("t"))),
        col("node") === col("t"))
      .filter(col("lmk") < col("t"))
      .select(col("lmk").as("s"), col("t"), col("hop").as("dst"),
        col("sigma").as("sig_st"))
    val sv = sga.select(col("lmk").as("s"), col("node").as("vn"),
      col("hop").as("d_sv"), col("sigma").as("sig_sv"))
    val vt = sga.select(col("lmk").as("t"), col("node").as("vn"),
      col("hop").as("d_vt"), col("sigma").as("sig_vt"))
    sv.join(broadcast(st), "s")
      .join(vt, Seq("t", "vn"))
      .filter(col("d_sv") + col("d_vt") === col("dst") &&
        col("vn") =!= col("s") && col("vn") =!= col("t"))
      .select(col("vn"), expr(
        "(CAST(sig_sv AS DECIMAL(38,0)) * CAST(sig_vt AS DECIMAL(38,0))" +
          " * CAST(1000000 AS DECIMAL(38,0))) div CAST(sig_st AS DECIMAL(38,0))")
        .as("term"))
      .groupBy(col("vn").as("node"))
      .agg(sum(col("term")).as("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node")).limit(20)
  }

  /** q_graph_hits — HITS hubs & authorities (Kleinberg, JACM 1999)
    * over the directed order→part graph: authority(v) = Σ hub(u) over
    * in-edges, hub(u) = Σ authority(v) over out-edges, each half-step
    * L1-normalized — the mutually-reinforcing complement of
    * [[pageRank]]'s single score (pagerank finds endorsed nodes; HITS
    * separates the ENDORSERS from the endorsed, the natural QC for a
    * bipartite order/part graph where orders can only ever be hubs and
    * parts only ever authorities). 4 fixed iterations; top-20 ledger.
    *
    * DETERMINISM: every cross-row sum rides DECIMAL(38,18) (the
    * [[pageRankOn]] discipline); the per-iteration L1 normalizations
    * are 1-row aggregates joined back on the non-foldable all-zeros
    * key — NO driver-side actions, the whole 4-iteration plan is lazy.
    * The division is (30,18)/(30,12): Spark's allowPrecisionLoss
    * adjustment keeps 14 fractional digits at those operand types
    * (a (38,18)/(38,18) division would be cut to scale 6 — BELOW the
    * 6-dp wire rounding's safety margin), and the divisor cast to
    * scale 12 perturbs a ~1-magnitude total by ≤1e-12 relative — both
    * engines land well inside the round-6 output quantum.
    *
    * Scale shape: per half-step ONE equi join of the edge list with
    * the |V|-sized score table + a hash agg on the opposite endpoint +
    * a broadcast 1-row norm join; rounds are lineage-truncated
    * ([[trunc]]) so the analyzed plan stays linear in iterations. */
  def hits(s: SparkSession, d: String): DataFrame = {
    val e = Tables.lineitem(s, d)
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    hitsOn(e, iters = 4)
  }

  /** Core of q_graph_hits over any (src, dst) long edge frame (even
    * ids decode as type "order", odd as "part" on the wire). */
  def hitsOn(edgesIn: DataFrame, iters: Int): DataFrame = {
    // iters < 1 would leave `auths` undefined below — fail fast with
    // the contract
    require(iters >= 1, s"hitsOn needs iters >= 1, got $iters")
    val D = DecimalType(38, 18)
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    val cols = edgesIn.columns
    // TWO pre-partitioned, pre-sorted edge copies, CACHED once (r19:
    // these used to be checkpointed, but localCheckpoint does NOT
    // carry outputPartitioning in Spark 4.x — LogicalRDD reports
    // UnknownPartitioning, measured this round — so the old copies
    // re-entered every half-step unpartitioned and the planner either
    // re-exchanged them or broadcast a side per half-step.
    // InMemoryRelation preserves partitioning AND ordering, so each
    // half-step's merge-hinted edge join consumes hash(src)/hash(dst)
    // sorted in place: no edge exchange, no edge sort, no broadcast
    // build, only the score side's |V|-sized exchange + the
    // opposite-endpoint aggregation shuffle remain per half-step)
    val edgesBySrc = ScratchCache.cache(edgesIn
      .select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
      .repartition(col("src")).sortWithinPartitions(col("src")))
    val edgesByDst = ScratchCache.cache(
      edgesBySrc.repartition(col("dst")).sortWithinPartitions(col("dst")))
    var hubs = trunc(edgesBySrc.select(col("src").as("id")).distinct()
      .select(col("id"), lit(java.math.BigDecimal.ONE).cast(D).as("h")))
    var auths: DataFrame = null
    // per half-step, only the RAW sum table is checkpointed (ONE edge
    // join each); the normalized table is a LAZY view over it (1-row
    // broadcast norm + row-local division) — checkpointing the
    // normalized table instead would put the norm agg and the division
    // on separate copies of the edge join and compute it twice per
    // half-step (measured 9.2 s vs 4.4 s at sf0.1)
    // half-step FUSION was A/B'd (r14): checkpointing only hRaw and
    // leaving the a-step lazy halves the serial checkpoint jobs but
    // re-computes the a-step edge join twice inside each h-step job
    // (norm agg + value join) and twice more in the output job —
    // measured SLOWER at sf0.1 (fused min 8.7/8.9 s vs 8.2/8.5 s over
    // two quiet min-of-3/4 windows), and strictly worse at 100 TB
    // where the recomputed join is the dominant cost. Per-half-step
    // checkpointing stays.
    for (_ <- 1 to iters) {
      // merge hints on both edge joins: the score side sizes under
      // the broadcast threshold at bench scale, and a per-half-step
      // broadcast build is serial driver work here and impossible at
      // 100 TB — the co-partitioned sort-merge against the cached
      // sorted edge copy is the scale shape (see edgesBySrc note)
      val aRaw = trunc(edgesBySrc.hint("merge")
        .join(hubs, edgesBySrc("src") === hubs("id"))
        .groupBy(col("dst")).agg(sum(col("h")).cast(D).as("a")))
      val aNorm = aRaw.agg(sum(col("a")).cast(DecimalType(30, 12)).as("sa"))
        .withColumn("j", k0(col("sa")))
      auths = aRaw.withColumn("j", k0(col("dst")))
        .join(broadcast(aNorm), "j")
        .select(col("dst").as("id"),
          (col("a").cast(DecimalType(30, 18)) / col("sa")).cast(D).as("a"))
      val hRaw = trunc(edgesByDst.hint("merge")
        .join(auths, edgesByDst("dst") === auths("id"))
        .groupBy(col("src")).agg(sum(col("a")).cast(D).as("h")))
      val hNorm = hRaw.agg(sum(col("h")).cast(DecimalType(30, 12)).as("sh"))
        .withColumn("j", k0(col("sh")))
      hubs = hRaw.withColumn("j", k0(col("src")))
        .join(broadcast(hNorm), "j")
        .select(col("src").as("id"),
          (col("h").cast(DecimalType(30, 18)) / col("sh")).cast(D).as("h"))
    }
    val aOut = auths.select(lit("authority").as("kind"),
      when(col("id") % 2 === 0, "order").otherwise("part").as("ntype"),
      expr("id div 2").as("node"),
      round(col("a").cast("double"), 6).as("score"))
    val hOut = hubs.select(lit("hub").as("kind"),
      when(col("id") % 2 === 0, "order").otherwise("part").as("ntype"),
      expr("id div 2").as("node"),
      round(col("h").cast("double"), 6).as("score"))
    // ordered by the ROUNDED score both engines emit, so rank ties
    // break identically despite sub-6dp representation differences
    aOut.unionByName(hOut)
      .orderBy(col("score").desc, col("kind"), col("node")).limit(20)
  }

  /** q_graph_diff — VERSION-TO-VERSION graph reconciliation, the QC a
    * regenerate-per-source-version pipeline runs before promoting a new
    * merged graph (the reference rebuilds its graph whenever a source
    * version bumps — "what changed since the last build" is the release
    * gate): nodes classified added / removed / category_changed /
    * unchanged, edges added / removed / unchanged, as one ledger.
    * [[graft.ops.Incremental]]'s snapshot-diff shape applied to a
    * GRAPH: one full-outer equi join on node id + one on the (subject,
    * object) edge key — at 100 TB both are plain shuffle SMJs on the
    * natural keys, no new machinery.
    *
    * Versions derive deterministically (the q_text_pii planting
    * pattern): v1 lacks customers ≡ 0 (mod 19) (additions), v2 drops
    * ≡ 0 (mod 23) (removals) and reclassifies ≡ 0 (mod 13); v1 edges
    * are pre-1996 order→part pairs, v2 extends to pre-1997 but retires
    * parts ≡ 0 (mod 31) — so every change class is populated and
    * DuckDB replays the arithmetic exactly. */
  def graphDiff(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val nodesV1 = cust.filter(col("c_custkey") % 19 =!= 0)
      .select(concat(lit("CUST:"), col("c_custkey")).as("id"),
        col("c_mktsegment").as("category"))
    val nodesV2 = cust.filter(col("c_custkey") % 23 =!= 0)
      .select(concat(lit("CUST:"), col("c_custkey")).as("id"),
        when(col("c_custkey") % 13 === 0, lit("reclassified"))
          .otherwise(col("c_mktsegment")).as("category"))
    val ep = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("s"), col("l_partkey").as("o"),
        col("o_orderdate"))
    val edgesV1 = ep.filter(col("o_orderdate") < lit("1996-01-01"))
      .select(col("s"), col("o")).distinct()
    val edgesV2 = ep.filter(col("o_orderdate") < lit("1997-01-01") &&
        col("o") % 31 =!= 0)
      .select(col("s"), col("o")).distinct()
    graphDiffOn(nodesV1, nodesV2, edgesV1, edgesV2)
  }

  /** Core of q_graph_diff over two (id, category) node frames and two
    * (s, o) edge frames. */
  def graphDiffOn(nodesV1: DataFrame, nodesV2: DataFrame,
      edgesV1: DataFrame, edgesV2: DataFrame): DataFrame = {
    val n1 = nodesV1.select(col("id"), col("category").as("cat1"))
    val n2 = nodesV2.select(col("id"), col("category").as("cat2"))
    val nodeDiff = n1.join(n2, Seq("id"), "full")
      .select(when(col("cat1").isNull, "node_added")
        .when(col("cat2").isNull, "node_removed")
        .when(col("cat1") =!= col("cat2"), "node_category_changed")
        .otherwise("node_unchanged").as("change"))
      .groupBy(col("change")).agg(count(lit(1)).as("n"))
    val e1 = edgesV1.select(col("s"), col("o"), lit(1).as("in1"))
    val e2 = edgesV2.select(col("s"), col("o"), lit(1).as("in2"))
    val edgeDiff = e1.join(e2, Seq("s", "o"), "full")
      .select(when(col("in1").isNull, "edge_added")
        .when(col("in2").isNull, "edge_removed")
        .otherwise("edge_unchanged").as("change"))
      .groupBy(col("change")).agg(count(lit(1)).as("n"))
    nodeDiff.unionByName(edgeDiff).orderBy(col("change"))
  }

  /** q_onto_closure — bounded is_a ANCESTOR CLOSURE over an ontology
    * term DAG (the [[Obo.readEdges]] subject/object shape): for every
    * term, the set of ancestors reachable through ≤ 4 is_a hops, each
    * with its MINIMUM depth — the Biolink category-LINEAGE expansion
    * the reference's normalization attaches to every node (a category
    * filter is a lineage filter: asking for biolink:Disease must match
    * every descendant class). Diamonds (two is_a paths to one
    * ancestor) collapse to one row at the shorter depth.
    *
    * The term DAG derives deterministically from `part`: term T:k
    * is_a T:(k div 2), plus a second parent T:(k div 3) when 3 | k —
    * a diamond-rich DAG (k=6 reaches T:1 through both T:3 and T:2)
    * whose arithmetic DuckDB replays exactly.
    *
    * Scale shape: ontologies are DIMENSION data (MBs against a 100 TB
    * node table), so the edge set is broadcast and each hop of the
    * unrolled frontier expansion is a BROADCAST equi join + distinct —
    * no shuffle grows with depth; min-depth resolution is one hash
    * aggregate over the ≤ 4 unioned hop frames, and the closure table
    * itself (|terms| × avg-lineage rows) is the broadcastable artifact
    * downstream category filters join against. Unbounded-depth
    * closures become the ccLabels checkpoint loop; at fixed small
    * depth the unrolled lazy plan is strictly better. */
  def ontoClosure(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d)
    val t = (c: Column) => concat(lit("T:"), c)
    val e1 = part.filter(col("p_partkey") >= 1)
      .select(t(col("p_partkey")).as("subject"),
        t(expr("p_partkey div 2")).as("object"))
    val e2 = part.filter(col("p_partkey") % 3 === 0 && col("p_partkey") >= 3)
      .select(t(col("p_partkey")).as("subject"),
        t(expr("p_partkey div 3")).as("object"))
    ontoClosureOn(e1.unionByName(e2), 4)
  }

  /** Core of q_onto_closure over any (subject, object) is_a edge
    * frame: (term, anc, depth) rows, depth = min hops, depth ≤ maxDepth. */
  def ontoClosureOn(edges: DataFrame, maxDepth: Int): DataFrame = {
    val e = trunc(
      edges.select(col("subject").as("es"), col("object").as("eo"))
        .distinct())
    // rounds lineage-truncated ([[trunc]]): each is consumed twice
    // (next hop's seed + final union), so a cache-only chain grows the
    // analyzed plan 2^depth
    val hops = Iterator.iterate(
      trunc(e.select(col("es").as("term"), col("eo").as("anc"))),
      maxDepth) { f =>
      trunc(f.join(broadcast(e), col("anc") === col("es"))
        .select(col("term"), col("eo").as("anc")).distinct())
    }.toSeq
    hops.zipWithIndex
      .map { case (f, h) => f.withColumn("depth", lit((h + 1).toLong)) }
      .reduce(_ unionByName _)
      .groupBy(col("term"), col("anc")).agg(min(col("depth")).as("depth"))
      .orderBy(col("term"), col("anc"))
  }

  /** q_graph_kcore — bounded k-core peeling over the undirected
    * (sliced) co-purchase graph: iteratively drop nodes of degree < k
    * (4 rounds), reporting the surviving-node count per round — the
    * standard dense-subgraph / hairball-trim QC (a node in the final
    * set has ≥ k surviving neighbors after every peel). k adapts to
    * the data as ¾ of the mean degree via EXACT integer arithmetic
    * ((3·|E_sym|) div (4·|V|) — no float, no interpolated percentile,
    * so both engines derive the identical threshold at any SF of a
    * densifying graph).
    *
    * Scale shape: each round is ONE degree hash-aggregate over the
    * shrinking edge set + two semi joins (u-keep, v-keep) — the
    * textbook distributed peel. Each round is truncated with a LAZY
    * localCheckpoint (not `.cache()`): a round's frame is referenced
    * three times downstream (wire count + both semi joins), so the
    * unrolled lazy plan grows 3^rounds copies of the base self-join,
    * and cache-plan substitution does not reliably collapse the nested
    * copies (measured: a 7000-line physical plan with 200+ duplicated
    * joins, ~100 s at sf0.1 — vs ~1 s checkpointed). The lazy
    * checkpoint truncates lineage at CONSTRUCTION time (plan size
    * constant per round, still job-free — the lazy rule) and
    * materializes each round exactly once on first use; blocks are
    * registered with ScratchCache for release after consumption. A
    * to-fixpoint variant is the ccLabels checkpoint loop.
    * DETERMINISM: exact integer degrees and counts throughout. */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_kcore over any (o, p) membership frame. */
  def kcoreOn(membership: DataFrame): DataFrame = {
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    val op = membership.select(col("o"), col("p")).distinct()
      .pipe(ScratchCache.cache)
    val ec = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
    val sym = trunc(ec.unionByName(
      ec.select(col("v").as("u"), col("u").as("v"))))
    // k = (3·|E_sym|) div (4·|V|), exact integers end-to-end; carried
    // on the non-foldable all-zeros key (a literal key would constant-
    // fold the broadcast joins into census-breaking BNLJs)
    val kf = sym
      .agg(count(lit(1)).as("cnt"), countDistinct(col("u")).as("nodes"))
      .select(expr("(3 * cnt) DIV (4 * nodes)").as("kth"))
      .withColumn("kk", k0(col("kth")))
      .pipe(ScratchCache.cache)
    // each round: keep = degree-qualified nodes of the current edge
    // set (THE per-round wire count — a keep node can lose all its
    // neighbors and still belong to this round's set), then restrict
    // the edges to keep×keep for the next round
    val rounds = Seq.iterate((sym, Option.empty[DataFrame], 0), 5) {
      case (edges, _, r) =>
        val keep = trunc(
          edges.groupBy(col("u")).agg(count(lit(1)).as("dd"))
            .withColumn("kk", k0(col("u")))
            .join(broadcast(kf), "kk")
            .filter(col("dd") >= col("kth"))
            .select(col("u")))
        val next = trunc(edges
          .join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi"))
        (next, Some(keep), r + 1)
    }.collect { case (_, Some(keep), r) => (keep, r) }
    rounds
      .map { case (keep, r) =>
        keep.agg(count(lit(1)).as("n_nodes"))
          .withColumn("round", lit(r.toLong)) }
      .reduce(_ unionByName _)
      .withColumn("kk", k0(col("n_nodes")))
      .join(broadcast(kf), "kk")
      .select(col("round"), col("n_nodes"), col("kth").as("k"))
      .orderBy(col("round"))
  }

  /** Connected-component labels via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the DataFrame-native, 100 TB-safe formulation: every step is a
    * hash aggregate + equi join, converging in O(log n) rounds, with a
    * local checkpoint per round so the plan/lineage stays constant-size
    * instead of growing with the iteration count (each round's
    * checkpoint is a few MB of (long,long) edges; the handful that stay
    * resident until session end is the price of truncated lineage).
    *
    * large-star: every node's strictly-larger neighbors re-point to
    * m(u) = min(N(u) ∪ {u}); small-star: each node's smaller neighbors
    * (and itself) re-point to its minimum neighbor. Fixpoint = a union
    * of stars whose centers are component minima. Convergence is
    * detected by (count, xxhash-sum) equality of consecutive edge sets
    * — both sets are canonical (src > dst, distinct), so equality of
    * the pair is a set-equality check up to hash collision (~2⁻⁶⁴).
    *
    * Input: any two-column (long, long) undirected edge frame.
    * Output: (node, comp) — comp is the component's minimum node id. */
  def ccLabels(edgesIn: DataFrame): DataFrame = {
    val cols = edgesIn.columns
    // no up-front distinct/materialization: duplicate edges cannot
    // perturb the min-aggregates, and small-star's distinct produces
    // the canonical set — the first round absorbs dedup for free
    var edges = edgesIn
      .select(greatest(col(cols(0)), col(cols(1))).as("src"),
        least(col(cols(0)), col(cols(1))).as("dst"))
      .filter(col("src") =!= col("dst"))
    // Fixpoint ⟺ star set: with every edge oriented src > dst, the set
    // is a union of min-centered stars exactly when no src appears as a
    // dst — an O(|E|) semi-join probe on the checkpointed set, which
    // detects convergence one round earlier than comparing consecutive
    // edge-set checksums.
    def isStarSet(df: DataFrame): Boolean =
      df.as("l").join(df.as("r"), col("l.src") === col("r.dst"), "left_semi")
        .isEmpty
    // The one aggregate both star steps need: each node's minimum
    // out-neighbor. Because every edge is oriented src > dst, a node's
    // globally-minimum neighbor is always an OUT-neighbor (a larger
    // neighbor can never be the min), so m(u) = min(N(u) ∪ {u}) =
    // coalesce(minNbr(u), u) — no both-orientations union needed.
    // Partial (map-side) aggregation keeps its shuffle volume ~|V|;
    // the result is dimension-sized, so AQE broadcasts the join at
    // bench scale and falls back to a shuffle equi join at 100 TB —
    // both scale-safe, neither sorts anything.
    def minNbr(e: DataFrame): DataFrame =
      e.groupBy(col("src").as("u")).agg(min(col("dst")).as("mn"))
    // large-star: strictly-larger neighbors of u re-point to m(u).
    // Every edge (s,d) IS d paired with its larger neighbor s, so the
    // whole step is: attach m(dst) by dst, emit (src, m(dst)). Output
    // stays strictly oriented (m(d) ≤ d < s); duplicates are swept by
    // small-star's distinct.
    def largeStar(e: DataFrame): DataFrame =
      e.join(minNbr(e), col("dst") === col("u"), "left")
        .select(col("src"), coalesce(col("mn"), col("dst")).as("dst"))
    // small-star: each node's smaller neighbors (and itself) re-point
    // to its minimum neighbor. Window-min rather than minNbr+join here:
    // the window computes mn(src) AND keeps the rows in one pass, so
    // the (unmaterialized, join-shaped) large-star input is evaluated
    // exactly once — a groupBy+join formulation would evaluate it twice
    // (once under each branch; DataFrames re-execute shared subplans
    // that don't end in an exchange).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min(col("dst")).over(w))
        .select(explode(array(
          struct(col("src").as("a"), col("m").as("b")),
          struct(col("dst").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("src"), col("e.b").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    // Endgame threshold: once the contracted edge set fits ONE task's
    // memory (pairs of longs ≈ 16 B/edge; union-find state a few
    // hundred MB at the cap), finishing with a single-pass union-find
    // in one NARROW stage replaces the remaining O(log n) rounds of
    // full shuffles — the standard terminal move for iterative
    // distributed CC. At 100 TB the star rounds above threshold do the
    // contraction (each halves-or-better the frontier), and the local
    // pass only ever sees ≤ threshold edges.
    val localThreshold = longConf(edgesIn,
      "spark.graft.cc.localEdgeThreshold", 4000000L)
    // star-fixpoint label extraction: each component is one star
    // centered at its minimum
    def starLabels(e: DataFrame): DataFrame =
      e.select(col("src").as("node"), col("dst").as("comp"))
        .unionByName(e.select(col("dst").as("node"), col("dst").as("comp")))
        .distinct()
    // Round cap: star alternation halves-or-better the frontier each
    // double-round, so 25 covers any graph a 64-bit id space can hold;
    // configurable so tests can exercise the non-convergence guard.
    val maxRounds = longConf(edgesIn, "spark.graft.cc.maxRounds", 25L).toInt
    var labels: Option[DataFrame] = None
    var prev: Option[DataFrame] = None
    var pairs = 0
    var curCount = edges.count()
    while (labels.isEmpty && pairs < maxRounds) {
      if (curCount <= localThreshold) {
        labels = Some(localUnionFind(edges))
      } else {
        // TWO alternations per checkpoint: the intermediate rounds are
        // never materialized; a star set is a fixpoint, so overshooting
        // an already-converged alternation changes nothing. The
        // checkpoint is LAZY: the count below is the action that
        // materializes it, folding what used to be separate checkpoint
        // + probe jobs into one.
        val small = smallStar(largeStar(smallStar(largeStar(edges))))
          .localCheckpoint(false)
        curCount = small.count()
        // still above the local threshold? then check the star-set
        // fixpoint directly (many-small-components graphs converge
        // while still wide)
        if (curCount > localThreshold && isStarSet(small))
          labels = Some(starLabels(small))
        // superseded checkpoint: the new round is materialized, nothing
        // references the old one — free its blocks now instead of
        // accumulating a few MB per round until session end
        prev.foreach(unpersistCheckpoint)
        prev = Some(small)
        edges = small
      }
      pairs += 1
    }
    // The final round's checkpoint blocks are the only copy of the
    // contracted edge set backing the (lazy) result — register their
    // release with ScratchCache so harnesses free them once the labels
    // have been consumed (superseded rounds were freed in-loop).
    prev.foreach(p => ScratchCache.defer(() => unpersistCheckpoint(p)))
    // Falling through the cap with no converged star set would return
    // silently WRONG components (labels from a half-contracted edge
    // set) — fail loudly instead.
    labels.getOrElse {
      throw new IllegalStateException(
        s"ccLabels: star contraction did not converge within $maxRounds " +
        s"rounds (frontier still $curCount edges, local-union-find " +
        s"threshold $localThreshold); raise spark.graft.cc.maxRounds " +
        "or spark.graft.cc.localEdgeThreshold")
    }
  }

  /** Numeric session conf with a clear failure mode: a malformed value
    * names the conf key instead of surfacing a bare
    * NumberFormatException from inside an operator. */
  private def longConf(df: DataFrame, key: String, default: Long): Long =
    df.sparkSession.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** One-pass union-find over an edge set small enough for a single
    * task (gated by `spark.graft.cc.localEdgeThreshold` in
    * [[ccLabels]]): union-by-minimum with path compression, so every
    * root is its component's minimum node id — the same labeling the
    * star fixpoint produces. Runs executor-side in one narrow stage
    * (`coalesce(1)` + `mapPartitions`), never on the driver. */
  private def localUnionFind(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          // path compression: point the whole chain at the root
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        // snapshot the keys: find()'s path compression mutates the map,
        // which must not race the iteration
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }
      .toDF("node", "comp")
  }

  /** Lazy-localCheckpoint lineage truncation for unrolled iteration
    * rounds (the [[kcoreOn]] discipline, shared): a round whose plan
    * references the previous round MORE THAN ONCE (join side + union
    * side) grows the ANALYZED tree 2^rounds copies of the base build —
    * cache substitution happens after analysis, so `.cache()` does not
    * stop the exponential driver-side analyze/canonicalize cost
    * (measured: q_graph_betweenness 8.7 s at sf0.001 — pure plan work
    * on a 300-row graph — vs 1.3 s truncated). The LAZY checkpoint
    * truncates at construction time, stays job-free, materializes once
    * on first use; blocks release via ScratchCache like any scratch.
    * Blocks are stored MEMORY_AND_DISK, so memory pressure spills them
    * instead of losing a block whose lineage is gone (MEMORY_ONLY was
    * measured no faster — SCALE.md r16). */
  private def trunc(df: DataFrame): DataFrame = {
    val t = df.localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ScratchCache.defer(() => unpersistCheckpoint(t))
    t
  }

  /** Free the local-checkpoint blocks backing a frame derived from
    * [[ccLabels]]. The final round's checkpoint must outlive the
    * returned (lazy) frame — its lineage is truncated, so the blocks
    * are the only copy — hence callers that are done with the result
    * release it explicitly; superseded intermediate rounds are already
    * freed inside the loop. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** q_graph_pagerank — PageRank centrality over the order→part graph
    * (damping 0.85, 5 fixed iterations — top-20 ranking verified
    * identical to 10 iterations at sf0.1 — dangling mass redistributed
    * uniformly), the remaining classic graph-QC metric beside degree
    * and connected components — "which hub nodes dominate this merged
    * graph". Orders and parts share a long id space, so nodes are
    * encoded 2·orderkey / 2·partkey+1 and decoded on the wire. Output:
    * top-20 nodes by rank, reported as rank×n (1.0 = uniform share) so
    * the number is scale-readable.
    *
    * DETERMINISM: every cross-row sum rides DECIMAL(38,18) — rank
    * contributions are computed row-locally (decimal division rounds
    * identically wherever the row lives), summed exactly, and the two
    * per-iteration scalars (total dangling mass; n) come back to the
    * driver as exact BigDecimals re-embedded as literals. No float
    * accumulation anywhere, so ranks are partition-order independent
    * (asserted by a repartition test in GraphOpsSpec).
    *
    * Scale shape: per iteration ONE shuffle join of the edge set with
    * the rank table on src (both partitioned by the same key across
    * iterations) + a partial-aggregated sum by dst; the dangling scalar
    * is a 1-row aggregate. Like [[ccLabels]] (and unlike the lazy
    * kdQuantize chain), construction is EAGER — each iteration ends in
    * a materialized local checkpoint so lineage stays constant-size
    * across the fixed 10 rounds, with superseded rounds freed in-loop;
    * at 100 TB the checkpoint swaps to parquet-between-rounds, the
    * standard iterative-refinement shape. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d)
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    // 5 iterations: hub RANKING (the QC question) stabilizes in a few
    // rounds — the top-20 is identical to 10 iterations on this graph
    // (verified at sf0.1: ordered top-20 identical for 3, 5 and 10
    // iterations) at half the iteration cost;
    // callers needing converged VALUES pass a higher count to
    // pageRankOn
    pageRankOn(edges, iters = 5)
      .orderBy(col("rank_x_n").desc, col("ntype"), col("node"))
      .limit(20)
  }

  /** Core of q_graph_pagerank over any (src, dst) long edge frame
    * (even ids decode as type "order", odd as "part" — callers with a
    * different id scheme re-map the output). */
  def pageRankOn(edgesIn: DataFrame, iters: Int): DataFrame = {
    val D = DecimalType(38, 18)
    val cols = edgesIn.columns
    val edges = edgesIn
      .select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
      .localCheckpoint() // reused every iteration — materialize once
    ScratchCache.defer(() => unpersistCheckpoint(edges))
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    ScratchCache.defer(() => unpersistCheckpoint(nodes))
    val outdeg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    ScratchCache.defer(() => unpersistCheckpoint(outdeg))
    // edge set PRE-PARTITIONED on src, materialized ONCE as a CACHE,
    // not a checkpoint (r19: the doc above claimed "both partitioned
    // by the same key across iterations" but the code never
    // established it — and MEASURING it exposed that localCheckpoint
    // does NOT carry outputPartitioning in Spark 4.x (LogicalRDD
    // reports UnknownPartitioning), so a checkpointed repartition
    // would be an exchange the planner cannot see. InMemoryRelation
    // DOES preserve partitioning, so the per-iteration rank⋈edge join
    // consumes hash(src) with no exchange and no re-shuffle of the
    // static edge table — 5 edge exchanges gone. deg no longer rides
    // the edge rows: it is carried on the rank table instead, so the
    // r/deg division runs once per NODE rather than once per EDGE ROW
    // (same expression, same exact decimal quotient).
    // ... and pre-SORTED on src inside each partition: the cache also
    // preserves outputOrdering, so the per-iteration sort-merge join
    // skips the |E|-sized sort and only ever sorts the |V|-sized rank
    // projection.
    val edgesBySrc = ScratchCache.cache(
      edges.repartition(col("src")).sortWithinPartitions(col("src")))
    val n = nodes.count()
    val one = new java.math.BigDecimal(1)
    val bigN = new java.math.BigDecimal(n)
    val uniform = one.divide(bigN, 18, java.math.RoundingMode.HALF_UP)
    val base = new java.math.BigDecimal("0.15")
      .divide(bigN, 18, java.math.RoundingMode.HALF_UP)
    // the dangling-node SET is fixed across iterations (it depends only
    // on the edge structure), so it is marked ONCE as a boolean carried
    // through the rank checkpoints — the per-iteration dangling-mass
    // probe is then a join-free scan + 1-row aggregate instead of a
    // left_anti join against outdeg (halves the per-iteration passes
    // over the rank table; values are bit-identical)
    // deg rides the rank rows (null ⟺ dangling): the per-iteration
    // r/deg division is then single-sided and runs on the |V|-sized
    // rank table BEFORE the edge join instead of on every |E|-sized
    // join output row — same expression, same exact decimal quotient
    var ranks = nodes.join(outdeg, Seq("id"), "left")
      .select(col("id"), lit(uniform).cast(D).as("r"),
        col("deg").isNull.as("dangling"), col("deg"))
      .localCheckpoint()
    var prev: Option[DataFrame] = Some(ranks)
    for (_ <- 1 to iters) {
      // dangling mass as an exact driver-side scalar (the ccLabels
      // precedent: tiny per-round probes in exchange for a clean
      // distributed plan — a constant-key join would funnel every node
      // through one reducer)
      val dang = ranks
        .agg(coalesce(sum(when(col("dangling"), col("r"))),
          lit(0).cast(D)).as("d"))
        .head().getDecimal(0)
      val dangShare = dang.divide(bigN, 18, java.math.RoundingMode.HALF_UP)
      // Per-iteration rank exchanges: the rank checkpoint re-enters
      // each round with UnknownPartitioning (see the edgesBySrc note),
      // so its consumers must exchange it. Both per-iteration
      // consumers (the contribution join and the next-rank outer
      // join) hang off the same repartition subtree, but column
      // pruning projects each copy differently ((id, r, deg) vs
      // (id, dangling, deg)), which defeats ReuseExchange — the plan
      // carries TWO narrow |V|-row rank shuffles per iteration
      // (plans/r19/q_graph_pagerank_after.txt). Accepted: forcing a
      // single shared shuffle would need a per-iteration cache barrier
      // whose materialization cost exceeds the ~1 narrow column it
      // saves. The big win stays the static edge side. The merge
      // hint pins the edge join to the co-partitioned sort-merge
      // shape: without it the planner broadcasts the |E|-sized edge
      // cache whenever it sizes under the threshold — a serial
      // per-iteration driver build at bench scale and an impossible
      // plan at 100 TB, where the edge side could never broadcast.
      // The division + projection to (id, c) runs BEFORE the join: |V|
      // divisions, 2 columns into the join. A dangling row's c is
      // null (deg null); dangling ⟺ no out-edges ⟺ the id never
      // matches an edge src, so the inner join drops those rows
      // before any sum sees them.
      val r2 = ranks.repartition(col("id"))
      val contribs = r2
        .select(col("id"), (col("r") / col("deg")).cast(D).as("c"))
        .join(edgesBySrc.hint("merge"), col("id") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).cast(D).as("inSum"))
        .withColumnRenamed("dst", "id")
      val next = r2.select(col("id"), col("dangling"), col("deg"))
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base).cast(D) + lit(new java.math.BigDecimal("0.85")) *
            (coalesce(col("inSum"), lit(0).cast(D)) +
              lit(dangShare).cast(D))).cast(D).as("r"),
          col("dangling"), col("deg"))
        .localCheckpoint()
      prev.foreach(unpersistCheckpoint)
      prev = Some(next)
      ranks = next
    }
    prev.foreach(p => ScratchCache.defer(() => unpersistCheckpoint(p)))
    ranks.select(
      when(col("id") % 2 === 0, "order").otherwise("part").as("ntype"),
      expr("id div 2").as("node"), // integer div: '/' would go double
      round((col("r") * lit(bigN).cast(D)).cast("double"), 6)
        .as("rank_x_n"))
  }

  /** q_kgx_validate — KGX/Biolink-style graph validation, the QC gate
    * the reference runs before loading a graph: CURIE-format check on
    * node ids, non-empty category check, dangling-endpoint checks on
    * edges (endpoint references no node), and predicate-vocabulary
    * membership. Violations are PLANTED deterministically (every 97th
    * customer id loses its prefix, every 89th part loses its category)
    * so the counts are stable and oracle-able; the broken customer ids
    * cascade into dangling_subject edge violations exactly like a real
    * bad parse. Wire: (rule, n_violations).
    *
    * Scale shape: rule predicates are row-local conditional sums (one
    * pass over nodes, one over edges); dangling checks are the same
    * left-anti equi joins the merger uses. */
  def kgxValidate(s: SparkSession, d: String): DataFrame = {
    val custNodes = Tables.customer(s, d).select(
      when(col("c_custkey") % 97 === 0, col("c_custkey").cast("string"))
        .otherwise(concat(lit("CUST:"), col("c_custkey"))).as("id"),
      when(col("c_custkey") % 89 === 0, lit(""))
        .otherwise(lit("biolink:Agent")).as("category"))
    val partNodes = Tables.part(s, d).select(
      concat(lit("PART:"), col("p_partkey")).as("id"),
      when(col("p_partkey") % 89 === 0, lit(""))
        .otherwise(lit("biolink:ChemicalEntity")).as("category"))
    val nodes = custNodes.unionByName(partNodes)
    val edges = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("CUST:"), col("o_custkey")).as("subject"),
        when(col("l_returnflag") === "A", "biolink:affects")
          .when(col("l_returnflag") === "R", "biolink:related_to")
          .otherwise(concat(lit("raw:"), lower(col("l_returnflag"))))
          .as("predicate"),
        concat(lit("PART:"), col("l_partkey")).as("object"))
    val curie = "^[A-Za-z][A-Za-z0-9]*:.+"
    val nodeRules = nodes.agg(
        sum(when(!col("id").rlike(curie), 1L).otherwise(0L)).as("bad_id"),
        sum(when(col("category") === "", 1L).otherwise(0L)).as("no_cat"))
      .select(explode(map(
        lit("invalid_curie"), col("bad_id"),
        lit("missing_category"), col("no_cat"))).as(Seq("rule", "n")))
    val ids = nodes.select(col("id"))
    val danglingS = edges.join(ids, col("subject") === col("id"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("dangling_subject").as("rule"),
        col("n"))
    val danglingO = edges.join(ids, col("object") === col("id"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("dangling_object").as("rule"),
        col("n"))
    val badPred = edges.agg(
        sum(when(!col("predicate").isin("biolink:affects",
          "biolink:related_to"), 1L).otherwise(0L)).as("n"))
      .select(lit("unknown_predicate").as("rule"), col("n"))
    nodeRules.unionByName(danglingS).unionByName(danglingO)
      .unionByName(badPred)
      .orderBy(col("rule"))
  }

  /** GraphX Pregel CC over the same edge list — kept as an independent
    * implementation for cross-checking ccLabels in tests (not in the
    * query path: RDD Pregel re-pays per-partition overhead every
    * superstep and its lineage handling is the wrong plan at 100 TB). */
  def ccLabelsGraphX(edgesIn: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val cols = edgesIn.columns
    val edges = edgesIn
      .select(col(cols(0)).cast("long"), col(cols(1)).cast("long"))
      .distinct()
      .coalesce(math.min(8, s.sparkContext.defaultParallelism))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val cc = org.apache.spark.graphx.lib.ConnectedComponents
      .run(GXGraph.fromEdgeTuples(edges, 1))
    cc.vertices.map { case (node, comp) => (node, comp) }.toDF("node", "comp")
  }

  /** q_graph_label_prop — community detection by SYNCHRONOUS label
    * propagation (fixed 4 rounds) over the undirected (sliced)
    * co-purchase part graph: every node starts as its own label; each
    * round every node adopts the label most frequent among its
    * neighbors, ties to the SMALLEST label. The standard cheap
    * community pass (LPA) for knowledge-graph QC — unlike
    * [[connectedComponents]] it splits a connected hairball into
    * densely-linked groups. Wire: community size histogram
    * (size, n_communities).
    *
    * DETERMINISM (what makes this oracle-able where classic async LPA
    * is not): synchronous rounds, a FIXED round count, and an exact
    * integer argmax with min-label tie-break — both engines agree
    * bit-for-bit, so the DuckDB twin unrolls the same 4 rounds as
    * QUALIFY row_number CTEs.
    *
    * Scale shape: each round is one equi join of the (cached,
    * skew-hardened — [[coPairs]]) symmetric edge list against the
    * label frame plus two hash aggregates — (node, label) counting,
    * then per-node argmax via max(struct(count, −label)) so no window
    * over nodes is needed. Rounds chain linearly (each frame has ONE
    * downstream consumer) but are still lazily localCheckpoint'd: the
    * uncheckpointed 4-round lazy plan measured 21–88 s at sf0.1
    * (optimizer + AQE re-planning over the deeply nested chain), vs
    * ~1 s with per-round truncation — the same lineage lesson kcore's
    * scaladoc records, triggered by DEPTH here rather than fan-out. */
  def labelProp(s: SparkSession, d: String): DataFrame =
    labelPropOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_label_prop over any (o, p) membership frame. */
  def labelPropOn(membership: DataFrame): DataFrame = {
    val (_, lab) = lpaLabels(membership)
    lab.groupBy(col("lab")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("size"))
  }

  /** Shared LPA core (q_graph_label_prop, q_graph_modularity): the
    * 4-round synchronous propagation over the symmetric co-purchase
    * edge list. Returns (sym, labels) — sym is the checkpointed
    * DIRECTED doubling of the undirected edge set (each edge twice),
    * labels the final (node, lab) frame. */
  /** The shared co-purchase SYMMETRIC edge build — labelProp,
    * modularity, louvain and louvain2 all start from this identical
    * sym(u, v) frame (distinct membership → size-tagged co-pairs →
    * distinct → ∪ reversed → repartition(u)). Memoized per session and
    * canonical membership plan in [[EdgeMemo]] (a [[SessionMemo]]): a
    * Verify pass runs the four keys back-to-back on one dataset, so the
    * memo pays the two distincts + co-pair join + shuffle ONCE instead
    * of four times. Sessions built with
    * `Graft.localSession(reuseAcrossKeys = false)` (Bench, Profile)
    * turn it off to keep per-key timings self-contained.
    *
    * Non-memo layout (r19 hybrid): sym is CHECKPOINTED first (lineage
    * truncated to a scan), then its repartition(u) is CACHED — the
    * InMemoryRelation preserves HashPartitioning(u), which satisfies
    * ClusteredDistribution for BOTH downstream aggregations ((u, lab)
    * counting and the per-u argmax), so after this one shuffle every
    * round is exchange-free. The per-round join broadcasts the (tiny)
    * label frame and broadcast-hash preserves the streamed side's
    * partitioning. When labels outgrow the broadcast threshold (labels
    * are |V|-sized; a 100 TB graph's vocabulary may not fit), Catalyst
    * falls back to a shuffled join and the rounds pay their shuffles —
    * plan degrades, never breaks. The EdgeMemo PIN path skips the
    * repartition entirely (cross-key reuse cares about the rows, not
    * the layout; consumers re-exchange as needed). Footprint note:
    * until ScratchCache.releaseAll both the checkpoint blocks and the
    * InMemoryRelation hold a full copy of sym — an accepted 2× scratch
    * cost (sym is edge-sized but projected to two longs; the blocks
    * are storage-evictable under pressure, and both copies release at
    * query end). */
  private def coSymEdges(membership: DataFrame): DataFrame =
    EdgeMemo.getOrBuild(membership) { pin =>
      val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
      val ec = coPairs(op).distinct()
      val built = ec.unionByName(
          ec.select(col("v").as("u"), col("u").as("v")))
      // non-memo path: CHECKPOINT the (heavy) build, then CACHE its
      // repartition (r19). localCheckpoint drops outputPartitioning
      // in Spark 4.x (measured — see pageRankOn/hitsOn), so the old
      // trunc(repartition(u)) re-entered every LPA/Louvain round with
      // UnknownPartitioning and each round re-exchanged its
      // aggregations. Caching the repartitioned build directly was
      // A/B'd and REJECTED: every round then re-embeds the full
      // co-pair logical plan and AQE re-planning blows up (louvain2
      // 5.9 s -> 8.6-39 s, the 21-88 s labelProp lesson). The hybrid
      // keeps both properties: the checkpoint truncates lineage to a
      // scan, and the cached repartition over that scan is a
      // TINY-plan InMemoryRelation whose hash(u) satisfies both
      // per-round aggregation distributions — rounds are genuinely
      // exchange-free, as the design always claimed.
      if (pin) EdgeMemo.pin(built)
      else ScratchCache.cache(trunc(built).repartition(col("u")))
    }

  private def lpaLabels(membership: DataFrame): (DataFrame, DataFrame) = {
    val sym = coSymEdges(membership)
    var lab = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to 4) {
      lab = trunc(sym.join(lab, sym("v") === lab("node"))
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c").as("c"),
          (col("lab") * -1).as("nl"))).as("m"))
        .select(col("u").as("node"), (col("m.nl") * -1).as("lab")))
    }
    (sym, lab)
  }

  /** q_graph_modularity — Newman MODULARITY of the q_graph_label_prop
    * communities (r12): Q = Σ_c [e_c/m − (deg_c/2m)²] over the same
    * undirected co-purchase graph and the same deterministic 4-round
    * LPA labels — the "did the community pass actually find structure"
    * QC number that turns the LPA histogram into a quality score.
    * Wire: ONE row (n_nodes, n_edges, n_communities, intra_share, Q).
    *
    * EXACTNESS: every input to Q is an exact integer (intra-edge
    * count, 2m, per-community degree sums squared in DECIMAL(38,0) so
    * a 100 TB degree mass can't overflow), and Q itself is one shared
    * double expression — no float accumulation across rows, so the
    * DuckDB twin (the labelProp CTE chain + three aggregates) matches
    * bit-for-bit.
    *
    * Scale shape: two broadcast joins of the |V|-sized label frame
    * against the checkpointed sym edges (same broadcast contract as
    * the LPA rounds), three hash aggs, and 1-row k0 combines — no new
    * data-sized exchange beyond what LPA already paid. */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_modularity over any (o, p) membership frame. */
  def modularityOn(membership: DataFrame): DataFrame = {
    val (sym, lab) = lpaLabels(membership)
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    val lu = lab.select(col("node").as("u"), col("lab").as("lab_u"))
    val lv = lab.select(col("node").as("v"), col("lab").as("lab_v"))
    // i2 = directed intra-community edge count (= 2·Σe_c); m2 = 2m
    val em = sym.join(lu, "u").join(lv, "v")
      .agg(count(lit(1)).as("m2"),
        sum(when(col("lab_u") === col("lab_v"), 1L).otherwise(0L))
          .as("i2"))
      .withColumn("jk", k0(col("m2")))
    val dc = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
      .join(lu, "u")
      .groupBy(col("lab_u"))
      .agg(sum(col("dg")).as("degc"))
    val deg2 = dc.agg(count(lit(1)).as("n_communities"),
        sum((col("degc").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("degc")).cast(
            org.apache.spark.sql.types.DecimalType(38, 0))).as("sumdeg2"))
      .withColumn("jk", k0(col("n_communities")))
    val nn = lab.agg(count(lit(1)).as("n_nodes"))
      .withColumn("jk", k0(col("n_nodes")))
    em.join(broadcast(deg2), "jk").join(broadcast(nn), "jk")
      .select(col("n_nodes"), (col("m2") / 2).cast("long").as("n_edges"),
        col("n_communities"),
        round(col("i2").cast("double") / col("m2").cast("double"), 6)
          .as("intra_share"),
        round(col("i2").cast("double") / col("m2").cast("double")
          - col("sumdeg2").cast("double")
            / (col("m2").cast("double") * col("m2").cast("double")), 6)
          .as("modularity"))
  }

  /** q_graph_louvain — ONE-LEVEL LOUVAIN MOVE PASS (Blondel et al.
    * 2008, level 1) maximizing the Newman modularity that
    * q_graph_modularity scores (r13): starting from SINGLETON
    * communities, 4 unrolled synchronous move rounds — each node
    * evaluates, for every community adjacent to it (plus staying put),
    * the EXACT-INTEGER modularity gain and adopts the argmax. Wire:
    * ONE row (n_nodes, n_edges, n_communities, n_moved, q_start,
    * q_louvain) — q_start is the singleton-partition modularity
    * (−Σdeg²/4m², the floor the move pass must beat) and
    * q_louvain ≥ q_start is additionally asserted in GraphOpsSpec
    * (planted two-clique fixture recovers the cliques exactly).
    *
    * EXACTNESS / DETERMINISM (the whole key is oracle-checked): the
    * per-candidate gain is compared through the scaled integer
    * 2m·k_{i,c} − k_i·(Σtot_c − [c = cur]·k_i) — every term an exact
    * DECIMAL(38,0) product of integer counts, so no float enters a
    * comparison; the winner is max(struct(gain, is_current, −c)) —
    * highest gain, then prefer staying, then smallest community id —
    * and ONLY the active half of the nodes ((p div 4) parity matching
    * the round parity; all part-node ids here are ≡0 mod 4) applies
    * its move each round, the deterministic half-graph coloring that
    * stops the classic synchronous two-node swap oscillation.
    *
    * Scale shape: per round one broadcast-sized label join against the
    * checkpointed sym edges (the LPA round contract), one (u, lab)
    * neighbor-community count, one |labels|-sized community-degree
    * agg, and a per-node argmax — no data-sized exchange beyond the
    * LPA precedent; rounds are localCheckpoint-truncated so the plan
    * never re-derives round k−1. The m2 scalar is one count job. */
  def louvain(s: SparkSession, d: String): DataFrame =
    louvainOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** The synchronous parity-gated Louvain move pass over a DIRECTED
    * WEIGHTED symmetric edge list symW(u, v, w) — w is the number of
    * original directed edges the (u, v) pair stands for, so level 1
    * runs with w = 1 and the level-2 QUOTIENT graph (where w(a, b)
    * counts inter-community edges and the a = a self-loop carries 2×
    * the intra-community edge count) reuses the identical pass: all
    * weights are integer counts, every gain term stays an exact
    * DECIMAL(38,0) product, and the quotient preserves Σw = m2, so
    * the same (2m·k_{i,c} − k_i·(Σtot_c − [c = cur]·k_i)) comparison
    * is valid at both levels. Self-loops are EXCLUDED from the
    * neighbor-community mass (a node's own loop moves with it and
    * cancels across candidates) but INCLUDED in its degree (standard
    * weighted Louvain). Starts from singletons; returns (node, lab)
    * after `rounds` rounds. The (node div 4) parity is the
    * deterministic half-graph coloring that stops the synchronous
    * two-node swap oscillation; quotient node ids are level-1 labels
    * drawn from the same id space, so the same coloring applies at
    * both levels. */
  private def louvainMoveRounds(symW: DataFrame, m2: Long,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(38, 0)
    val deg = ScratchCache.cache(
      symW.groupBy(col("u")).agg(sum(col("w")).as("dg")))
    var lab = deg.select(col("u").as("node"), col("u").as("lab"))
    for (r <- 1 to rounds) {
      val ctot = lab.join(deg, lab("node") === deg("u"))
        .groupBy(col("lab")).agg(sum(col("dg")).as("tot"))
        .select(col("lab").as("c"), col("tot"))
      val nbr = symW.filter(col("u") =!= col("v"))
        .join(lab.select(col("node").as("v"), col("lab").as("c")), "v")
        .groupBy(col("u"), col("c")).agg(sum(col("w")).as("kuc"))
      // candidate set = adjacent communities ∪ the node's own (kuc=0
      // when no neighbor shares it — the singleton-start case)
      val cand = nbr.unionByName(
          lab.select(col("node").as("u"), col("lab").as("c"),
            lit(0L).as("kuc")))
        .groupBy(col("u"), col("c")).agg(max(col("kuc")).as("kuc"))
      val winner = cand
        .join(lab.select(col("node").as("u"), col("lab").as("cur")), "u")
        .join(broadcast(ctot), "c")
        .join(deg, "u")
        .select(col("u"), col("cur"), col("c"),
          ((lit(m2).cast(D) * col("kuc").cast(D)).cast(D)
            - (col("dg").cast(D) *
              (col("tot") - when(col("c") === col("cur"), col("dg"))
                .otherwise(lit(0L))).cast(D)).cast(D)).cast(D).as("gain"),
          when(col("c") === col("cur"), 1L).otherwise(0L).as("is_cur"))
        .groupBy(col("u"))
        .agg(max(struct(col("gain"), col("is_cur"),
          (col("c") * -1).as("nc"))).as("w"))
        .select(col("u").as("node"), (col("w.nc") * -1).as("best"))
      lab = trunc(lab.join(winner, "node")
        .select(col("node"),
          when(expr("(node div 4) % 2") === lit(r % 2), col("best"))
            .otherwise(col("lab")).as("lab")))
    }
    lab
  }

  /** Core of q_graph_louvain over any (o, p) membership frame. */
  def louvainOn(membership: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sym = coSymEdges(membership) // shared memoized build
    val deg = ScratchCache.cache(
      sym.groupBy(col("u")).agg(count(lit(1)).as("dg")))
    val m2 = sym.count() // 2m, one scalar count job
    val D = DecimalType(38, 0)
    val lab = louvainMoveRounds(sym.withColumn("w", lit(1L)), m2, 4)
    // score start (singletons: i2 = 0) and final partitions
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    val lu = lab.select(col("node").as("u"), col("lab").as("lab_u"))
    val lv = lab.select(col("node").as("v"), col("lab").as("lab_v"))
    val em = sym.join(lu, "u").join(lv, "v")
      .agg(sum(when(col("lab_u") === col("lab_v"), 1L).otherwise(0L))
        .as("i2"))
      .withColumn("jk", k0(col("i2")))
    val dc = deg.join(lu, "u")
      .groupBy(col("lab_u")).agg(sum(col("dg")).as("degc"))
    val fin = dc.agg(count(lit(1)).as("n_communities"),
        sum((col("degc").cast(D) * col("degc")).cast(D)).as("sumdeg2"))
      .withColumn("jk", k0(col("n_communities")))
    val start = deg.agg(count(lit(1)).as("n_nodes"),
        sum((col("dg").cast(D) * col("dg")).cast(D)).as("sumdg2"))
      .withColumn("jk", k0(col("n_nodes")))
    val moved = lab.filter(col("node") =!= col("lab"))
      .agg(count(lit(1)).as("n_moved")).withColumn("jk", k0(col("n_moved")))
    em.join(broadcast(fin), "jk").join(broadcast(start), "jk")
      .join(broadcast(moved), "jk")
      .select(col("n_nodes"), lit(m2 / 2).as("n_edges"),
        col("n_communities"), col("n_moved"),
        round(lit(0.0) - col("sumdg2").cast("double")
          / (lit(m2).cast("double") * lit(m2).cast("double")), 6)
          .as("q_start"),
        round(col("i2").cast("double") / lit(m2).cast("double")
          - col("sumdeg2").cast("double")
            / (lit(m2).cast("double") * lit(m2).cast("double")), 6)
          .as("q_louvain"))
  }

  /** q_graph_louvain2 — TWO-LEVEL LOUVAIN (r14): the level-1 move pass
    * of [[louvainOn]], then the defining Louvain step — COLLAPSE each
    * level-1 community to a super-node of the WEIGHTED QUOTIENT graph
    * (w(a, b) = inter-community directed edge count, self-loop
    * w(a, a) = 2 × intra count; Σw = m2 is preserved) and coarsen it
    * with 4 MUTUAL-BEST-MERGE rounds: each community proposes its
    * best positive-modularity-gain merge partner (exact integer
    * m2·w(a,b) − K_a·K_b > 0, ties → smallest id) and a merge applies
    * only when the proposal is MUTUAL. Simultaneous merges are
    * therefore DISJOINT pairs, their ΔQ terms add, and the pass is
    * Q-MONOTONE BY CONSTRUCTION — the synchronous node-move pass
    * re-run on the quotient is NOT (measured Q-decreasing on the
    * ring-of-16-triangles fixture: same-parity conflicting moves
    * around the ring), which is why distributed Louvain variants
    * coarsen by matching. Final labels are the COMPOSITION
    * node → lab1 → merge-lab, scored on the ORIGINAL graph with the
    * same Newman Q as q_graph_modularity. Wire: ONE row (n_nodes,
    * n_edges, n_super, n_communities, n_moved2, q_level1, q_level2) —
    * n_super is the quotient size, n_moved2 counts super-nodes the
    * merge pass relabeled, q_level2 ≥ q_level1 GUARANTEED (asserted
    * in GraphOpsSpec, strictly > on the planted ring fixture where
    * level 1 is node-stable but pair-merges gain). Fully
    * oracle-checked: both levels unroll as exact HUGEINT CTE rounds
    * in DuckDB (the q_graph_louvain pattern).
    *
    * Scale shape: level 1 is q_graph_louvain's (LPA-contract rounds);
    * the quotient build is ONE (lab_u, lab_v) hash agg over the
    * checkpointed sym edges, after which every merge round runs on a
    * |communities|-sized graph — the collapse is exactly what makes
    * multi-level Louvain tractable at 100 TB (level 2 costs a
    * vanishing fraction of level 1). */
  def louvain2(s: SparkSession, d: String): DataFrame =
    louvain2On(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_louvain2 over any (o, p) membership frame. */
  def louvain2On(membership: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sym = coSymEdges(membership) // shared memoized build
    val deg = ScratchCache.cache(
      sym.groupBy(col("u")).agg(count(lit(1)).as("dg")))
    val m2 = sym.count() // 2m, one scalar count job
    val D = DecimalType(38, 0)
    // level 1: the q_graph_louvain pass verbatim (already truncated)
    val lab1 = louvainMoveRounds(sym.withColumn("w", lit(1L)), m2, 4)
    // quotient: one hash agg — w(a, b) counts original directed edges,
    // so the diagonal holds 2× the intra edges and Σw stays m2
    // checkpoint the quotient build, then cache its repartition — the
    // coSymEdges hybrid (r19): lineage truncated to a scan, hash(u)
    // visible to the merge rounds through the tiny-plan cache
    val symQ = ScratchCache.cache(trunc(sym
      .join(lab1.select(col("node").as("u"), col("lab").as("qu")), "u")
      .join(lab1.select(col("node").as("v"), col("lab").as("qv")), "v")
      .groupBy(col("qu"), col("qv")).agg(count(lit(1)).as("w"))
      .select(col("qu").as("u"), col("qv").as("v"), col("w")))
      .repartition(col("u")))
    // level 2: 4 mutual-best-merge rounds on the weighted quotient —
    // Q-monotone because accepted merges are disjoint pairs with
    // individually positive exact-integer gain
    val qdeg = ScratchCache.cache(
      symQ.groupBy(col("u")).agg(sum(col("w")).as("dg")))
    var lab2q = qdeg.select(col("u").as("node"), col("u").as("lab"))
    for (_ <- 1 to 4) {
      val cw = symQ
        .join(lab2q.select(col("node").as("u"), col("lab").as("ca")), "u")
        .join(lab2q.select(col("node").as("v"), col("lab").as("cb")), "v")
        .filter(col("ca") =!= col("cb"))
        .groupBy(col("ca"), col("cb")).agg(sum(col("w")).as("wab"))
      // ck / best are each referenced twice (gain join sides; the
      // mutuality self-join) and recompute per reference — that is the
      // RIGHT trade here: checkpointing them instead was A/B'd (r14)
      // at 20.5 s vs 8.2 s — the extra checkpoint materializations
      // serialize the round into more stage barriers than the
      // recomputed |communities|-sized chains cost
      val ck = lab2q.join(qdeg, lab2q("node") === qdeg("u"))
        .groupBy(col("lab")).agg(sum(col("dg")).as("kc"))
      val best = cw
        .join(ck.select(col("lab").as("ca"), col("kc").as("ka")), "ca")
        .join(ck.select(col("lab").as("cb"), col("kc").as("kb")), "cb")
        .select(col("ca"), col("cb"),
          ((lit(m2).cast(D) * col("wab").cast(D)).cast(D)
            - (col("ka").cast(D) * col("kb").cast(D)).cast(D)).cast(D)
            .as("g"))
        .filter(col("g") > 0)
        .groupBy(col("ca"))
        .agg(max(struct(col("g"), (col("cb") * -1).as("nb"))).as("w"))
        .select(col("ca"), (col("w.nb") * -1).as("cb"))
      val mutual = best.join(
          best.select(col("cb").as("ca"), col("ca").as("cb")),
          Seq("ca", "cb"))
        .select(col("ca").as("mlab"), least(col("ca"), col("cb")).as("newlab"))
      lab2q = trunc(lab2q
        .join(mutual, lab2q("lab") === mutual("mlab"), "left")
        .select(col("node"),
          coalesce(col("newlab"), col("lab")).as("lab")))
    }
    // composed final labels on the original nodes
    val lab2 = trunc(lab1.select(col("node"), col("lab").as("c1"))
      .join(lab2q.select(col("node").as("c1"), col("lab").as("c2")), "c1")
      .select(col("node"), col("c2").as("lab")))
    val k0 = (c: Column) => pmod(hash(c), lit(1))
    def qParts(lb: DataFrame): (DataFrame, DataFrame) = {
      val lu = lb.select(col("node").as("u"), col("lab").as("lab_u"))
      val lv = lb.select(col("node").as("v"), col("lab").as("lab_v"))
      val em = sym.join(lu, "u").join(lv, "v")
        .agg(sum(when(col("lab_u") === col("lab_v"), 1L).otherwise(0L))
          .as("i2"))
      val dc = deg.join(lu, "u")
        .groupBy(col("lab_u")).agg(sum(col("dg")).as("degc"))
        .agg(count(lit(1)).as("nc"),
          sum((col("degc").cast(D) * col("degc")).cast(D)).as("sumdeg2"))
      (em, dc)
    }
    val (em1, dc1) = qParts(lab1)
    val (em2, dc2) = qParts(lab2)
    def qCol(i2: Column, sumdeg2: Column): Column =
      round(i2.cast("double") / lit(m2).cast("double")
        - sumdeg2.cast("double")
          / (lit(m2).cast("double") * lit(m2).cast("double")), 6)
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
      .withColumn("jk", k0(col("n_nodes")))
    val moved2 = lab2q.filter(col("node") =!= col("lab"))
      .agg(count(lit(1)).as("n_moved2"))
      .withColumn("jk", k0(col("n_moved2")))
    nn
      .join(broadcast(em1.select(col("i2").as("i2_1"))
        .withColumn("jk", k0(col("i2_1")))), "jk")
      .join(broadcast(dc1.select(col("nc").as("n_super"),
          col("sumdeg2").as("sd2_1"))
        .withColumn("jk", k0(col("n_super")))), "jk")
      .join(broadcast(em2.select(col("i2").as("i2_2"))
        .withColumn("jk", k0(col("i2_2")))), "jk")
      .join(broadcast(dc2.select(col("nc").as("n_communities"),
          col("sumdeg2").as("sd2_2"))
        .withColumn("jk", k0(col("n_communities")))), "jk")
      .join(broadcast(moved2), "jk")
      .select(col("n_nodes"), lit(m2 / 2).as("n_edges"), col("n_super"),
        col("n_communities"), col("n_moved2"),
        qCol(col("i2_1"), col("sd2_1")).as("q_level1"),
        qCol(col("i2_2"), col("sd2_2")).as("q_level2"))
  }

  /** q_graph_assortativity — DEGREE ASSORTATIVITY (Newman 2002) of
    * the undirected co-purchase graph (r12): the Pearson correlation
    * of (deg u, deg v) over every directed edge of the symmetric edge
    * list — positive = hubs wire to hubs (social-network shape),
    * negative = hubs wire to leaves (hub-and-spoke), the one-number
    * wiring diagnosis that complements q_graph_degree's histogram and
    * q_graph_modularity's community score. Wire: ONE row (n_nodes,
    * n_edges, avg_degree, assortativity).
    *
    * EXACTNESS: the five correlation sums ride exact DECIMAL over
    * integer degrees (the q_agg_corr pattern) and r is one shared
    * double tree; a degenerate graph (all degrees equal → zero
    * variance) emits NULL identically in both engines.
    *
    * Scale shape: degrees are one hash agg on the already-partitioned
    * sym list; the two degree joins key on u and v (data-sized but
    * id+long-only rows); the moments agg collapses to one row. */
  def assortativity(s: SparkSession, d: String): DataFrame =
    assortativityOn(Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")))

  /** Core of q_graph_assortativity over any (o, p) membership frame. */
  def assortativityOn(membership: DataFrame): DataFrame = {
    val op = sizeTagged(membership.select(col("o"), col("p")).distinct())
    val ec = coPairs(op).distinct().pipe(ScratchCache.cache)
    val sym = ec.unionByName(
      ec.select(col("v").as("u"), col("u").as("v")))
    // localCheckpoint (the labelProp trunc pattern) gives Catalyst the
    // REAL size of the degree table, so the two degree joins broadcast
    // while |V| is small and degrade to shuffle joins only when the
    // vertex table genuinely outgrows the threshold — a cached agg's
    // estimated stats would force sort-merge even at test scale
    val deg = {
      val t = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
        .localCheckpoint(false)
      ScratchCache.defer(() => unpersistCheckpoint(t))
      t
    }
    val dd = DecimalType(20, 0)
    val e = sym
      .join(deg.select(col("u"), col("dg").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("dg").as("dv")), "v")
      .select(col("du").cast(dd).as("x"), col("dv").cast(dd).as("y"))
    e.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"), col("n").cast("double").as("dn"),
        col("sx").cast("double").as("dx"),
        col("sy").cast("double").as("dy"),
        col("sxy").cast("double").as("dxy"),
        col("sxx").cast("double").as("dxx"),
        col("syy").cast("double").as("dyy"))
      .select(
        (col("n") / 2).cast("long").as("n_edges"),
        col("dn"), col("dx"), col("dy"), col("dxy"),
        (col("dn") * col("dxx") - col("dx") * col("dx")).as("vx"),
        (col("dn") * col("dyy") - col("dy") * col("dy")).as("vy"))
      .withColumn("kk", pmod(hash(col("n_edges")), lit(1)))
      .join(broadcast(deg
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("dg")).as("sdg"))
        .withColumn("kk", pmod(hash(col("n_nodes")), lit(1)))), "kk")
      .select(col("n_nodes"), col("n_edges"),
        round(col("sdg").cast("double") / col("n_nodes").cast("double"),
          6).as("avg_degree"),
        when(col("vx") > 0 && col("vy") > 0,
          round((col("dn") * col("dxy") - col("dx") * col("dy"))
            / sqrt(col("vx") * col("vy")), 6)).as("assortativity"))
  }

  /** q_graph_cc — connected components of the bipartite order–part
    * graph; returns the component size histogram. Oracle-checked: the
    * histogram is label-invariant, so DuckDB's pointer-doubling CC
    * twin (OracleSql) matches exactly; GraphX cross-check stays in
    * tests as an independent third implementation.
    * Part vertex ids offset by 2^31 so the two id spaces don't
    * collide. */
  def connectedComponents(s: SparkSession, d: String): DataFrame = {
    val offset = 1L << 31
    val edges = Tables.lineitem(s, d)
      .select(col("l_orderkey"), (col("l_partkey") + offset).as("part"))
    ccLabels(edges)
      .groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
      .orderBy(col("size"))
  }
}

/** Session-scoped memo for a graph build that several keys share over
  * the same dataset: the landmark BFS ([[LandmarkMemo]]: closeness,
  * betweenness, brandes, ecc) and the co-purchase symmetric edge set
  * ([[EdgeMemo]]: labelProp, modularity, louvain, louvain2). One
  * Verify pass runs each family back-to-back, so the memo pays the
  * build once instead of four times.
  *
  * Keyed on (session, CANONICALIZED membership plan, extra build
  * parameters): the demo keys build membership from the memoized
  * [[graft.Tables.lineitem]] frame with the same filter/select, so
  * their canonicalized plans are equal; any other frame (tests'
  * hand-built fixtures, a repartitioned copy) misses and builds fresh.
  *
  * Lifecycle: memoized frames are EAGER localCheckpoints owned HERE
  * ([[pin]]), not ScratchCache-registered — the harness's per-key
  * releaseAll must not free blocks a later key still reads, and eager
  * materialization means no lazy dependency on scratch blocks that a
  * release could strand. [[clear]] unpersists and forgets everything.
  * `confKey=false` bypasses the memo, so every key pays its own build
  * (the self-contained per-key timing of Bench and Profile); values
  * are bit-identical either way (asserted in GraphOpsSpec). */
private[graft] final class SessionMemo[V](val confKey: String) {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[Seq[Any], V]
  private val owned =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]
  /** Number of builds actually run (test observability). */
  @volatile private[graft] var builds: Long = 0L

  /** Eagerly pin `df` with a memo-owned localCheckpoint. */
  private[ops] def pin(df: DataFrame): DataFrame = {
    val t = df.localCheckpoint(true)
    owned.add(() => GraphOps.unpersistCheckpoint(t))
    t
  }

  /** Memo lookup; on miss, `build(pin)` runs with pin = whether the
    * memo is enabled (`confKey`, default true).
    *
    * SINGLE-ENTRY POLICY: a miss EVICTS the previous entry, so live
    * pinned blocks are bounded by one build — the keys a memo serves
    * share one dataset per pass, so eviction only fires on a dataset
    * (or fixture) change. Evicted pins are NOT unpersisted inline: a
    * frame returned from the evicted entry may still be unmaterialized
    * with checkpoint-truncated lineage, so an immediate unpersist would
    * strand it. Their release is handed to [[ScratchCache]] and happens
    * at the next harness drain, which runs only after every result has
    * been consumed. */
  private[ops] def getOrBuild(membership: DataFrame, params: Any*)
      (build: Boolean => V): V = {
    val s = membership.sparkSession
    val enabled = s.conf.getOption(confKey).forall(_.trim.toBoolean)
    if (!enabled) { builds += 1; build(false) }
    else {
      val k = Seq(s, membership.queryExecution.analyzed.canonicalized) ++
        params
      entries.get(k) match {
        case Some(v) => v
        case None =>
          entries.clear()
          var r = owned.poll()
          while (r != null) { ScratchCache.defer(r); r = owned.poll() }
          val v = { builds += 1; build(true) }
          entries.put(k, v)
          v
      }
    }
  }

  /** Unpersist every memo-owned checkpoint and forget all entries. */
  def clear(): Unit = {
    entries.clear()
    var r = owned.poll()
    while (r != null) { r(); r = owned.poll() }
  }
}
