package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registration for graft's native expressions. */
object GraftExpressions {

  private val dotInfo = new ExpressionInfo(
    classOf[DotProduct].getName, "graft_dot")

  private def dotBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_dot expects exactly 2 arguments")
    DotProduct(children.head, children(1))
  }

  private def cosineBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_cosine expects exactly 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  private def l2sqBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_l2sq expects exactly 2 arguments")
    L2DistSq(children.head, children(1))
  }

  private def nearestCellBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      "graft_nearest_cell expects exactly 2 arguments")
    NearestCell(children.head, children(1))
  }

  private def nearestCellsBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "graft_nearest_cells expects (vec, cells, n)")
    NearestCellsTopN(children(0), children(1), children(2))
  }

  private def md5SeedBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      "graft_md5_seed_hashes expects exactly 2 arguments")
    Md5SeedHashes(children.head, children(1))
  }

  private def md5PrefixBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      "graft_md5_prefix_long expects exactly 2 arguments")
    Md5PrefixLong(children.head, children(1))
  }

  private def docSignatureBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "graft_doc_signature expects (shingles, num_hashes, bits)")
    DocSignature(children(0), children(1), children(2))
  }

  private def sortedOverlapBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "graft_sorted_overlap expects (array_a, array_b, required)")
    SortedOverlap(children(0), children(1), children(2))
  }

  // Spark's OWN bloom machinery (the expressions behind the optimizer's
  // InjectRuntimeFilter), surfaced as callable functions: the built-in
  // rule only fires past multi-GB scan thresholds, so the explicit
  // operator form (operators.Relational.bloomPreFilterJoin) uses these
  // to apply the identical semi-join pruning deterministically at any
  // scale.
  private def bloomAggBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      "graft_bloom_agg expects (xxhash64_value, est_items, num_bits)")
    new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(children(0), children(1), children(2))
  }

  private def bloomMightContainBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      "graft_bloom_might_contain expects (bloom_binary, xxhash64_value)")
    org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(children(0), children(1))
  }

  /** Session-scoped registration (idempotent). Call before first use when
    * the session was not built with [[GraftSparkExtensions]].
    */
  def register(spark: SparkSession): Unit = {
    // session-scoped optimizer injection (the extensions path injects the
    // same rule at build time); idempotent by reference equality
    if (!spark.experimental.extraOptimizations.contains(DotProductRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotProductRewrite
    }
    // skip when already registered: createOrReplaceTempFunction logs a
    // replacement WARN per call, which floods driver logs when every
    // query pack re-registers on the same session
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("graft_dot"))) {
      registry.createOrReplaceTempFunction("graft_dot", dotBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_cosine", cosineBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_l2sq", l2sqBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_nearest_cell", nearestCellBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_nearest_cells", nearestCellsBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_md5_seed_hashes", md5SeedBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_md5_prefix_long", md5PrefixBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_doc_signature", docSignatureBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_bloom_agg", bloomAggBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_bloom_might_contain", bloomMightContainBuilder, "built-in")
      registry.createOrReplaceTempFunction(
        "graft_sorted_overlap", sortedOverlapBuilder, "built-in")
    }
  }

  /** Column-level accessors; require registration on the active session. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def l2sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)
  def nearestCell(vec: Column, cells: Column): Column =
    call_function("graft_nearest_cell", vec, cells)
  def nearestCells(vec: Column, cells: Column, n: Column): Column =
    call_function("graft_nearest_cells", vec, cells, n)
  def md5SeedHashes(c: Column, n: Column): Column =
    call_function("graft_md5_seed_hashes", c, n)
  def md5PrefixLong(c: Column, n: Column): Column =
    call_function("graft_md5_prefix_long", c, n)
  def docSignature(shingles: Column, numHashes: Column, bits: Column): Column =
    call_function("graft_doc_signature", shingles, numHashes, bits)
  def bloomAgg(hashed: Column, estItems: Column, numBits: Column): Column =
    call_function("graft_bloom_agg", hashed, estItems, numBits)
  def bloomMightContain(bloom: Column, hashed: Column): Column =
    call_function("graft_bloom_might_contain", bloom, hashed)
  def sortedOverlap(a: Column, b: Column, required: Column): Column =
    call_function("graft_sorted_overlap", a, b, required)
}

/** `spark.sql.extensions`-pluggable registration — the production path:
  * `SparkSession.builder.withExtensions(new GraftSparkExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftSparkExtensions`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot expects exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2DistSq].getName, "graft_l2sq"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_l2sq expects exactly 2 arguments")
        L2DistSq(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "graft_nearest_cell"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_nearest_cell expects exactly 2 arguments")
        NearestCell(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest_cells"),
      new ExpressionInfo(classOf[NearestCellsTopN].getName,
        "graft_nearest_cells"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_nearest_cells expects (vec, cells, n)")
        NearestCellsTopN(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_seed_hashes"),
      new ExpressionInfo(classOf[Md5SeedHashes].getName,
        "graft_md5_seed_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_md5_seed_hashes expects exactly 2 arguments")
        Md5SeedHashes(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_prefix_long"),
      new ExpressionInfo(classOf[Md5PrefixLong].getName,
        "graft_md5_prefix_long"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_md5_prefix_long expects exactly 2 arguments")
        Md5PrefixLong(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_doc_signature"),
      new ExpressionInfo(classOf[DocSignature].getName,
        "graft_doc_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_doc_signature expects (shingles, num_hashes, bits)")
        DocSignature(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName,
        "graft_sorted_overlap"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_sorted_overlap expects (array_a, array_b, required)")
        SortedOverlap(children(0), children(1), children(2))
      }))
  }
}
