package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Named-function registry — the Spark analog of the reference's
  * stored-function table (`models/egraph_function_model.erl`,
  * `src/egraph_compiler.erl`): functions are registered by name
  * into the session's FunctionRegistry and callable from any query
  * (SQL or Column API) in that session.
  *
  * Registered as native Catalyst expressions, not Scala UDFs, so
  * they stay inside codegen'd plans wherever possible.
  */
object Registry {

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => VectorExpressions.DotProductExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_sig",
      exprs => VectorExpressions.MinHashSigExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash",
      exprs => VectorExpressions.SimHash64Expr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_jaccard_sorted",
      exprs => VectorExpressions.JaccardSortedExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_cdc_cuts",
      exprs => VectorExpressions.CdcCutsExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      exprs => TextNormalize.NfcExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_fold",
      exprs => TextNormalize.FoldExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_deflate",
      exprs => Compression.DeflateExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_inflate",
      exprs => Compression.InflateExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("graft_deflate_dict",
      exprs => Compression.DeflateDictExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_inflate_dict",
      exprs => Compression.InflateDictExpr(exprs(0), exprs(1)), "built-in")
    // Spark's own bloom sketch expressions, surfaced by name: the
    // aggregate builds the filter distributed (partial buffers merged
    // like any TypedImperativeAggregate — no driver treeAggregate),
    // and might_contain is a codegen'd predicate, so a map-side bloom
    // probe stays inside WholeStageCodegen where a Scala UDF would
    // break the span. Hash the value to int64 (xxhash64) on BOTH
    // sides — the aggregate's input contract is long.
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction("graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
    // Business function of the kind the reference stores per-name:
    // net revenue of a line item. Decimal arithmetic end to end: the
    // inputs encode exact 2-dp decimals, so the product is exact and
    // sums over it are order-independent (cross-engine verifiable).
    reg.createOrReplaceTempFunction("graft_revenue",
      exprs => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Multiply, Subtract}
        import org.apache.spark.sql.types.{Decimal, DecimalType}
        val m = DecimalType(18, 2)
        Multiply(
          Cast(exprs(0), m),
          Subtract(Literal(Decimal("1.00"), DecimalType(3, 2)),
            Cast(exprs(1), m)))
      },
      "built-in")
  }

  /** Runtime-compiled named function — the analog of the reference's
    * stored-function compile path (`src/egraph_compiler.erl`: users
    * POST function source, it is compiled once and then callable by
    * name). Here the body is a SQL expression over the named
    * parameters, parsed once at definition time; each call site
    * substitutes its argument expressions for the parameter
    * references, so the function inlines into the caller's plan and
    * stays inside codegen.
    */
  def define(spark: SparkSession, name: String, params: Seq[String],
      body: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val parsed = spark.sessionState.sqlParser.parseExpression(body)
    val lowered = params.map(_.toLowerCase)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      exprs => {
        require(exprs.length == params.length,
          s"$name expects ${params.length} arguments, got ${exprs.length}")
        parsed.transformUp {
          case a: UnresolvedAttribute
              if lowered.contains(a.name.toLowerCase) =>
            exprs(lowered.indexOf(a.name.toLowerCase))
        }
      }, "sql_udf")
  }

  /** Escape hatch for stored functions that need loops, recursion,
    * or conditional state — the part of the reference's surface
    * `define` cannot cover: egraph compiles FULL Erlang function
    * sources at runtime (`src/egraph_compiler.erl:1-120`,
    * `models/egraph_function_model.erl`), while `define` bodies are
    * single SQL expressions. A closure registered here runs as a
    * Scala UDF: semantically unrestricted but opaque to Catalyst
    * (no codegen, no pushdown through it, a serialization boundary
    * per call) — so the contract is: reach for `define` whenever the
    * body is expressible as a SQL expression, and for this only when
    * it genuinely is not. Like the reference, the function is named
    * and session-scoped, callable from SQL and the Column API. */
  def defineClosure[A: reflect.runtime.universe.TypeTag,
      R: reflect.runtime.universe.TypeTag](
      spark: SparkSession, name: String, f: A => R): Unit =
    spark.udf.register(name, org.apache.spark.sql.functions.udf(f))

  def defineClosure2[A: reflect.runtime.universe.TypeTag,
      B: reflect.runtime.universe.TypeTag,
      R: reflect.runtime.universe.TypeTag](
      spark: SparkSession, name: String, f: (A, B) => R): Unit =
    spark.udf.register(name, org.apache.spark.sql.functions.udf(f))

  def deflate(c: Column): Column = call_function("graft_deflate", c)
  def inflate(c: Column): Column = call_function("graft_inflate", c)
  def revenue(price: Column, discount: Column): Column =
    call_function("graft_revenue", price, discount)
  def deflateDict(data: Column, dict: Column): Column =
    call_function("graft_deflate_dict", data, dict)
  def inflateDict(data: Column, dict: Column): Column =
    call_function("graft_inflate_dict", data, dict)
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def minhashSig(tokens: Column, k: Column): Column =
    call_function("graft_minhash_sig", tokens, k)
  def simhash(tokens: Column): Column = call_function("graft_simhash", tokens)
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("graft_jaccard_sorted", a, b)
  def cdcCuts(tokens: Column): Column =
    call_function("graft_cdc_cuts", tokens)
  /** Distributed bloom build over an int64 (pre-hashed) column;
    * returns the serialized filter as binary. */
  def bloomAgg(hashed: Column, nItems: Column, nBits: Column): Column =
    call_function("graft_bloom_agg", hashed, nItems, nBits)
  /** Codegen'd bloom probe; `bloom` must be a foldable binary (a
    * literal of the serialized filter), `hashed` the same xxhash64
    * used at build time. */
  def mightContain(bloom: Column, hashed: Column): Column =
    call_function("graft_might_contain", bloom, hashed)
}
