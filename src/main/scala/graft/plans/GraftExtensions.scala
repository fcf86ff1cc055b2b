package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.CosineSimilarity

/** SparkSessionExtensions registration point for the engine's native
  * functions and optimizer rules, so SQL users get them too. `graft.Engine`
  * installs it on the engine session:
  *
  * {{{
  *   val spark = graft.Engine.session()
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * (Or via config: spark.sql.extensions=graft.plans.GraftExtensions)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(extensions.injectFunction)
    // Fuses the portable aggregate(zip_with(..)) dot-product fold into the
    // codegen'd DotProduct — SQL/portable-form users get the compiled loop.
    extensions.injectOptimizerRule(_ => FuseDotProduct)
  }
}

object GraftExtensions {

  type Registration =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Every native function the SQL surface exposes. */
  private val registrations: Seq[Registration] = Seq(
    simple("cosine_sim", classOf[CosineSimilarity].getName, 2,
      e => CosineSimilarity(e(0), e(1))),
    simple("dot_product", classOf[graft.functions.DotProduct].getName, 2,
      e => graft.functions.DotProduct(e(0), e(1))),
    simple("int_dot", classOf[graft.functions.IntDotProduct].getName, 2,
      e => graft.functions.IntDotProduct(e(0), e(1))),
    simple("int8_quantize", classOf[graft.functions.Int8Quantize].getName, 1,
      e => graft.functions.Int8Quantize(e(0))),
    simple("nfc_normalize", classOf[graft.functions.UnicodeNormalizeNFC].getName, 1,
      e => graft.functions.UnicodeNormalizeNFC(e(0))),
    // text-hash family: geometry parameters (shingle width, band counts,
    // plane counts) arrive as SQL literals — foldable by CONTRACT, since a
    // per-row geometry would give every row its own incomparable bands
    withIntArgs("shingle_hashes", classOf[graft.functions.ShingleHashes].getName, 2,
      (e, is) => graft.functions.ShingleHashes(e.head, is.head)),
    withIntArgs("char_ngram_hashes", classOf[graft.functions.CharNgramHashes].getName, 2,
      (e, is) => graft.functions.CharNgramHashes(e.head, is.head)),
    simple("simhash32", classOf[graft.functions.SimHash32].getName, 1,
      e => graft.functions.SimHash32(e(0))),
    withIntArgs("minhash_bands", classOf[graft.functions.MinhashBands].getName, 3,
      (e, is) => graft.functions.MinhashBands(e.head, is.head, is(1))),
    withIntArgs("lsh_bucket", classOf[graft.functions.LshBucketExpr].getName, 3,
      (e, is) => graft.functions.LshBucketExpr(e.head, is.head, is(1))),
    // cast to array<bigint> exactly like the Column entry point: without
    // it an integer-literal array (`array(1, 2)`) analyzes fine but
    // getLong strides over 4-byte-packed elements at execution
    simple("intersect_count", classOf[graft.functions.LongIntersectCount].getName, 2,
      e => graft.functions.LongIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Cast(e(0),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Cast(e(1),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))

  private def simple(name: String, className: String, arity: Int,
                     build: Seq[Expression] => Expression): Registration =
    (new FunctionIdentifier(name), new ExpressionInfo(className, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name expects $arity arguments, got ${exprs.length}")
        build(exprs)
      })

  /** `name(expr, int...)`: one expression argument followed by literal int
    * geometry arguments.
    */
  private def withIntArgs(name: String, className: String, arity: Int,
                          build: (Seq[Expression], Seq[Int]) => Expression): Registration =
    (new FunctionIdentifier(name), new ExpressionInfo(className, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name expects $arity arguments, got ${exprs.length}")
        val ints = exprs.drop(1).map {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"$name geometry arguments must be integer literals, got $other")
        }
        build(exprs, ints)
      })
}
