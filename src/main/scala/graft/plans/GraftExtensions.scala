package graft.plans

import graft.functions.NativeExpressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so the kernels are reachable from
  * `spark.sql(...)` as well as the Column API. Every session built by
  * [[graft.GraftSession]] sets `spark.sql.extensions` to this class:
  *
  * {{{
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  * }}}
  *
  * Integer parameters (k, n, tables, bits) must be literals — they shape
  * the expression itself (signature width, shingle size).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  // Arity check before indexing: a wrong-arity SQL call must fail with
  // "expects N arguments", not a raw IndexOutOfBoundsException from args(i).
  private def arity(name: String, args: Seq[Expression], n: Int): Seq[Expression] = {
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${args.length}")
    args
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => { arity("graft_dot", args, 2); DotProduct(args(0), args(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => { arity("graft_minhash", args, 2)
        MinHashSignature(args(0), intLit(args(1), "graft_minhash k")) }))

    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(arity("graft_simhash", args, 1).head)))

    ext.injectFunction((FunctionIdentifier("graft_simhash_md5"),
      new ExpressionInfo(classOf[Md5SimHash64].getName, "graft_simhash_md5"),
      (args: Seq[Expression]) => Md5SimHash64(arity("graft_simhash_md5", args, 1).head)))

    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => { arity("graft_shingles", args, 2)
        WordShingles(args(0), intLit(args(1), "graft_shingles n")) }))

    ext.injectFunction((FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "graft_lsh_buckets"),
      (args: Seq[Expression]) => { arity("graft_lsh_buckets", args, 3)
        HyperplaneBuckets(args(0),
          intLit(args(1), "graft_lsh_buckets tables"),
          intLit(args(2), "graft_lsh_buckets bits")) }))

    ext.injectFunction((FunctionIdentifier("graft_regexp_count"),
      new ExpressionInfo(classOf[RegexpCount].getName, "graft_regexp_count"),
      (args: Seq[Expression]) => { arity("graft_regexp_count", args, 2); RegexpCount(args(0), args(1) match {
        case Literal(p: org.apache.spark.unsafe.types.UTF8String, _) => p.toString
        case other => throw new IllegalArgumentException(
          s"graft_regexp_count pattern must be a string literal, got: $other")
      }) }))

    // size(regexp_extract_all(s, p, 0)) → RegexpCount(s, p)
    ext.injectOptimizerRule(_ => RegexpCountRewrite)
  }
}
