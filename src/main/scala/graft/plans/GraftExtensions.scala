package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{DotF, Fnv1a64, MinHashSig, ShingleHashes, SimHash64, SortedIntersectSize, WinnowFingerprints, ZOrderKey8}

/** SparkSessionExtensions entry point: registers the graft native
  * expressions as SQL functions, so `spark.sql("SELECT fnv1a64(text) …")`
  * and pure-SQL pipelines reach the same codegen'd implementations as the
  * Column API.
  *
  * Activate with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int argument, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("fnv1a64"),
      new ExpressionInfo(classOf[Fnv1a64].getName, "fnv1a64"),
      (args: Seq[Expression]) => Fnv1a64(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotF].getName, "dot_f"),
      (args: Seq[Expression]) => DotF(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) =>
        ShingleHashes(args(0), intArg(args(1), "shingle_hashes"))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intArg(args(1), "minhash_sig"))))
    ext.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZOrderKey8].getName, "zorder_key"),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"zorder_key(x, y) takes 2 arguments, got ${args.length}")
        ZOrderKey8(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => WinnowFingerprints(args(0),
        intArg(args(1), "winnow_fingerprints"),
        intArg(args(2), "winnow_fingerprints"))))
    ext.injectFunction((
      new FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[graft.functions.KllSketch.Agg].getName, "kll_quantile"),
      (args: Seq[Expression]) => {
        if (args.length < 2 || args.length > 3)
          throw new IllegalArgumentException(
            "kll_quantile(col, quantile[, k]) takes 2 or 3 arguments, got " +
              args.length)
        // SQL literals arrive as decimal or cast-wrapped — any foldable
        // numeric works
        val q = args(1) match {
          case e if e.foldable => e.eval() match {
            case d: Double => d
            case f: Float => f.toDouble
            case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
            case n: java.lang.Number => n.doubleValue()
            case null => throw new IllegalArgumentException(
              "kll_quantile expects a non-null quantile literal, got NULL")
            case other => throw new IllegalArgumentException(
              s"kll_quantile expects a numeric quantile, got $other")
          }
          case other => throw new IllegalArgumentException(
            s"kll_quantile expects a literal quantile, got $other")
        }
        val k = if (args.length == 3) intArg(args(2), "kll_quantile") else 200
        graft.functions.KllSketch.Agg(args(0), k, q).toAggregateExpression()
      }))
  }
}
