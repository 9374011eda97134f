package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the graft native functions
  * so they resolve in SQL and via `call_function` on any session built with
  * `.withExtensions(new GraftExtensions)` (see graft.GraftSession) or
  * `spark.sql.extensions=graft.plans.GraftExtensions` on a cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage,
      /* arguments */ "", /* examples */ "", /* note */ "",
      /* group */ "misc_funcs", /* since */ "1.0.0", /* deprecated */ "", /* source */ "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two double arrays"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("vec_argmax_cos"),
      info("vec_argmax_cos", "vec_argmax_cos(vec, nrm, cents) - nearest-centroid list id by (cosine desc, id asc) over a frozen centroid literal"),
      (exprs: Seq[Expression]) => {
        // arity-check HERE: the registry builder indexes exprs(2), so a
        // 2-arg SQL call would otherwise die with an opaque
        // IndexOutOfBounds instead of a function-usage error
        if (exprs.length != 3)
          throw new IllegalArgumentException(
            s"vec_argmax_cos requires 3 arguments (vec, nrm, cents), got ${exprs.length}")
        CosArgmax.fromLiteral(exprs(0), exprs(1), exprs(2))
      }))
    e.injectFunction((
      FunctionIdentifier("vec_argmax_l2"),
      info("vec_argmax_l2", "vec_argmax_l2(vec, grp, books) - nearest code by squared L2 (score 2·x·c − ‖c‖² desc, id asc) in the row's group of a frozen codebook literal"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3)
          throw new IllegalArgumentException(
            s"vec_argmax_l2 requires 3 arguments (vec, grp, books), got ${exprs.length}")
        L2Argmax.fromLiteral(exprs(0), exprs(1), exprs(2))
      }))
    e.injectFunction((
      FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(tokens) - 60-bit md5-based SimHash of a string array"),
      (exprs: Seq[Expression]) => SimHash60(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(tokens, n) - word n-gram shingles joined by ' '"),
      (exprs: Seq[Expression]) => {
        val n = exprs(1) match {
          case Literal(v: Int, _) => v
          case other => other.eval().asInstanceOf[Int]
        }
        WordShingles(exprs(0), n)
      }))
    e.injectFunction((
      FunctionIdentifier("topk_freq"),
      info("topk_freq", "topk_freq(item, k) - approximate heavy hitters (Space-Saving)"),
      (exprs: Seq[Expression]) =>
        TopKFreq(exprs(0), exprs(1).eval().asInstanceOf[Int]).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("hist_quantile"),
      info("hist_quantile", "hist_quantile(x, q, lo, hi, bins) - mergeable binned-histogram quantile sketch"),
      (exprs: Seq[Expression]) => {
        def d(e: Expression): Double = e.eval() match {
          case v: Double => v
          case v: java.math.BigDecimal => v.doubleValue()
          case v: org.apache.spark.sql.types.Decimal => v.toDouble
          case v: Int => v.toDouble
          case v: Long => v.toDouble
        }
        HistQuantile(exprs(0), d(exprs(1)), d(exprs(2)), d(exprs(3)), exprs(4).eval().asInstanceOf[Int])
          .toAggregateExpression()
      }))
    e.injectFunction((
      FunctionIdentifier("parse_netflow_v5"),
      info("parse_netflow_v5", "parse_netflow_v5(packet) - decode a NetFlow v5 export packet"),
      (exprs: Seq[Expression]) => graft.sources.ParseNetFlowV5(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("parse_netflow_v9"),
      info("parse_netflow_v9", "parse_netflow_v9(packet) - decode a NetFlow v9 (RFC 3954) packet (template-driven)"),
      (exprs: Seq[Expression]) => graft.sources.ParseNetFlowV9(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("parse_ipfix"),
      info("parse_ipfix", "parse_ipfix(message) - decode an IPFIX (RFC 7011) message (template-driven)"),
      (exprs: Seq[Expression]) => graft.sources.ParseIpfix(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("rhp_buckets"),
      info("rhp_buckets", "rhp_buckets(vec, bits, tables, seed_stride) - all multi-table RHP-LSH buckets in one pass"),
      (exprs: Seq[Expression]) => {
        def i(e: Expression): Int = e.eval().asInstanceOf[Int]
        RhpBuckets(exprs(0), i(exprs(1)), i(exprs(2)), i(exprs(3)))
      }))
    e.injectFunction((
      FunctionIdentifier("int128_sum"),
      info("int128_sum", "int128_sum(x) - exact 128-bit integer sum of BIGINT terms (detsum fast path)"),
      (exprs: Seq[Expression]) => SumScaledInt128(exprs(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("scripted_metric"),
      info("scripted_metric", "scripted_metric(program, x) - init/map/combine/reduce programmable aggregation (ES scripted_metric)"),
      (exprs: Seq[Expression]) =>
        ScriptedMetric.forName(exprs(0).eval().toString, exprs(1)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("det_log2"),
      info("det_log2", "det_log2(c) - cross-engine-deterministic log2 of a positive integer"),
      (exprs: Seq[Expression]) => DetLog2(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("geohash_enc"),
      info("geohash_enc", "geohash_enc(lat, lon, chars) - base32 geohash cell id"),
      (exprs: Seq[Expression]) => {
        val chars = exprs(2).eval() match {
          case i: java.lang.Integer => i.intValue
          case l: java.lang.Long => l.intValue
          case other => throw new IllegalArgumentException(
            s"geohash_enc: chars must be an integer literal, got $other")
        }
        GeohashEnc(exprs(0), exprs(1), chars)
      }))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, k) - k-component MinHash signature"),
      (exprs: Seq[Expression]) => {
        val k = exprs(1) match {
          case Literal(v: Int, _) => v
          case other => other.eval().asInstanceOf[Int]
        }
        MinHashSig(exprs(0), k)
      }))
  }
}
