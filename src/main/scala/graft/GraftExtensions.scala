package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, Hash60Array, MinHashSig, PackedGrams4,
  RollingHash31, ShingleHashN, SimHash64, SortedJaccard, SumCentsExact}

/** SparkSessionExtensions hook exposing the graft codegen kernels as SQL
  * functions — `spark.sql("SELECT graft_dot(a, b) ...")` — so pure-SQL users
  * (and spark.sql.extensions config) get them without the Scala API.
  *
  * Register via:
  *   SparkSession.builder().withExtensions(new GraftExtensions) — or
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(arr1, arr2) - dot product of two double arrays"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(hashes) - K-permutation MinHash signature"),
      (children: Seq[Expression]) => MinHashSig(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(hashes) - 60-bit SimHash of a hash array"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((FunctionIdentifier("graft_sorted_jaccard"),
      info("graft_sorted_jaccard", "graft_sorted_jaccard(a, b) - jaccard of sorted distinct long arrays"),
      (children: Seq[Expression]) => SortedJaccard(children(0), children(1))))

    // kernels with scalar config: the literal argument is resolved at
    // function-binding time (foldable expressions only)
    def longArg(e: Expression, fn: String): Long = e match {
      case lit if lit.foldable =>
        lit.eval(null) match {
          case l: Long => l
          case i: Int => i.toLong
          case other => throw new IllegalArgumentException(
            s"$fn: literal integer expected, got $other")
        }
      case _ => throw new IllegalArgumentException(s"$fn: literal argument required")
    }
    ext.injectFunction((FunctionIdentifier("graft_hash60_array"),
      info("graft_hash60_array", "graft_hash60_array(strings, mod) - per-element 60-bit md5 hash (mod 0 = none)"),
      (children: Seq[Expression]) =>
        Hash60Array(children(0), longArg(children(1), "graft_hash60_array"))))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hash3"),
      info("graft_shingle_hash3", "graft_shingle_hash3(tokens, mod) - distinct 3-shingle 60-bit hashes"),
      (children: Seq[Expression]) =>
        ShingleHashN(children(0), 3, longArg(children(1), "graft_shingle_hash3"), distinct = true)))
    ext.injectFunction((FunctionIdentifier("graft_rolling_hash"),
      info("graft_rolling_hash", "graft_rolling_hash(text, seed, mod) - base-31 polynomial rolling hash"),
      (children: Seq[Expression]) => RollingHash31(children(0),
        longArg(children(1), "graft_rolling_hash"), longArg(children(2), "graft_rolling_hash"))))
    ext.injectFunction((FunctionIdentifier("graft_packed_grams4"),
      info("graft_packed_grams4", "graft_packed_grams4(text) - injectively packed char 4-grams (ASCII)"),
      (children: Seq[Expression]) => PackedGrams4(children.head)))
    // aggregate kernel: exact integer money sum on the long fast path
    ext.injectFunction((FunctionIdentifier("graft_sum_cents_exact"),
      info("graft_sum_cents_exact",
        "graft_sum_cents_exact(units) - exact int128 sum of long money units as decimal(38,0)"),
      (children: Seq[Expression]) => SumCentsExact(children.head)))
  }
}
