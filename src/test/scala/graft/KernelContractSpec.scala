package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions._

/** Edge-case contract of every native kernel, one table row per expression
  * in functions/VectorExpressions.scala. Each row checks that
  *   - a null input gives null out;
  *   - empty arrays / strings give the documented value without throwing —
  *     or, for kernels that read a fixed number of vector elements, fail
  *     loudly (short vectors are checked too, and longer ones read only
  *     their first `dim` elements);
  *   - generated code (codegen fallback off, CODEGEN_ONLY factory, so a
  *     template that does not compile fails the test) returns exactly what
  *     the interpreted path (`eval` on Literal children) returns, bit for
  *     bit, on a seeded input set;
  *   - a `doGenCode` kernel's generated code calls its KernelLoops method,
  *     and a CodegenFallback kernel stays one.
  */
class KernelContractSpec extends GraftSuite {

  private val dArr = ArrayType(DoubleType, containsNull = false)
  private val lArr = ArrayType(LongType, containsNull = false)
  private val sArr = ArrayType(StringType, containsNull = false)

  private val init = new Random(2020)
  // centroids: C = 5 of dim 4, flat row-major
  private val dim = 4
  private val cen = Array.fill(5 * dim)(init.nextDouble() - 0.5)
  private val sumsq = Array.tabulate(5)(c => (0 until dim).map(d => cen(c * dim + d)).map(x => x * x).sum)
  // PQ: 2 cells × M = 2 subspaces × K = 3 codewords × Dsub = 2
  private val (pqM, pqK, pqD) = (2, 3, 2)
  private val pqCen = Array.fill(2 * pqM * pqK * pqD)(init.nextDouble() - 0.5)
  private val pqCc = Array.tabulate(2 * pqM * pqK)(i =>
    (0 until pqD).map(d => pqCen(i * pqD + d)).map(x => x * x).sum)
  // LSH: 3 planes × 2 tables over dim 4
  private val planes = Array.fill(3 * 2 * dim)(init.nextGaussian())
  private val merges = Array(("a", "b"), ("ab", "c"), ("t", "h"), ("th", "e"))
  private val ngWeights = Array.fill(7 * 2)(init.nextLong(1000) - 500)
  private val nbTerms = Array.fill(3 * 2)(-init.nextDouble() * 5)

  private val words = Vector("the", "a", "ab", "abc", "naïve", "日本語", "x", "")
  private def vec(r: Random, n: Int = dim): Seq[Double] = Seq.fill(n)(r.nextDouble() * 2 - 1)
  private def sortedLongs(r: Random): Seq[Long] = Seq.fill(r.nextInt(20))(r.nextLong(60)).distinct.sorted
  private def toks(r: Random): Seq[String] = Seq.fill(r.nextInt(12))(words(r.nextInt(words.size)))
  private def text(r: Random): String = toks(r).mkString(" ")
  private def hashes(r: Random): Seq[Long] = Seq.fill(r.nextInt(15))(r.nextLong(TextHash.P))

  /** With all-zero (or empty) vectors every plane dot is 0: base bucket 0,
    * the two lowest margins are planes 0 and 1.
    */
  private val zeroProbes = for (t <- 0 until 2; b <- Seq(0L, 1L, 2L, 3L)) yield Row(t, b)

  /** One kernel's contract row. `empty` is the input with every array or
    * string child empty and its documented result: `Right(value)`, or
    * `Left(message)` for a loud failure. `genCall` names the KernelLoops
    * method a doGenCode kernel's generated code calls; None marks a
    * CodegenFallback kernel.
    */
  private case class Kernel(name: String, types: Seq[DataType],
      build: Seq[Expression] => Expression, sample: Random => Seq[Any],
      empty: Option[(Seq[Any], Either[String, Any])], genCall: Option[String])

  private val kernels: Seq[Kernel] = Seq(
    Kernel("BpeCount", Seq(sArr), c => BpeCount(c(0), merges),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right(0L)), None),
    Kernel("DeflateSize", Seq(StringType), c => DeflateSize(c(0), 6),
      r => Seq(text(r)), Some(Seq("") -> Right(2L)), None),
    Kernel("SortedIntersectCount", Seq(lArr, lArr), c => SortedIntersectCount(c(0), c(1)),
      r => Seq(sortedLongs(r), sortedLongs(r)), Some(Seq(Nil, Nil) -> Right(0L)),
      Some("intersectCount")),
    Kernel("MaxTokenFreq", Seq(sArr), c => MaxTokenFreq(c(0)),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right(0L)), None),
    Kernel("NgramLangScores", Seq(StringType),
      c => NgramLangScores(c(0), ngWeights, Array(-5L, -9L), 7),
      r => Seq(text(r)), Some(Seq("") -> Right(Seq(-5L, -9L))), None),
    Kernel("QuantileCode16", Seq(LongType), c => QuantileCode16(c(0), Array(-10L, 0L, 5L, 100L)),
      r => Seq(r.nextLong(300) - 150), None, None),
    Kernel("Interleave16", Seq(LongType, LongType), c => Interleave16(c(0), c(1)),
      r => Seq(r.nextLong(1L << 16), r.nextLong(1L << 16)), None, None),
    Kernel("InterleaveBits", Seq(LongType, LongType, LongType), c => InterleaveBits(c, 16),
      r => Seq.fill(3)(r.nextLong(1L << 16)), None, None),
    Kernel("NearestCellExpr", Seq(dArr), c => NearestCellExpr(c(0), cen, sumsq, dim),
      r => Seq(vec(r)), Some(Seq(Nil) -> Left("nearest_cell: vector has 0 elements, needs 4")),
      None),
    Kernel("NearestCellsExpr", Seq(dArr), c => NearestCellsExpr(c(0), cen, sumsq, dim, 3),
      r => Seq(vec(r)), Some(Seq(Nil) -> Left("nearest_cells: vector has 0 elements, needs 4")),
      None),
    Kernel("LshTableBuckets", Seq(dArr), c => LshTableBuckets(c(0), planes, 3, 2),
      r => Seq(vec(r)), Some(Seq(Nil) -> Right(Seq(0L, 0L))), None),
    Kernel("MultiProbeBuckets", Seq(dArr), c => MultiProbeBuckets(c(0), planes, 3, 2),
      r => Seq(vec(r)), Some(Seq(Nil) -> Right(zeroProbes)), None),
    Kernel("ShingleHashN", Seq(sArr), c => ShingleHashN(c(0), 3, TextHash.P, distinct = true),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right(null)), None),
    Kernel("ShingleHashN n=2 per position", Seq(sArr),
      c => ShingleHashN(c(0), 2, 0L, distinct = false),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right(null)), None),
    Kernel("SubCentroid", Seq(dArr, IntegerType), c => SubCentroid(c(0), c(1), cen, dim),
      r => Seq(vec(r), r.nextInt(5)),
      Some(Seq(Nil, 0) -> Left("sub_centroid: vector has 0 elements, needs 4")), None),
    Kernel("NbArgmax", Seq(sArr),
      c => NbArgmax(c(0), Array("a", "ab", "the"), Array("x", "y"), nbTerms, Array(-3.0, -2.5)),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right("x")), None),
    Kernel("Hash60Array", Seq(sArr), c => Hash60Array(c(0), 0L),
      r => Seq(toks(r)), Some(Seq(Nil) -> Right(Nil)), None),
    Kernel("RollingHash31", Seq(StringType), c => RollingHash31(c(0), 7L, TextHash.P),
      r => Seq(text(r)), Some(Seq("") -> Right(7L)), Some("rollingHash31")),
    Kernel("PqDtab", Seq(dArr), c => PqDtab(c(0), pqCen, pqCc, pqM, pqK, pqD),
      r => Seq(vec(r)), Some(Seq(Nil) -> Left("pq_dtab: vector has 0 elements, needs 4")),
      Some("pqDtab")),
    Kernel("AdcSum", Seq(ArrayType(lArr, containsNull = false), ArrayType(IntegerType, containsNull = false)),
      c => AdcSum(c(0), c(1)),
      r => Seq(Seq.fill(pqM)(Seq.fill(pqK)(r.nextLong(1000000))), Seq.fill(pqM)(r.nextInt(pqK))),
      Some(Seq(Nil, Nil) -> Right(0L)), Some("adcSum")),
    Kernel("PqEncodeCell", Seq(dArr, IntegerType),
      c => PqEncodeCell(c(0), c(1), pqCen, pqCc, pqM, pqK, pqD),
      r => Seq(vec(r), r.nextInt(2)),
      Some(Seq(Nil, 1) -> Left("pq_encode: vector has 0 elements, needs 4")), Some("pqEncode")),
    Kernel("PqEncodeCell cell 0 (the pqEncode facade)", Seq(dArr),
      c => PqEncodeCell(c(0), Literal(0), pqCen, pqCc, pqM, pqK, pqD),
      r => Seq(vec(r)), Some(Seq(Nil) -> Left("pq_encode: vector has 0 elements, needs 4")),
      Some("pqEncode")),
    Kernel("PackedGrams4", Seq(StringType), c => PackedGrams4(c(0)),
      r => Seq(text(r)), Some(Seq("") -> Right(Nil)), None),
    Kernel("SortedGramInts", Seq(StringType), c => SortedGramInts(c(0)),
      r => Seq(text(r)), Some(Seq("") -> Right(Nil)), None),
    Kernel("SortedJaccard", Seq(lArr, lArr), c => SortedJaccard(c(0), c(1)),
      r => Seq(sortedLongs(r), sortedLongs(r)), Some(Seq(Nil, Nil) -> Right(0.0)),
      Some("sortedJaccard")),
    Kernel("DotProduct", Seq(dArr, dArr), c => DotProduct(c(0), c(1)),
      r => Seq(vec(r, r.nextInt(6)), vec(r, r.nextInt(6))), Some(Seq(Nil, Nil) -> Right(0.0)),
      Some("dot")),
    Kernel("MinHashSig", Seq(lArr), c => MinHashSig(c(0)),
      r => Seq(hashes(r)), Some(Seq(Nil) -> Right(null)), Some("minhashSig")),
    Kernel("SimHash64", Seq(lArr), c => SimHash64(c(0)),
      r => Seq(hashes(r)), Some(Seq(Nil) -> Right(0L)), Some("simhash64")))

  /** Bit-exact comparable form: doubles by their bits (so −0.0 ≠ 0.0 and
    * NaN == NaN), rows and arrays as lists.
    */
  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => ("f64", java.lang.Double.doubleToLongBits(d))
    case r: Row => r.toSeq.map(canon).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case other => other
  }

  private def interpreted(k: Kernel, in: Seq[Any]): Any = {
    val e = k.build(in.zip(k.types).map { case (v, t) => Literal.create(v, t) })
    CatalystTypeConverters.convertToScala(e.eval(null), e.dataType)
  }

  private def codegenOnly[T](f: => T): T = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try f
    finally saved.foreach { case (key, v) => v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  /** The kernel over non-literal columns of an RDD-backed frame (a local
    * Seq frame would be constant-folded by the interpreted
    * ConvertToLocalRelation), under whole-stage codegen with no fallback.
    * Returns the results and the generated code.
    */
  private def generated(k: Kernel, inputs: Seq[Seq[Any]]): (Seq[Any], String) = codegenOnly {
    val schema = StructType(k.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row.fromSeq), 2), schema)
    val out = df.select(ColumnBridge.column(
      k.build(k.types.indices.map(i => ColumnBridge.expression(col(s"c$i"))))).as("out"))
    val plan = out.queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
      s"${k.name} left whole-stage codegen:\n$plan")
    (out.collect().map(_.get(0)).toSeq,
      org.apache.spark.sql.execution.debug.codegenString(plan))
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

  private def assertFailsLoudly(k: Kernel, in: Seq[Any], msg: String): Unit = {
    val i = intercept[IllegalArgumentException](interpreted(k, in))
    assert(i.getMessage.contains(msg), s"${k.name} interpreted: ${i.getMessage}")
    val g = intercept[Exception](generated(k, Seq(in)))
    assert(messages(g).exists(_.contains(msg)), s"${k.name} codegen: ${messages(g)}")
  }

  test("the contract table has one row per expression in VectorExpressions.scala") {
    val src = Files.readString(Paths.get("src/main/scala/graft/functions/VectorExpressions.scala"))
    val declared = """(?m)^case class (\w+)""".r.findAllMatchIn(src).map(_.group(1)).toSet
    assert(kernels.map(_.name.takeWhile(_ != ' ')).toSet == declared)
  }

  kernels.foreach { k =>
    test(s"${k.name}: null in gives null, empty gives the documented value, codegen == interpreted") {
      val rnd = new Random(k.name.hashCode)
      val seeded = Seq.fill(40)(k.sample(rnd))
      val nulls = k.types.indices.map(i => seeded.head.updated(i, null))
      val emptyOk = k.empty.collect { case (in, Right(out)) => in -> out }
      val inputs = nulls ++ emptyOk.map(_._1) ++ seeded
      val expected = inputs.map(in => canon(interpreted(k, in)))
      nulls.foreach(in => assert(interpreted(k, in) == null, s"null input $in"))
      emptyOk.foreach { case (in, out) =>
        assert(canon(interpreted(k, in)) == canon(out), s"empty input $in")
      }
      val (got, code) = generated(k, inputs)
      inputs.zip(got.map(canon)).zip(expected).foreach { case ((in, g), e) =>
        assert(g == e, s"codegen diverges from interpreted on $in")
      }
      val fallback = k.build(k.types.map(t => Literal.create(null, t))).isInstanceOf[CodegenFallback]
      assert(fallback == k.genCall.isEmpty, s"${k.name} changed its CodegenFallback choice")
      k.genCall.foreach(m => assert(code.contains(s"graft.functions.KernelLoops.$m("),
        s"${k.name}'s generated code does not call KernelLoops.$m"))
      k.empty.collect { case (in, Left(msg)) =>
        assertFailsLoudly(k, in, msg)
        // a short vector fails the same way; a longer one reads only the
        // first `dim` elements
        val v = seeded.head.head.asInstanceOf[Seq[Double]]
        assertFailsLoudly(k, seeded.head.updated(0, v.take(2)),
          msg.replace("has 0 elements", "has 2 elements"))
        val longer = seeded.head.updated(0, v ++ Seq(9.0, -9.0))
        val want = canon(interpreted(k, seeded.head))
        assert(canon(interpreted(k, longer)) == want)
        assert(canon(generated(k, Seq(longer))._1.head) == want)
      }
    }
  }

  private def pinned(name: String, types: Seq[DataType], build: Seq[Expression] => Expression,
      in: Seq[Any], want: Any): Unit = {
    val k = Kernel(name, types, build, _ => in, None, None)
    assert(canon(interpreted(k, in)) == canon(want), s"$name interpreted")
    assert(canon(generated(k, Seq(in))._1.head) == canon(want), s"$name codegen")
  }

  test("centroid kernels: +-0.0 ties keep the lower cid; -0.0 sorts before 0.0 in the probe order") {
    // c0 = (1,0,0,0), c1 = (0,0,0,0), c2 = (−0,0,0,0): from e = (−0,0,0,0)
    // c1 and c2 are both at +0.0 (a distance is never −0.0, see
    // KernelLoops.centroidDists), c0 at 1
    val zc = Array(1.0, 0, 0, 0, 0.0, 0, 0, 0, -0.0, 0, 0, 0)
    val zs = Array(1.0, 0.0, 0.0)
    val e = Seq(-0.0, 0.0, 0.0, 0.0)
    pinned("NearestCellExpr ±0", Seq(dArr), c => NearestCellExpr(c(0), zc, zs, 4), Seq(e), Row(1, 0.0))
    pinned("NearestCellsExpr ±0", Seq(dArr), c => NearestCellsExpr(c(0), zc, zs, 4, 3), Seq(e),
      Seq(1, 2, 0))
    // the probe order itself: Double.compare puts −0.0 first and NaN last
    assert(KernelLoops.smallestFirst(Array(0.0, -0.0, Double.NaN, 0.0, -1.0), 5).toSeq ==
      Seq(4, 1, 0, 3, 2))
    assert(KernelLoops.smallestFirst(Array(0.0, -0.0), 1).toSeq == Seq(1))
  }

  test("NaN inputs: today's outputs are pinned on both paths") {
    val nan = Double.NaN
    val e = Seq(nan, 0.0, nan, 0.0)
    // every distance is NaN: strict < never fires, so cid 0 at +∞
    pinned("NearestCellExpr NaN", Seq(dArr), c => NearestCellExpr(c(0), cen, sumsq, dim), Seq(e),
      Row(0, Double.PositiveInfinity))
    // NaN == NaN under Double.compare: ties to the lower cid
    pinned("NearestCellsExpr NaN", Seq(dArr), c => NearestCellsExpr(c(0), cen, sumsq, dim, 5), Seq(e),
      Seq(0, 1, 2, 3, 4))
    pinned("PqEncodeCell NaN", Seq(dArr), c => PqEncodeCell(c(0), Literal(1), pqCen, pqCc, pqM, pqK, pqD),
      Seq(e), Seq(0, 0))
    // (long) floor(NaN) is 0
    pinned("PqDtab NaN", Seq(dArr), c => PqDtab(c(0), pqCen, pqCc, pqM, pqK, pqD), Seq(e),
      Seq(Seq(0L, 0L, 0L), Seq(0L, 0L, 0L)))
    // NaN dots are not > 0, and compare equal: the all-zero vector's probes
    pinned("LshTableBuckets NaN", Seq(dArr), c => LshTableBuckets(c(0), planes, 3, 2), Seq(e),
      Seq(0L, 0L))
    pinned("MultiProbeBuckets NaN", Seq(dArr), c => MultiProbeBuckets(c(0), planes, 3, 2), Seq(e),
      zeroProbes)
    pinned("DotProduct NaN", Seq(dArr, dArr), c => DotProduct(c(0), c(1)), Seq(e, e), nan)
    pinned("SubCentroid NaN", Seq(dArr, IntegerType), c => SubCentroid(c(0), c(1), cen, dim),
      Seq(e, 0), Seq(nan, -cen(1), nan, -cen(3)))
  }

  test("LSH kernels: a null vector yields no bucket rows (documented contract)") {
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("label", StringType),
      StructField("e", dArr)))
    val v = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a", Seq.tabulate(64)(i => math.sin(i + 1.0))), Row(2L, "b", null))), schema)
    val b = operators.Ann.lshBucketsOf(v, 4, 8)
    assert(b.where(col("vec_id") === 1L).count() == 8, "one bucket row per table")
    assert(b.where(col("vec_id") === 2L).count() == 0, "a null vector has no bucket rows")
    val probes = v.select(col("vec_id"), explode(VectorExpressions.multiProbeBuckets(
      col("e"), operators.Ann.planesArray(4, 8), 4, 8)))
    assert(probes.where(col("vec_id") === 1L).count() == 32, "4 probes per table")
    assert(probes.where(col("vec_id") === 2L).count() == 0, "a null vector has no probe rows")
  }
}
