package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns, built
  * from codegen'd higher-order functions (`zip_with` / `aggregate`) — no
  * UDFs, no MLlib Vector boxing in the hot path.
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(v: Column): Column =
    sqrt(aggregate(asDouble(v), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity; 0.0 when either vector has zero norm. Since r15
    * this routes to the one-pass native kernel
    * ([[graft.expressions.VectorOps]]) — bit-identical to the original
    * `dot / (norm2 * norm2)` HOF spelling (same per-accumulator IEEE
    * order, same zero-norm and null/length semantics; CosineParitySpec
    * pins the equivalence), ~3 boxed tree-walks per pair cheaper in the
    * self-join hot paths.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorOps.cosine_sim(a, b)

  /** The original HOF spelling, kept as the parity-spec reference. */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm2(a) * norm2(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Exact BIGINT dot of two `array<bigint>` columns — the native kernel
    * ([[graft.expressions.LongDot]]) behind the quantized-micros pair
    * paths. Same null/length semantics as the HOF spelling
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` (LongDotParitySpec).
    */
  def dotLong(a: Column, b: Column): Column =
    graft.expressions.LongDot.dot_long(a, b)

  /** Exact BIGINT squared L2 distance of two `array<bigint>` columns — the
    * native kernel ([[graft.expressions.LongSqDist]]) behind the
    * quantized-micros replay loops. Same null/length/overflow semantics as
    * the HOF spelling `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L,
    * _+_)` (LongSqDistParitySpec).
    */
  def sqDistLong(a: Column, b: Column): Column =
    graft.expressions.LongSqDist.sq_dist_long(a, b)

  /** `array<struct<dist, cid>>`: the exact [[sqDistLong]] from `xq` to
    * each of `centers` (`(cid, cx)`), in the centers' order. The centers
    * ship as ONE array literal under one `zip_with`, so the expression
    * and the plan keep their shape whatever k or the values: a codegen'd
    * stage holds the literal as a reference object, and new centers
    * compile no new class. `xq` enters as an argument (`array_repeat`),
    * never inside the lambda, so CollapseProject cannot inline its
    * producer into the per-center body. `array_min` of the result is the
    * nearest center with ties to the smaller cid (`min(struct(dist,
    * cid))`); `sort_array` ranks them under the same order. A null
    * element in `xq` gives every center a null dist, which sorts first.
    */
  def centerDistances(xq: Column, centers: Seq[(Long, Seq[Long])]): Column =
    zip_with(array_repeat(xq, centers.size), typedLit(centers),
      (x, c) => named_struct(lit("dist"), sqDistLong(x, c("_2")), lit("cid"), c("_1")))

  /** Since r21 the Σ(Δ²) fold runs in the native kernel
    * ([[graft.expressions.PqKernels]]) — identical left-to-right IEEE
    * order, so the sqrt sees the same bits (PqKernelsParitySpec).
    */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(graft.expressions.PqKernels.sq_dist_double(asDouble(a), asDouble(b)))

  /** Sign-bit sketch of the vector against `planes` deterministic
    * pseudo-random hyperplanes: bit j = sign(dot(v, plane_j)). Returns a
    * long bucket id — equal buckets are LSH candidates for high cosine
    * similarity (random hyperplane LSH, Charikar 2002).
    */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    signBits(planes.map(plane => dot(v, array(plane.map(lit): _*)) >= 0.0))

  /** The exact-integer [[hyperplaneBucket]] over `array<bigint>` micros:
    * bit b is set when `dotLong(xq, planes(b)) >= 0`. Each plane is an
    * array literal (a codegen reference object). A null element in `xq`
    * makes every dot null, so such a vector gets bucket 0.
    */
  def hyperplaneBucketLong(xq: Column, planes: Seq[Seq[Long]]): Column =
    signBits(planes.map(plane => dotLong(xq, typedLit(plane)) >= 0L))

  /** Packs one sign test per plane into a long, bit b for plane b. */
  private def signBits(set: Seq[Column]): Column = {
    require(set.nonEmpty && set.size <= 62, "1..62 hyperplanes")
    set.zipWithIndex
      .map { case (s, b) => when(s, lit(1L << b)).otherwise(lit(0L)) }
      .reduce(_ + _)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes from a fixed seed. */
  def seededPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** [[seededPlanes]] quantized to integer micros — the literal-replayable
    * form (ships into both the Spark plan and the generated DuckDB oracle
    * as constants, so the bucket signature is exact BIGINT arithmetic).
    */
  def gaussianMicroPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Long]] =
    seededPlanes(nPlanes, dim, seed)
      .map(_.map(g => math.floor(g * 1e6 + 0.5).toLong))
}
