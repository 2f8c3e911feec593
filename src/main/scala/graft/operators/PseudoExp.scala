package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine-exact exp surrogate shared by [[GmmReplay]] and [[Doremi]]:
  * pexp(x) = (1 + x/2¹⁶)^(2¹⁶) as 16 explicit IEEE squarings — pure ·/+
  * arithmetic any IEEE-754 engine replays bit-for-bit (true exp is <1 ulp
  * per engine but not the SAME ulp; see the [[GmmReplay]] scaladoc for the
  * full rationale). ≤0.7 % from true exp at x = −30; monotone.
  */
object PseudoExp {

  val Squarings = 16
  val PexpBase: Double = (1L << Squarings).toDouble // 65536

  /** pexp(x): the seed 1 + x/2¹⁶, then 16 squarings, as one `aggregate`
    * over a constant 16-element array. The tree stays linear and
    * constant-size (a self-referencing fold of columns would build a
    * 2^16-node tree), and it nests inside a lambda: `transform(xs, pexp)`
    * is pexp of every element.
    */
  def pexp(x: Column): Column =
    aggregate(sequence(lit(1), lit(Squarings)), lit(1.0d) + x / lit(PexpBase),
      (p, _) => p * p)
}
