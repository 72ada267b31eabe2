package graft.train

import org.scalacheck.{Gen, Prop, Properties}

/** Property check of the GBT fit's partition rule over the whole row
  * range: it never shrinks as rows grow and always stays within 1..64.
  */
object FitPartitionsPropSpec extends Properties("FitPartitions") {

  /** Row counts over the small-fit steps (12.5k each), the +1 per 250k
    * steps up to the cap, and the whole Long range. */
  private val genRows: Gen[Long] = Gen.oneOf(
    Gen.choose(0L, 200000L),
    Gen.choose(0L, 20000000L),
    Gen.choose(0L, Long.MaxValue))

  property("monotone non-decreasing in rows") =
    Prop.forAll(genRows, genRows) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      Trainer.fitPartitions(lo) <= Trainer.fitPartitions(hi) &&
        (lo == Long.MaxValue || Trainer.fitPartitions(lo) <= Trainer.fitPartitions(lo + 1))
    }

  property("within 1..64") = Prop.forAll(genRows) { rows =>
    val n = Trainer.fitPartitions(rows)
    n >= 1 && n <= 64
  }
}
