package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Randomized brute-force equivalence checks for the composed
  * operators whose unit specs use hand-built fixtures — many random
  * shapes, one derived truth, zero tolerance.
  */
class OperatorPropSpec extends AnyFunSuite with SparkTestBase {

  test("resample equals per-key brute force on random sparse series") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    for (trial <- 1 to 5) {
      val rows = for {
        k <- 'a' to 'e'
        _ <- 1 to (1 + rnd.nextInt(12))
      } yield (k.toString, rnd.nextInt(200).toLong, rnd.nextInt(100) / 10.0)
      val step = 1 + rnd.nextInt(25)
      val got = Temporal.resample(rows.toDF("k", "ts", "v").repartition(4),
          Seq("k"), "ts", step.toLong, Seq("sv" -> sum(col("v"))))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getBoolean(2), r.getDouble(3)))).toMap

      // driver-side truth
      val byKey = rows.groupBy(_._1)
      val want = byKey.flatMap { case (k, es) =>
        val buckets = es.groupBy(e => math.floorDiv(e._2, step))
          .view.mapValues(_.map(_._3).sum).toMap
        val (lo, hi) = (buckets.keys.min, buckets.keys.max)
        var last = Double.NaN
        (lo to hi).map { b =>
          val obs = buckets.get(b)
          obs.foreach(v => last = v)
          (k, b * step) -> ((obs.isEmpty, last))
        }
      }
      assert(got.keySet == want.keySet, s"trial $trial: grid mismatch")
      want.foreach { case (key, (gap, v)) =>
        val (gGap, gV) = got(key)
        assert(gGap == gap && math.abs(gV - v) < 1e-9,
          s"trial $trial $key: got ($gGap,$gV) want ($gap,$v)")
      }
    }
  }

  test("capped candidates: subset of uncapped, star connectivity inside over-cap buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      // random corpus: a few dup families (identical text) of random
      // size + singletons — family sizes straddle the cap
      val fams = (1 to 4).map(f => f -> (2 + rnd.nextInt(9)))
      val rows = fams.flatMap { case (f, n) =>
        val txt = (1 to 25).map(i => s"t${f}w$i").mkString(" ")
        (1 to n).map(k => (f * 100L + k) -> txt)
      } ++ (1 to 6).map(i => (1000L + i) -> (1 to 25).map(j => s"s${i}u$j").mkString(" "))
      val signed = Dedup.withSignature(rows.toDF("doc_id", "text").repartition(3), "text").persist()
      try {
        val cap = 4L
        val unc = Dedup.candidatePairs(signed, "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val cp = Dedup.cappedCandidatePairs(signed, "doc_id", cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // star edges are real bucket co-occurrences: capped ⊆ uncapped
        assert(cp.subsetOf(unc), s"trial $trial: capped pair not in uncapped set")
        // every dup-family member stays connected to the family minimum
        // (identical docs share EVERY band bucket, so over-cap families
        // keep exactly their star; under-cap families keep all pairs)
        fams.foreach { case (f, n) =>
          val ids = (1 to n).map(f * 100L + _)
          val minId = ids.min
          ids.filter(_ != minId).foreach { m =>
            assert(cp.contains((minId, m)),
              s"trial $trial: family $f member $m lost its center edge")
          }
          if (n <= cap)
            ids.combinations(2).foreach { case Seq(a, b) =>
              assert(cp.contains((a, b)),
                s"trial $trial: under-cap family $f lost pair ($a,$b)")
            }
        }
        // singletons never pair
        assert(!cp.exists(p => p._1 > 1000L && p._2 > 1000L))
      } finally signed.unpersist(blocking = false)
    }
  }

  test("exactVerify equals brute-force Jaccard over the candidate pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    var (kept, dropped) = (0, 0)
    for (trial <- 1 to 6) {
      // a few base documents over a small vocabulary, each with
      // variants that swap or drop random words — candidate pairs
      // then span the whole Jaccard range, exact copies included
      val vocab = (1 to 40).map(i => s"w$i")
      val rows = (1 to 4).flatMap { f =>
        val base = rnd.shuffle(vocab).take(8 + rnd.nextInt(10))
        (0 to 2 + rnd.nextInt(4)).map { v =>
          val words = base.map(w => if (rnd.nextInt(8) < v) vocab(rnd.nextInt(40)) else w)
            .filter(_ => rnd.nextInt(10) > 0)
          (f * 100L + v) -> (if (words.isEmpty) base else words).mkString(" ")
        }
      }
      // thresholds on a tenths grid in [0.3, 1.0]: ties with exact
      // Jaccard values such as 3/5 and 1/1 land on the boundary
      val threshold = (3 + rnd.nextInt(8)) / 10.0
      val signed = Dedup.withSignature(rows.toDF("doc_id", "text").repartition(3), "text")
        .persist()
      try {
        val cands = Dedup.candidatePairs(signed, "doc_id")
        val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
        val got = Dedup.exactVerify(signed, cands, "doc_id", threshold)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

        // driver-side truth: Jaccard of the distinct word sets
        val words = rows.toMap.view.mapValues(_.split(" ").toSet).toMap
        val jacs = pairs.map { case (a, b) =>
          val n = (words(a) intersect words(b)).size
          (a, b, n.toDouble / (words(a) union words(b)).size)
        }
        val want = jacs.filter(_._3 >= threshold).toSet
        assert(got == want, s"trial $trial (threshold $threshold)")
        kept += want.size
        dropped += jacs.length - want.size
      } finally { signed.unpersist(blocking = false); () }
    }
    assert(kept > 0 && dropped > 0, s"vacuous corpora: kept $kept, dropped $dropped")
  }

  test("frequent pairs equal brute force on random baskets") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val rows = for {
        b <- 1 to 30
        _ <- 1 to (2 + rnd.nextInt(6))
      } yield (b.toLong, (1 + rnd.nextInt(8)).toLong)
      val minSup = 2L
      val got = Basket.frequentPairs(rows.toDF("b", "i").repartition(4),
          "b", "i", minSup)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

      val want = rows.distinct.groupBy(_._1).values
        .flatMap { items =>
          val is = items.map(_._2).distinct.sorted
          for (x <- is; y <- is if x < y) yield (x, y)
        }
        .groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= minSup).toMap
      assert(got == want, s"trial $trial")
    }
  }
}
