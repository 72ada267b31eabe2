package graft.train

import java.nio.ByteBuffer

import org.apache.spark.ml.graftshim.GbtTrees
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.InternalNode
import org.scalatest.funsuite.AnyFunSuite

/** The model.gbt codec on a hand-built two-tree ensemble: a decoded
  * file predicts bit for bit, and the reader turns every malformed
  * input into None — a published key is hostile input.
  */
class GbtFileSpec extends AnyFunSuite {

  private val numFeatures = 2
  private val trees = Array(
    GbtTrees.tree(GbtTrees.internal(0, 0.5,
      GbtTrees.leaf(1.0), GbtTrees.internal(1, -0.25, GbtTrees.leaf(-1.0), GbtTrees.leaf(0.1 + 0.2))),
      numFeatures),
    GbtTrees.tree(GbtTrees.leaf(0.25), numFeatures))
  private val weights = Array(1.0, 0.1)
  private val bytes = GbtFile.encode("""{"k":"v"}""", trees, weights, numFeatures)

  // offsets: magic 4, version "2.0" as 2 + 3, metadata 4 + 9,
  // numFeatures 4, tree count 4, then tree 0's weight 8 and root tag 1
  private val VersionAt = 6
  private val TreeCountAt = 4 + 5 + 4 + 9 + 4
  private val RootFeatureAt = TreeCountAt + 4 + 8 + 1

  private def withInt(at: Int, v: Int): Array[Byte] = {
    val b = bytes.clone()
    ByteBuffer.wrap(b).putInt(at, v)
    b
  }

  test("a decoded file predicts bit for bit and re-encodes to the same bytes") {
    val e = GbtFile.decode(bytes).get
    assert(e.metadata == """{"k":"v"}""" && e.numFeatures == numFeatures)
    assert(e.weights.sameElements(weights))
    val original = GbtTrees.regressor(trees, weights, numFeatures)
    for (x <- Seq(Vectors.dense(0.0, 0.0), Vectors.dense(1.0, -1.0), Vectors.dense(1.0, 0.0))) {
      assert(e.regressor.predict(x) == original.predict(x))
      assert(e.classifier.predictProbability(x) ==
        GbtTrees.classifier(trees, weights, numFeatures).predictProbability(x))
    }
    assert(GbtFile.encode(e.metadata, e.trees, e.weights, e.numFeatures).sameElements(bytes))
  }

  test("the reader rejects malformed input") {
    assert(GbtFile.decode(bytes).isDefined)
    // the offsets are right: in-range rewrites still decode
    assert(GbtFile.decode(withInt(TreeCountAt, 2)).isDefined)
    assert(GbtFile.decode(withInt(RootFeatureAt, 1)).get.trees(0).rootNode
      .asInstanceOf[InternalNode].split.featureIndex == 1)
    val badMagic = bytes.clone(); badMagic(0) = 'X'.toByte
    val otherVersion = bytes.clone(); otherVersion(VersionAt) = '1'.toByte
    assert(GbtFile.decode(badMagic).isEmpty, "bad magic")
    assert(GbtFile.decode(otherVersion).isEmpty, "version mismatch")
    assert(GbtFile.decode(withInt(TreeCountAt, 0)).isEmpty, "no trees")
    assert(GbtFile.decode(withInt(TreeCountAt, Int.MaxValue)).isEmpty, "tree count")
    assert(GbtFile.decode(withInt(4 + 5, Int.MaxValue)).isEmpty, "metadata length")
    assert(GbtFile.decode(withInt(RootFeatureAt, numFeatures)).isEmpty, "feature index")
    assert(GbtFile.decode(withInt(RootFeatureAt, -1)).isEmpty, "negative feature index")
    assert(GbtFile.decode(bytes :+ 0.toByte).isEmpty, "a byte left over")
    (0 until bytes.length).foreach { n =>
      assert(GbtFile.decode(bytes.take(n)).isEmpty, s"cut to $n bytes")
    }
  }
}
