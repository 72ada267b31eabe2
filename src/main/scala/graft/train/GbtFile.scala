package graft.train

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.graftshim.GbtTrees
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}

/** `model.gbt`: one self-describing file per GBT artifact, written and
  * read on the driver (no Spark job). Layout, big-endian:
  *
  *   magic, version (modified UTF-8), metadata (int length + UTF-8 JSON),
  *   numFeatures, tree count, then per tree its weight and its nodes in
  *   preorder: a leaf is byte 0 + prediction; an internal node is byte 1
  *   + feature index + threshold, then its left and right subtrees.
  *
  * Doubles travel as raw bits and leaves are not folded into the tree
  * weight, so a decoded model predicts bit-identically. A published file
  * is hostile input: [[decode]] accepts only a whole, well-formed file of
  * this version.
  */
private[train] object GbtFile {

  val Name = "model.gbt"

  private val Magic = 0x47425446 // "GBTF"
  private val Leaf: Byte = 0
  private val Internal: Byte = 1
  /** MLlib's own cap on tree depth; bounds the decoder's recursion. */
  private val MaxDepth = 30
  /** The fewest bytes a tree takes: its weight and one leaf. */
  private val MinTreeBytes = 8 + 1 + 8

  final case class Ensemble(metadata: String, numFeatures: Int,
      trees: Array[DecisionTreeRegressionModel], weights: Array[Double]) {
    def regressor: GBTRegressionModel = GbtTrees.regressor(trees, weights, numFeatures)
    def classifier: GBTClassificationModel = GbtTrees.classifier(trees, weights, numFeatures)
  }

  def encode(metadata: String, trees: Array[DecisionTreeRegressionModel],
      weights: Array[Double], numFeatures: Int): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    def node(n: Node): Unit = n match {
      case leaf: LeafNode =>
        out.writeByte(Leaf)
        out.writeLong(doubleToRawLongBits(leaf.prediction))
      case in: InternalNode => in.split match {
        case s: ContinuousSplit =>
          out.writeByte(Internal)
          out.writeInt(s.featureIndex)
          out.writeLong(doubleToRawLongBits(s.threshold))
          node(in.leftChild)
          node(in.rightChild)
        case other => throw new IllegalArgumentException(
          s"model.gbt holds continuous splits only, got ${other.getClass.getSimpleName}")
      }
      case other => throw new IllegalArgumentException(s"unexpected node type ${other.getClass}")
    }
    out.writeInt(Magic)
    out.writeUTF(ModelStore.Version)
    val meta = metadata.getBytes(UTF_8)
    out.writeInt(meta.length)
    out.write(meta)
    out.writeInt(numFeatures)
    out.writeInt(trees.length)
    trees.zip(weights).foreach { case (t, w) =>
      out.writeLong(doubleToRawLongBits(w))
      node(t.rootNode)
    }
    out.flush()
    buf.toByteArray
  }

  /** The ensemble in `bytes`, or None on a bad magic, another version, a
    * count out of range, a feature index outside the model, or bytes
    * missing or left over.
    */
  def decode(bytes: Array[Byte]): Option[Ensemble] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def fail(what: String): Nothing = throw new java.io.IOException(s"model.gbt: $what")
    def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
    try {
      check(in.readInt() == Magic, "bad magic")
      val version = in.readUTF()
      check(version == ModelStore.Version, s"version $version")
      val metaLen = in.readInt()
      check(metaLen >= 0 && metaLen <= in.available(), s"metadata length $metaLen")
      val meta = new Array[Byte](metaLen)
      in.readFully(meta)
      val numFeatures = in.readInt()
      check(numFeatures > 0, s"feature count $numFeatures")
      val numTrees = in.readInt()
      check(numTrees > 0 && numTrees <= in.available() / MinTreeBytes, s"tree count $numTrees")
      def node(depth: Int): Node = in.readByte() match {
        case Leaf => GbtTrees.leaf(longBitsToDouble(in.readLong()))
        case Internal =>
          check(depth < MaxDepth, s"depth over $MaxDepth")
          val feature = in.readInt()
          check(feature >= 0 && feature < numFeatures, s"feature index $feature")
          val threshold = longBitsToDouble(in.readLong())
          val left = node(depth + 1)
          GbtTrees.internal(feature, threshold, left, node(depth + 1))
        case tag => fail(s"node tag $tag")
      }
      val weights = new Array[Double](numTrees)
      val trees = Array.tabulate(numTrees) { i =>
        weights(i) = longBitsToDouble(in.readLong())
        GbtTrees.tree(node(0), numFeatures)
      }
      check(in.available() == 0, s"${in.available()} bytes left over")
      Some(Ensemble(new String(meta, UTF_8), numFeatures, trees, weights))
    } catch { case _: java.io.IOException => None }
  }
}
