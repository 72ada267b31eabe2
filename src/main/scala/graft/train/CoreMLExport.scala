package graft.train

import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}

/** CoreML `.mlmodel` export of the decision GBT — the reference's
  * final artifact for on-device consumers
  * (model_utils.py:275-321 converts its XGBoost booster with
  * coremltools in `MLMODEL_REGRESSOR_MODE` and appends the
  * string-table/seed metadata; unpack_models.py publishes it).
  *
  * This encodes the SAME semantic payload — a tree-ensemble regressor
  * whose prediction is Σ_m weight_m · leaf_m(x) over double features,
  * plus the user-defined metadata dictionary — directly in the CoreML
  * protobuf container per Apple's PUBLIC model specification
  * (github.com/apple/coremltools: Model.proto, TreeEnsemble.proto;
  * specification version 1 suffices for tree ensembles). The writer is
  * ~60 lines of protobuf wire format (varint / fixed64 / length-
  * delimited), so no protobuf dependency is needed.
  *
  * Validation boundary, documented honestly: Apple tooling cannot run
  * in this offline JVM container, so conformance is established by
  * (a) field numbers/layout transcribed from the public spec, and
  * (b) an in-repo wire-level decoder (CoreMLExportSpec) that parses
  * the emitted bytes back generically and re-evaluates the decoded
  * ensemble against `GBTRegressionModel.predict` on random inputs —
  * the tree semantics, feature order, and metadata round-trip exactly.
  */
object CoreMLExport {

  /** Minimal protobuf wire-format writer (proto3 conventions: scalar
    * defaults omitted, nested messages length-delimited).
    */
  final class ProtoWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    def toBytes: Array[Byte] = buf.toByteArray
    private def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { buf.write(((x & 0x7fL) | 0x80L).toInt); x >>>= 7 }
      buf.write(x.toInt)
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def uint(field: Int, v: Long): Unit = if (v != 0) { tag(field, 0); varint(v) }
    def bool(field: Int, v: Boolean): Unit = if (v) uint(field, 1)
    def double(field: Int, v: Double): Unit = if (v != 0.0) {
      tag(field, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => buf.write(((bits >>> (8 * i)) & 0xff).toInt))
    }
    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length)
    }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    def message(field: Int)(f: ProtoWriter => Unit): Unit = {
      val w = new ProtoWriter; f(w); bytes(field, w.toBytes)
    }
    /** packed repeated double (proto3 default packing). */
    def packedDoubles(field: Int, vs: Seq[Double]): Unit = {
      val w = new ProtoWriter
      vs.foreach { v =>
        val bits = java.lang.Double.doubleToLongBits(v)
        (0 until 8).foreach(i => w.buf.write(((bits >>> (8 * i)) & 0xff).toInt))
      }
      bytes(field, w.toBytes)
    }
  }

  // Model.proto field numbers (public spec)
  private val SpecificationVersion = 1
  private val Description = 2
  private val TreeEnsembleRegressorField = 302
  // ModelDescription
  private val Input = 1
  private val Output = 10
  private val PredictedFeatureName = 11
  private val MetadataField = 100
  // FeatureDescription / FeatureType
  private val FdName = 1
  private val FdType = 3
  private val FtDouble = 2
  // Metadata
  private val MetaShortDescription = 1
  private val MetaUserDefined = 100
  // TreeEnsembleRegressor / TreeEnsembleParameters / TreeNode
  private val TreeEnsembleField = 1
  private val Nodes = 1
  private val NumPredictionDimensions = 2
  private val BasePredictionValue = 3
  private val NTreeId = 1
  private val NNodeId = 2
  private val NBehavior = 3
  private val NBranchFeatureIndex = 10
  private val NBranchFeatureValue = 11
  private val NTrueChild = 12
  private val NFalseChild = 13
  private val NEvaluationInfo = 20
  private val EvalIndex = 1
  private val EvalValue = 2
  // TreeNodeBehavior enum
  private val BranchOnValueLessThanEqual = 0L
  private val LeafNodeBehavior = 6L

  /** Encode the decision model as `.mlmodel` bytes. Prediction
    * semantics: CoreML sums each visited leaf's evaluation value over
    * all trees (no post-transform); leaves carry weight·prediction, so
    * the result equals `GBTRegressionModel.predict` exactly.
    */
  def toMlModelBytes(model: GBTRegressionModel, featureNames: Seq[String],
      userDefined: Map[String, String]): Array[Byte] = {
    require(featureNames.size == model.numFeatures,
      s"feature names (${featureNames.size}) != model features (${model.numFeatures})")
    val root = new ProtoWriter
    root.uint(SpecificationVersion, 1L)
    root.message(Description) { d =>
      featureNames.foreach { fn =>
        d.message(Input) { f =>
          f.string(FdName, fn)
          f.message(FdType)(_.message(FtDouble)(_ => ()))
        }
      }
      d.message(Output) { f =>
        f.string(FdName, "prediction")
        f.message(FdType)(_.message(FtDouble)(_ => ()))
      }
      d.string(PredictedFeatureName, "prediction")
      d.message(MetadataField) { m =>
        m.string(MetaShortDescription, "graft decision model (tree ensemble regressor)")
        userDefined.toSeq.sortBy(_._1).foreach { case (k, v) =>
          m.message(MetaUserDefined) { kv => kv.string(1, k); kv.string(2, v) }
        }
      }
    }
    root.message(TreeEnsembleRegressorField) { reg =>
      reg.message(TreeEnsembleField) { ens =>
        model.trees.zip(model.treeWeights).zipWithIndex.foreach {
          case ((tree, weight), treeId) =>
            writeTree(ens, treeId.toLong, tree.rootNode, weight)
        }
        ens.uint(NumPredictionDimensions, 1L)
        ens.packedDoubles(BasePredictionValue, Seq(0.0))
      }
      // postEvaluationTransform: NoTransform = 0 (omitted)
    }
    root.toBytes
  }

  /** BFS node numbering; emits one TreeNode message per node. Spark's
    * ContinuousSplit goes LEFT when feature <= threshold, which is
    * exactly CoreML's BranchOnValueLessThanEqual true-branch.
    */
  private def writeTree(ens: ProtoWriter, treeId: Long, root: Node,
      weight: Double): Unit = {
    val ids = new java.util.IdentityHashMap[Node, Long]()
    val queue = scala.collection.mutable.Queue[Node](root)
    var next = 0L
    ids.put(root, { val i = next; next += 1; i })
    val ordered = scala.collection.mutable.ArrayBuffer[Node]()
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      ordered += n
      n match {
        case in: InternalNode =>
          Seq(in.leftChild, in.rightChild).foreach { c =>
            ids.put(c, { val i = next; next += 1; i })
            queue.enqueue(c)
          }
        case _ => ()
      }
    }
    ordered.foreach { n =>
      ens.message(Nodes) { w =>
        w.uint(NTreeId, treeId)
        w.uint(NNodeId, ids.get(n))
        n match {
          case in: InternalNode =>
            val split = in.split match {
              case c: ContinuousSplit => c
              case _: CategoricalSplit => throw new IllegalArgumentException(
                "CoreML export supports continuous splits only (the graft " +
                  "feature vector is fully numeric; categorical metadata " +
                  "would need TreeNode set-membership behaviors)")
            }
            w.uint(NBehavior, BranchOnValueLessThanEqual)
            w.uint(NBranchFeatureIndex, split.featureIndex.toLong)
            w.double(NBranchFeatureValue, split.threshold)
            w.uint(NTrueChild, ids.get(in.leftChild))
            w.uint(NFalseChild, ids.get(in.rightChild))
          case leaf: LeafNode =>
            w.uint(NBehavior, LeafNodeBehavior)
            w.message(NEvaluationInfo) { e =>
              e.uint(EvalIndex, 0L)
              e.double(EvalValue, weight * leaf.prediction)
            }
          case other => throw new IllegalArgumentException(
            s"unexpected node type ${other.getClass}")
        }
      }
    }
  }

  /** Artifact filename inside the decision-model directory. */
  val MlModelFile = "model.mlmodel"

  /** The userDefined key of the artifact's metadata JSON (the same JSON
    * its model.gbt holds). */
  val MetadataKey = "graft.metadata"
}
