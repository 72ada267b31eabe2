package org.apache.spark.ml.graftshim

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.tree.impurity.VarianceCalculator

/** Tree-model bridge: the node, split and model constructors are
  * `private[ml]` (the same pattern as `org.apache.spark.sql.graftshim.GraftSession`).
  * It builds what prediction reads — splits and leaf predictions; a
  * node's impurity, gain and statistics are zero, so a rebuilt model's
  * feature importances and variance column carry no information.
  */
object GbtTrees {

  private def noStats = new VarianceCalculator(Array(0.0, 0.0, 0.0), 0L)

  def leaf(prediction: Double): Node = new LeafNode(prediction, 0.0, noStats)

  def internal(feature: Int, threshold: Double, left: Node, right: Node): Node =
    new InternalNode(0.0, 0.0, 0.0, left, right, new ContinuousSplit(feature, threshold), noStats)

  def tree(root: Node, numFeatures: Int): DecisionTreeRegressionModel =
    new DecisionTreeRegressionModel(Identifiable.randomUID("dtr"), root, numFeatures)

  def regressor(trees: Array[DecisionTreeRegressionModel], weights: Array[Double],
      numFeatures: Int): GBTRegressionModel =
    new GBTRegressionModel(Identifiable.randomUID("gbtr"), trees, weights, numFeatures)

  def classifier(trees: Array[DecisionTreeRegressionModel], weights: Array[Double],
      numFeatures: Int): GBTClassificationModel =
    new GBTClassificationModel(Identifiable.randomUID("gbtc"), trees, weights, numFeatures, 2)
}
