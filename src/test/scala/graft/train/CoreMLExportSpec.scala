package graft.train

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.GBTRegressor
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Wire-level round-trip of the hand-rolled CoreML encoder: a generic
  * protobuf decoder (written here, independent of the writer) parses
  * the emitted bytes, rebuilds the tree ensemble, and re-evaluates it
  * against `GBTRegressionModel.predict` on random inputs. This pins
  * the tree semantics, feature order, node wiring, and metadata —
  * everything except Apple's field numbering itself, which is
  * transcribed from the public spec (offline container, no Apple
  * tooling; boundary documented in CoreMLExport).
  */
class CoreMLExportSpec extends AnyFunSuite with SparkTestBase {

  // ---- generic protobuf wire decoder -------------------------------------

  sealed trait PbVal
  case class PbInt(v: Long) extends PbVal
  case class PbFix64(bits: Long) extends PbVal
  case class PbBytes(b: Array[Byte]) extends PbVal

  private def decode(b: Array[Byte]): Seq[(Int, PbVal)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, PbVal)]()
    var i = 0
    def varint(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val byte = b(i) & 0xff; i += 1
        v |= (byte & 0x7fL) << shift; shift += 7; more = (byte & 0x80) != 0
      }
      v
    }
    while (i < b.length) {
      val key = varint()
      val field = (key >>> 3).toInt
      (key & 7L).toInt match {
        case 0 => out += field -> PbInt(varint())
        case 1 =>
          var bits = 0L
          (0 until 8).foreach(k => { bits |= (b(i) & 0xffL) << (8 * k); i += 1 })
          out += field -> PbFix64(bits)
        case 2 =>
          val len = varint().toInt
          out += field -> PbBytes(b.slice(i, i + len)); i += len
        case w => fail(s"unexpected wire type $w for field $field")
      }
    }
    out.toSeq
  }

  private def sub(fields: Seq[(Int, PbVal)], n: Int): Seq[Seq[(Int, PbVal)]] =
    fields.collect { case (`n`, PbBytes(b)) => decode(b) }
  private def one(fields: Seq[(Int, PbVal)], n: Int): Seq[(Int, PbVal)] = {
    val s = sub(fields, n); assert(s.size == 1, s"field $n count ${s.size}"); s.head
  }
  private def str(fields: Seq[(Int, PbVal)], n: Int): String =
    fields.collect { case (`n`, PbBytes(b)) => new String(b, "UTF-8") }.head
  private def long(fields: Seq[(Int, PbVal)], n: Int, default: Long = 0L): Long =
    fields.collectFirst { case (`n`, PbInt(v)) => v }.getOrElse(default)
  private def dbl(fields: Seq[(Int, PbVal)], n: Int): Double =
    fields.collectFirst { case (`n`, PbFix64(v)) => java.lang.Double.longBitsToDouble(v) }
      .getOrElse(0.0)

  // ---- decoded ensemble evaluator ----------------------------------------

  private case class DNode(behavior: Long, featIdx: Int, threshold: Double,
      trueChild: Long, falseChild: Long, leafValue: Double)

  private def evalEnsemble(nodes: Map[(Long, Long), DNode], base: Double,
      x: Array[Double]): Double = {
    val treeIds = nodes.keys.map(_._1).toSeq.distinct.sorted
    base + treeIds.map { t =>
      var id = 0L
      var n = nodes((t, id))
      while (n.behavior != 6L) {
        id = if (x(n.featIdx) <= n.threshold) n.trueChild else n.falseChild
        n = nodes((t, id))
      }
      n.leafValue
    }.sum
  }

  // ---- fixture: a real trained GBT ---------------------------------------

  private lazy val (model, featureNames) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { _ =>
      val a = rnd.nextDouble() * 4 - 2
      val b = rnd.nextDouble() * 4 - 2
      val c = rnd.nextDouble()
      (a, b, c, a * a - 2 * b + (if (c > 0.5) 1.5 else -0.5) + rnd.nextGaussian() * 0.05)
    }.toDF("fa", "fb", "fc", "label")
    val assembled = new VectorAssembler()
      .setInputCols(Array("fa", "fb", "fc")).setOutputCol("features")
      .transform(rows)
    val m = new GBTRegressor().setMaxIter(5).setMaxDepth(4).setSeed(11L)
      .fit(assembled)
    (m, Seq("fa", "fb", "fc"))
  }

  test("emitted bytes decode to the exact model shape (spec fields)") {
    val bytes = CoreMLExport.toMlModelBytes(model, featureNames,
      Map("k1" -> "v1", "k2" -> "v2"))
    val root = decode(bytes)
    assert(long(root, 1) == 1L, "specificationVersion")
    val desc = one(root, 2)
    assert(sub(desc, 1).map(str(_, 1)) == featureNames, "input feature order")
    assert(str(one(desc, 10), 1) == "prediction")
    assert(str(desc, 11) == "prediction")
    val meta = one(desc, 100)
    val userDefined = sub(meta, 100)
      .map(kv => str(kv, 1) -> str(kv, 2)).toMap
    assert(userDefined == Map("k1" -> "v1", "k2" -> "v2"))
    // every input declares a double feature type
    sub(desc, 1).foreach(fd => assert(sub(one(fd, 3), 2).size == 1))
    val ens = one(one(root, 302), 1)
    assert(long(ens, 2) == 1L, "numPredictionDimensions")
    val nNodes = sub(ens, 1).size
    val expectedNodes = model.trees.map(t => t.numNodes).sum
    assert(nNodes == expectedNodes, s"node count $nNodes vs $expectedNodes")
  }

  test("decoded ensemble re-evaluates to GBT predictions exactly") {
    val bytes = CoreMLExport.toMlModelBytes(model, featureNames, Map.empty)
    val ens = one(one(decode(bytes), 302), 1)
    val nodes = sub(ens, 1).map { n =>
      val behavior = long(n, 3)
      (long(n, 1), long(n, 2)) -> DNode(
        behavior, long(n, 10).toInt, dbl(n, 11), long(n, 12), long(n, 13),
        if (behavior == 6L) {
          val ev = one(n, 20); assert(long(ev, 1) == 0L); dbl(ev, 2)
        } else 0.0)
    }.toMap
    // packed basePredictionValue = [0.0]: one length-delimited field 3
    // carrying exactly 8 zero bytes (a single little-endian double 0.0)
    val baseRaw = ens.collect { case (3, PbBytes(b)) => b }
    assert(baseRaw.size == 1 && baseRaw.head.length == 8 &&
      baseRaw.head.forall(_ == 0), "basePredictionValue packed [0.0]")
    val base = 0.0
    val rnd = new scala.util.Random(23)
    (1 to 200).foreach { _ =>
      val x = Array(rnd.nextDouble() * 6 - 3, rnd.nextDouble() * 6 - 3, rnd.nextDouble())
      val want = model.predict(Vectors.dense(x))
      val got = evalEnsemble(nodes, base, x)
      assert(math.abs(got - want) < 1e-9, s"x=${x.toSeq}: got $got want $want")
    }
  }

  test("saveDecisionModel embeds the model.gbt metadata in the .mlmodel") {
    val dir = java.nio.file.Files.createTempDirectory("coreml_meta").toString + "/latest"
    ModelStore.saveDecisionModel(Trainer.DecisionModel(model, featureNames,
      Map("fa" -> Seq(1L, 2L)), 5L, 0.25, 1.5), dir)
    val desc = one(decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, CoreMLExport.MlModelFile))), 2)
    val embedded = sub(one(desc, 100), 100)
      .map(kv => str(kv, 1) -> str(kv, 2)).toMap
      .apply("graft.metadata")
    val inGbt = GbtFile.decode(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, GbtFile.Name))).get.metadata
    assert(embedded == inGbt)
    assert(inGbt.contains("\"reward_std\":1.5"))
  }

  test("export rejects a feature-name/arity mismatch loudly") {
    intercept[IllegalArgumentException] {
      CoreMLExport.toMlModelBytes(model, Seq("only_one"), Map.empty)
    }
  }
}
