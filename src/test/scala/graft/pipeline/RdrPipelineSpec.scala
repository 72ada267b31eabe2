package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.ingest.PartitionStore
import graft.train.Trainer

/** The user-facing chain entry point (trainFromStore) against a
  * caller-owned ON-DISK store: the store location is a parameter, not
  * a temp dir, so one store serves many training invocations — and a
  * phase-1 checkpoint written by the first run warm-starts the second
  * (reference checkpoint.py:26-110).
  */
class RdrPipelineSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = Trainer.TrainConfig(
    maxFeatures = 6, pruneMinStringCount = 0, maxTrees = 2,
    propensityTrees = 2, treeDepth = 2, seed = 7L)

  /** A small rewarded-decision store: 120 decisions over 2 minutes,
    * JSON items with a categorical + numeric feature, ~half rewarded.
    */
  private def writeStore(dir: String): Unit = {
    import spark.implicits._
    val base = 1700000000L // KSUID epoch starts ~1.4e9; 0 would throw
    val rows = (0 until 120).map { i =>
      val id = Ksuid.deterministic(base + i, i.toLong)
      val item = s"""{"brand":"b${i % 3}","price":${i % 17}}"""
      val reward = if (i % 2 == 0) Some(i % 5 + 0.5) else Some(0.0)
      (id, Some(item), Some(s"""{"t":"e${i % 2}"}"""), Some(2.0),
        None: Option[String], None: Option[String], reward, "events")
    }
    val df = rows.toDF("decision_id", "item", "context", "count",
      "sample", "rewards", "reward", "model")
    PartitionStore.write(df, dir, "events")
  }

  test("trainFromStore reuses an on-disk store across invocations and warm-starts phase 1") {
    val work = java.nio.file.Files.createTempDirectory("rdr_chain").toString
    writeStore(s"$work/store")

    val cold = RdrPipeline.trainFromStore(spark, s"$work/store", "events", cfg,
      ckptDir = Some(s"$work/ckpt"))
    assert(!cold.phase1Warm)
    assert(cold.propensity.model.getNumTrees > 0)
    assert(cold.decision.model.getNumTrees > 0)

    // second invocation against the SAME store: phase 1 is served from
    // the checkpoint the cold run saved — identical encode state, no
    // retrain — and phase 2 still trains
    var taps = List.empty[Int]
    val warm = RdrPipeline.trainFromStore(spark, s"$work/store", "events", cfg,
      ckptDir = Some(s"$work/ckpt"),
      phaseTap = (p, _) => taps ::= p)
    assert(warm.phase1Warm)
    assert(taps == List(2), s"warm start must not reload phase 1, tapped $taps")
    assert(warm.propensity.featureNames == cold.propensity.featureNames)
    assert(warm.propensity.stringTables == cold.propensity.stringTables)
    assert(warm.propensity.modelSeed == cold.propensity.modelSeed)
    assert(warm.decision.model.getNumTrees > 0)

    // an EXPIRED checkpoint cold-starts again instead of serving stale
    // encode state
    val expired = RdrPipeline.trainFromStore(spark, s"$work/store", "events", cfg,
      ckptDir = Some(s"$work/ckpt"), checkpointMaxAgeSeconds = -1L)
    assert(!expired.phase1Warm)
  }

  test("buildSlot swaps atomically: a crashed rebuild leaves the old slot, never a torn one") {
    import java.nio.file.{Files, Paths}
    val sfTag = Files.createTempDirectory("gate_slot_sf").toString

    // v1 publishes cleanly
    val slot = GateArtifacts.buildSlot(sfTag, "probe") { stage =>
      Files.writeString(Paths.get(stage, "data.txt"), "v1")
    }
    assert(Files.readString(Paths.get(slot, "data.txt")) == "v1")

    // a rebuild that writes PARTIAL output and then crashes must leave
    // the published v1 intact — not the torn half-written v2 — and
    // clean up its staging dir so a retry starts fresh
    val boom = intercept[RuntimeException] {
      GateArtifacts.buildSlot(sfTag, "probe") { stage =>
        Files.writeString(Paths.get(stage, "data.txt"), "v2-partial")
        throw new RuntimeException("mid-rewrite crash")
      }
    }
    assert(boom.getMessage == "mid-rewrite crash")
    assert(Files.readString(Paths.get(slot, "data.txt")) == "v1",
      "old slot must survive a crashed rebuild")
    def stagingOrphans(): Seq[String] = {
      val s = Files.list(Paths.get(slot).getParent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(".probe.tmp-")).toSeq
      } finally s.close()
    }
    assert(stagingOrphans().isEmpty, "crashed staging dir is cleaned up")

    // a staging orphan from a KILLED build (crash before its own
    // cleanup ran) is reaped by the next buildSlot once it is OLD —
    // backdate its mtime past the reap threshold
    val dead = Paths.get(slot).resolveSibling(".probe.tmp-deadbeef")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("junk.txt"), "x")
    Files.setLastModifiedTime(dead,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 60 * 60 * 1000L))

    // …while a FRESH staging sibling (a LIVE concurrent builder's
    // in-progress tree) must SURVIVE another builder's run untouched
    val live = Paths.get(slot).resolveSibling(".probe.tmp-live")
    Files.createDirectories(live)
    Files.writeString(live.resolve("wip.txt"), "live")

    // a successful rebuild replaces v1 wholesale (no stale files):
    // v2 drops data.txt and ships other.txt only
    GateArtifacts.buildSlot(sfTag, "probe") { stage =>
      Files.writeString(Paths.get(stage, "other.txt"), "v2")
    }
    assert(!Files.exists(Paths.get(slot, "data.txt")),
      "stale v1 file must not survive into the v2 slot")
    assert(Files.readString(Paths.get(slot, "other.txt")) == "v2")
    assert(stagingOrphans() == Seq(".probe.tmp-live"),
      "old killed-build orphan reaped; live concurrent staging tree untouched")
    assert(Files.readString(live.resolve("wip.txt")) == "live")
    GateArtifacts.deleteTree(Paths.get(GateArtifacts.dir(sfTag)))
  }
}
