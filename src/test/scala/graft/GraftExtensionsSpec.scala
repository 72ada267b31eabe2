package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects native xxh3_64 at session build") {
    // Build a session of our own with the extension applied — the
    // point is injection at session construction, no imperative
    // Functions.register call. The JVM-wide SparkContext is shared
    // with other suites, so swap the default session out and back
    // rather than stop() anything.
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val got = s.sql("SELECT xxh3_64('hello'), xxh3_64('hello', 42)")
        .collect().head
      assert(got.getLong(0) == graft.core.XxHash3.hash("hello", 0L))
      assert(got.getLong(1) == graft.core.XxHash3.hash("hello", 42L))
      // native expression: the executed plan must stay UDF-free
      val plan = s.sql("SELECT xxh3_64(CAST(id AS STRING)) FROM range(10)")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), plan)
      // the vector expressions are injected too, SQL-callable, UDF-free
      val vec = s.sql(
        """SELECT array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |       adc_score(array(0, 1), array(2.0D, 3.0D, 5.0D, 7.0D), 2) AS a""".stripMargin)
        .collect().head
      assert(vec.getDouble(0) == 1.0)
      assert(vec.getDouble(1) == 2.0 + 7.0) // table[0*2+0] + table[1*2+1]
      // winnow_fps: defaults (k=5, w=4) equal the explicit spelling,
      // and a full-window doc yields at least one fingerprint
      val fps = s.sql(
        "SELECT winnow_fps('a b c d e f g h i j') AS d," +
          " winnow_fps('a b c d e f g h i j', 5, 4) AS e").collect().head
      assert(fps.getSeq[String](0).nonEmpty &&
        fps.getSeq[String](0) == fps.getSeq[String](1))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }

  test("every listed native function resolves with the extension and after register") {
    val names = graft.functions.Functions.natives.map(_.name)
    assert(names.distinct.length == 7, names)
    val old = SparkSession.getDefaultSession
    def fresh(b: SparkSession.Builder): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      b.master("local[2]").appName("graft-ext-test")
        .config("spark.ui.enabled", "false").getOrCreate()
    }
    def registered(s: SparkSession): Seq[String] =
      names.filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    try {
      val ext = fresh(SparkSession.builder().withExtensions(new GraftExtensions))
      assert(registered(ext) == names)
      graft.functions.Functions.natives.foreach { n =>
        val info = ext.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n.name))
        assert(info.map(_.getClassName) == Some(n.cls.getName), n.name)
      }
      val plain = fresh(SparkSession.builder())
      assert(registered(plain).isEmpty, "a session without the extension has none yet")
      graft.functions.Functions.register(plain)
      assert(registered(plain) == names)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }
}
