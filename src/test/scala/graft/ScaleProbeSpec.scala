package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke run of every ScaleProbe case at factor 1: nothing else runs
  * the probe, so a case broken by an operator change would otherwise
  * surface only when someone runs it by hand. */
class ScaleProbeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("case names are unique") {
    val names = ScaleProbe.cases.map(_.name)
    assert(names.distinct == names)
  }

  ScaleProbe.cases.foreach { c =>
    test(s"case ${c.name} finishes at factor 1 and releases every persistent RDD") {
      val (sec, rows, _) = ScaleProbe.run(spark, GraftSpark.sf, 1, c)
      assert(sec >= 0 && rows >= 0)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"${c.name} left ${spark.sparkContext.getPersistentRDDs.size} persistent RDDs")
    }
  }
}
