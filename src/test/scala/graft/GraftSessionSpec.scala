package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the one session configuration: [[GraftSession.tune]] brings a
  * session to exactly the runtime confs [[GraftSession.builder]] builds
  * with, so a plan is the same whichever way its session was made. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSession._

  test("every conf tune sets has the value builder gives it") {
    // fresh sessions read their confs from the SparkConf the builder
    // created the context with, untouched by other suites' conf.set
    val built = spark.newSession()
    val s = spark.newSession()
    GraftSession.runtimeConfs.foreach { case (k, v) =>
      s.conf.set(k,
        if (v == "true") "false"
        else if (k == "spark.sql.session.timeZone") "America/New_York"
        else "")
    }
    val before = s.conf.getAll
    GraftSession.tune(s)
    val changed = s.conf.getAll.filter { case (k, v) => !before.get(k).contains(v) }
    assert(changed.keySet == GraftSession.runtimeConfs.map(_._1).toSet)
    changed.foreach { case (k, v) =>
      assert(built.conf.get(k) == v, s"tune sets $k=$v, builder gives ${built.conf.get(k)}")
    }
  }

  test("tune appends to an existing excluded-rule list") {
    val s = spark.newSession()
    val own = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates"
    s.conf.set("spark.sql.optimizer.excludedRules", own)
    GraftSession.tune(GraftSession.tune(s))
    assert(s.conf.get("spark.sql.optimizer.excludedRules") ==
      s"$own,org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
  }
}
