package graft

/** The validated conf-parse seam: strategy confs fail LOUDLY with the conf
  * name on a typo (repo-wide), defaults
  * apply when unset, and valid values — including the deliberate
  * 0-forces-a-path harness levers — parse unchanged.
  */
class GraftConfSpec extends SparkSpec {

  private def withConf[A](key: String, v: String)(f: => A): A =
    try { spark.conf.set(key, v); f } finally spark.conf.unset(key)

  test("defaults apply when unset") {
    assert(GraftConf.long(spark, "graft.test.unset", 7L) == 7L)
    assert(GraftConf.int(spark, "graft.test.unset", 9) == 9)
    assert(GraftConf.bool(spark, "graft.test.unset", default = true))
    assert(!GraftConf.flag(spark, "graft.test.unset"))
  }

  test("valid values parse, including 0 and whitespace") {
    withConf("graft.test.n", " 0 ")(assert(GraftConf.long(spark, "graft.test.n", 5L) == 0L))
    withConf("graft.test.n", "-3")(assert(GraftConf.int(spark, "graft.test.n", 5) == -3))
    withConf("graft.test.b", "FALSE")(assert(!GraftConf.bool(spark, "graft.test.b", default = true)))
    withConf("graft.test.b", "True")(assert(GraftConf.flag(spark, "graft.test.b")))
  }

  test("a typo fails loudly and names the conf") {
    val e1 = intercept[IllegalArgumentException](
      withConf("graft.test.n", "1e6")(GraftConf.long(spark, "graft.test.n", 5L)))
    assert(e1.getMessage.contains("graft.test.n") && e1.getMessage.contains("'1e6'"))
    val e2 = intercept[IllegalArgumentException](
      withConf("graft.test.b", "yes")(GraftConf.bool(spark, "graft.test.b", default = false)))
    assert(e2.getMessage.contains("graft.test.b") && e2.getMessage.contains("true or false"))
  }

  test("a routed strategy conf surfaces its own name at plan-build time") {
    // the pre-helper behavior was a raw NumberFormatException("For input
    // string: ...") with no pointer to WHICH session conf was wrong
    val e = intercept[IllegalArgumentException](
      withConf("graft.fuzzy.maxBlock", "sixty-four")(
        SparkEntry.queries("q107_fuzzy_match")(spark, sf001).collect()))
    assert(e.getMessage.contains("graft.fuzzy.maxBlock"))
  }
}
