package graft

/** The one harness session: every main and suite gets the same pinned
  * confs from [[Harness.session]], and the `k=v,k=v` conf argument the
  * single-query mains take is parsed in one place, loudly. */
class HarnessSpec extends SparkSpec {

  test("the harness session carries the pinned confs") {
    // the context conf holds the builder's options as created; the session
    // conf must agree (tests may override session confs only transiently)
    val sc = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[8]")
    assert(sc.get("spark.sql.shuffle.partitions") == "8")
    assert(sc.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.get("spark.sql.adaptive.enabled") == "true")
    assert(sc.get("spark.ui.enabled") == "false")
    assert(sc.get("graft.stream.statePartitions") == "4")
    assert(spark.conf.get("graft.stream.statePartitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a caller's confs are applied on top of the pins") {
    try {
      val s = Harness.session(8, "graft.test.harness" -> "on")
      assert(s eq spark)
      assert(spark.conf.get("graft.test.harness") == "on")
      assert(spark.conf.get("graft.stream.statePartitions") == "4")
    } finally spark.conf.unset("graft.test.harness")
  }

  test("the conf argument parses k=v pairs and treats empty as none") {
    assert(Harness.parseConfs("") == Nil)
    assert(Harness.parseConfs("a.b=1, c.d = x=y ,") == Seq("a.b" -> "1", "c.d" -> "x=y"))
    assert(Harness.parseConfs("graft.assets.dir=") == Seq("graft.assets.dir" -> ""))
  }

  test("a malformed conf argument fails naming the bad piece") {
    val e = intercept[IllegalArgumentException](
      Harness.parseConfs("graft.minhash.dfCap=0,graft.ann.verifyRebuild"))
    assert(e.getMessage.contains("'graft.ann.verifyRebuild'"))
    val e2 = intercept[IllegalArgumentException](Harness.parseConfs("=1"))
    assert(e2.getMessage.contains("'=1'"))
  }
}
