package graft

/** The harness mains' shared set-up: the registry filter and the one
  * session. Reads no data. */
class HarnessSpec extends SparkSpec {

  test("select sorts by name and rejects an unknown name, naming it") {
    val picked = Harness.select(Some(Set("q02_revenue_forecast", "l01_zorder")),
      Set.empty).map(_._1)
    assert(picked == Seq("l01_zorder", "q02_revenue_forecast"))
    assert(Harness.select(None, Set("l01_zorder")).map(_._1) ==
      SparkEntry.queries.keys.toSeq.sorted.filterNot(_ == "l01_zorder"))
    for ((only, skip) <- Seq(
        (Some(Set("q01_pricing_summary", "q01_pricng")), Set.empty[String]),
        (None, Set("q01_pricng")))) {
      val boom = intercept[IllegalArgumentException](Harness.select(only, skip))
      assert(boom.getMessage.contains("q01_pricng"), boom.getMessage)
      assert(!boom.getMessage.contains("q01_pricing_summary"), boom.getMessage)
    }
  }

  test("session() carries UTC and shuffle.partitions = cpus") {
    // the suite session exists first, so session() returns it with the
    // harness settings applied; put different values in beforehand and
    // restore the suite's own afterwards
    val conf = spark.conf
    val (prevParts, prevTz) = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.session.timeZone"))
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val s = Harness.session()
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == Harness.cpus)
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.session.timeZone", prevTz)
      spark.sparkContext.setLogLevel("ERROR")
    }
  }
}
