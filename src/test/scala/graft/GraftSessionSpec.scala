package graft

/** The suites run the session every entry point runs: [[SharedSpark]]
  * comes from [[GraftSession.builder]], so its live conf carries every
  * builder setting and the `graft_*` SQL functions need no registration.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every GraftSession setting") {
    val required = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "1h",
      "spark.sql.shuffle.partitions" -> "4")
    for ((key, value) <- GraftSession.settings ++ required)
      assert(spark.conf.getOption(key).contains(value),
        s"$key: expected $value, got ${spark.conf.getOption(key)}")
  }

  test("graft_* SQL functions resolve without a registration call") {
    val tokens = spark.sql("SELECT graft_tokens('a b')").head().getSeq[String](0)
    assert(tokens == Seq("a", "b"))
  }
}
