package graft

/** [[Session]] is the only session configuration: no other file builds
  * its own, and the spec session carries the production settings (no
  * retired AQE floor, `nanosAsLong` on) so the drift cannot return. */
class SessionSpec extends SparkSpec {

  test("source guard: only Session.scala (and the bare-extension spec) builds a session") {
    val needle = "SparkSession" + ".builder()"
    val offenders = SourceGuard.offenders("src/main/scala", needle, "Session.scala") ++
      SourceGuard.offenders("src/test/scala", needle, "GraftExtensionsSpec.scala")
    assert(offenders.isEmpty, "session built outside graft.Session: " + offenders.mkString(", "))
  }

  test("spec session runs the production settings") {
    // SparkConf holds what the builder set; a runtime conf.set cannot mask it
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.requireAllClusterKeysForCoPartition") === "false")
    assert(conf.get("spark.sql.sources.v2.bucketing.enabled") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    val floor = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    assert(!conf.contains(floor) && spark.conf.getAll.get(floor).isEmpty)
  }
}
