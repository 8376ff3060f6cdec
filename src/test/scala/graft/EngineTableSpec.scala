package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions.lit

/** `Engine.table` infers a table's schema once per table version: a
  * rewritten table, or a session conf that changes inference, gets a
  * fresh schema.
  */
class EngineTableSpec extends SparkSpec {

  test("a table overwritten with an added column reads with the new schema") {
    val dir = Files.createTempDirectory("engine-table")
    val table = dir.resolve("nation.parquet")
    Files.copy(java.nio.file.Paths.get(sf("sf0.001"), "nation.parquet"), table)
    val before = Engine.table(spark, dir.toString, "nation")
    assert(before.schema == spark.read.parquet(table.toString).schema)
    val rows = before.count()
    // the rewrite: one new file under the same table path
    val wider = dir.resolve("wider")
    before.withColumn("extra", lit(7L)).coalesce(1).write.parquet(wider.toString)
    Files.delete(table)
    Files.move(wider, table, StandardCopyOption.ATOMIC_MOVE)
    val after = Engine.table(spark, dir.toString, "nation")
    assert(after.schema == before.schema.add("extra", "long"), after.schema.treeString)
    assert(after.filter("extra = 7").count() == rows)
  }

  test("changing inferTimestampNTZ.enabled gets a fresh schema") {
    val dir = sf("sf0.001")
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntz = Engine.table(spark, dir, "events").schema
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val ltz = Engine.table(spark, dir, "events").schema
      assert(ltz == spark.read.parquet(s"$dir/events.parquet").schema)
      assert(ltz != ntz, "the fixture's timestamps must read differently under the two settings")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Engine.table(spark, dir, "events").schema == ntz)
  }
}
