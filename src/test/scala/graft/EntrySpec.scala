package graft

/** Driver-contract smoke: `entry` must return rows on sf0.001, every
  * oracleSql key must correspond to a defined query, and a query leaves
  * no persisted blocks once its result is released. */
class EntrySpec extends SparkSpec {
  test("entry returns rows on sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("oracleSql keys ⊆ queries keys; all queries run on sf0.001") {
    SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet) shouldBe empty
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    SparkEntry.queries.foreach { case (name, fn) =>
      withClue(name) {
        val before = persisted
        val out = fn(spark, "/root/testdata/sf0.001")
        noException should be thrownBy out.schema
        org.apache.spark.sql.GraftLineage.release(out, blocking = true)
        (persisted -- before) shouldBe empty
      }
    }
  }
}
