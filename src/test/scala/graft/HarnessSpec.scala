package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** [[Harness]]: the session every driver and spec runs in, and the
 * counters a bench row and a spec bound read. */
class HarnessSpec extends SparkSpecBase {

  test("the session carries graft's SQL functions, UTC and the nanos-timestamp read") {
    assert(spark.sql("SELECT geohash(48.8566, 2.3522, 6)").head().getString(0) === "u09tvw")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(Tables.events(spark, sfDir).schema("ts").dataType === TimestampType)
  }

  test("measure counts one action exactly, then nothing once it has returned") {
    // one shuffle: AQE runs the 3-task map stage as its own job, then the
    // result stage over the coalesced single partition
    val (rows, c) = measure {
      spark.range(0, 1000, 1, 3).groupBy(col("id") % 5).count().collect()
    }
    assert(rows.length === 5)
    assert((c.jobs, c.stages, c.tasks) === ((2L, 2L, 4L)))
    assert(c.shuffleWriteBytes > 0 && c.cpuNanos > 0 && c.planChars > 0)
    assert(c.spillBytes === 0L && c.inputBytes === 0L)
    // the first listener is gone: a body that runs nothing counts nothing
    assert(measure(())._2 === Harness.Counters(0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("an unknown query name is rejected, a known one passes") {
    assert(Harness.queryNames("spec", Seq("q_pagerank")) === Seq("q_pagerank"))
    val e = intercept[IllegalArgumentException] {
      Harness.queryNames("spec", Seq("q_pagerank", "q_pagerankk"))
    }
    assert(e.getMessage.contains("spec names unknown queries: q_pagerankk"))
  }
}
