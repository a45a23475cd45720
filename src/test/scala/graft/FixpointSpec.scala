package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup}

/** The [[Fixpoint]] contract: what each exhaustion policy does at its
 * bound, and what the lazy cut costs while a loop is built. */
class FixpointSpec extends SparkSpecBase {
  import SparkTestSession.spark.implicits._

  /** Spark jobs submitted while `body` runs, and its result. */
  private def countJobs[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val jobs = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftListenerBridge.drainListenerBus(sc)
      (jobs.get.toInt, out)
    } finally sc.removeSparkListener(l)
  }

  test("Fixed(n) runs n rounds; building the lazy-cut loop submits no job") {
    def build(eager: Boolean) = {
      var steps = 0
      val (jobs, df) = countJobs {
        Fixpoint.iterate("narrow", spark.range(10).toDF("id"), None, eager)(
            Fixpoint.Fixed(5)) { (df, _, cut) =>
          steps += 1
          cut(df.select((col("id") + 1).as("id")))
        }
      }
      (steps, jobs, df.agg(sum("id")).as[Long].head)
    }
    // ids 5..14 after five +1 rounds
    assert(build(eager = false) === ((5, 0, 95L)))
    // the eager cut pays one job per round while the loop is built
    assert(build(eager = true) === ((5, 5, 95L)))
  }

  test("Cap(n): bfsHops past maxHops returns exactly maxHops + 1 rings") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val rings = Analytics.bfsHops(chain, "a", "b", Seq(1L).toDF("s"), "s",
        maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(rings === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("Converge(max) fails at the bound, passes a state done exactly there") {
    var steps = 0
    val err = intercept[IllegalStateException] {
      Fixpoint.iterate("spin", 0, None)(Fixpoint.Converge[Int](3, _ => false)) {
        (s, _, _) => steps += 1; s + 1
      }
    }
    assert(steps === 3)
    assert(err.getMessage.contains("spin") && err.getMessage.contains("3 rounds"))
    assert(Fixpoint.iterate("count", 0, None)(Fixpoint.Converge[Int](3, _ >= 3)) {
      (s, _, _) => s + 1
    } === 3)
  }

  test("Converge: a state done before any round runs no round") {
    val out = Fixpoint.iterate("empty", Seq.empty[Int], None)(
        Fixpoint.Converge[Seq[Int]](5, _.isEmpty)) { (_, _, _) =>
      fail("no round may run on a converged state")
    }
    assert(out.isEmpty)
    assert(Analytics.kCore(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b",
      k = 2).count() === 0)
  }

  test("clusterPairs fails loudly when maxIter rounds leave labels unconverged") {
    // a 500-long chain needs ~9 shortcut rounds; 2 cannot converge it,
    // and partial labels must never come back as an answer
    val chain = (1L until 500L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException] {
      Dedup.clusterPairs(chain, "id_a", "id_b", maxIter = 2).collect()
    }
    assert(err.getMessage.contains("clusterPairs") &&
      err.getMessage.contains("2 rounds"), err.getMessage)
  }
}
