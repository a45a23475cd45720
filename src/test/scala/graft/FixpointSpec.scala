package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup}

/** The [[Fixpoint]] contract: what each exhaustion policy does at its
 * bound, what the lazy cut costs while a loop is built, and what the
 * entry cut keeps out of the plans AQE re-prints every round. */
class FixpointSpec extends SparkSpecBase {
  import SparkTestSession.spark.implicits._

  /** Run `body` with `l` attached; every event it posted is delivered
   * before this returns. */
  private def listening[T](l: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftListenerBridge.drainListenerBus(sc)
      out
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs submitted while `body` runs, and its result. */
  private def countJobs[T](body: => T): (Int, T) = {
    val jobs = new AtomicLong()
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(body)
    (jobs.get.toInt, out)
  }

  /** Characters of physical plan description posted while `body` runs:
   * each SQL execution's start plus every AQE re-plan update. */
  private def planChars[T](body: => T): (Long, T) = {
    val chars = new AtomicLong()
    val out = listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          chars.addAndGet(s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          chars.addAndGet(u.physicalPlanDescription.length)
        case _ => ()
      }
    })(body)
    (chars.get, out)
  }

  /** 20 disjoint triangles over ids 0..59 as `(id_a, id_b)` pairs. */
  private def triangles: DataFrame =
    (0L until 20L).flatMap { t =>
      val (a, b, c) = (3 * t, 3 * t + 1, 3 * t + 2)
      Seq((a, b), (b, c), (a, c))
    }.toDF("id_a", "id_b")

  /** The min-label answer: each triangle's nodes get its smallest id. */
  private val triangleLabels: Map[Long, Long] =
    (0L until 60L).map(n => n -> (n - n % 3)).toMap

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  test("clusterPairs' rounds do not re-print the input's nested cached plans") {
    CacheScope.scoped {
      // three nested persisted frames, each reading the one below twice
      // (a self-join that keeps the 60 pairs) — the shape of a
      // similarity join's cached pair source
      val input = (1 to 3).foldLeft(triangles) { (f, _) =>
        CacheScope.persist(f.join(f, Seq("id_a", "id_b")))
      }
      val (inputChars, n) = planChars(input.count())
      assert(n === 60L)
      val (loopChars, labels) = planChars {
        val l = Dedup.clusterPairs(input, "id_a", "id_b")
        assert(l.count() === 60L)
        l
      }
      assert(labelsOf(labels) === triangleLabels)
      val ratio = loopChars.toDouble / inputChars
      // the edge table enters the loop as a cut leaf, so AQE's per-stage
      // plan updates do not carry the three cached levels every round
      assert(ratio <= 10.0,
        s"clusterPairs posted $ratio× the plan text of one count of its input")
    }
  }

  test("clusterPairs with a checkpointDir cuts into it and keeps the labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cp-pairs")
    CacheScope.scoped {
      val local = labelsOf(Dedup.clusterPairs(triangles, "id_a", "id_b"))
      val reliable = labelsOf(Dedup.clusterPairs(triangles, "id_a", "id_b",
        checkpointDir = Some(dir.toString)))
      assert(local === triangleLabels)
      assert(reliable === local)
    }
    // labels0 is already the answer on triangles, so the loop runs one
    // round: one checkpointed RDD for it, one for the pair source
    val rdds = java.nio.file.Files.walk(dir).toArray.map(_.toString)
      .filter(_.matches(".*/rdd-[0-9]+"))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    assert(rdds.length === 2, rdds.mkString(", "))
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
