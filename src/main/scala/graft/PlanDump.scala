package graft

import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Plan evidence for optimization rounds (plans/r{N}/<query>_{before,after}.txt),
  * one JVM for many queries. Each query runs once; its file holds the
  * `explain("formatted")` plan and then the EXECUTED plan tree with each
  * node's post-execution metrics (dataSize / shuffleBytesWritten /
  * numOutputRows), descending through AQE stages, reused exchanges and
  * cached relations that the formatted plan leaves opaque. The tree
  * attributes a shuffle-byte anomaly to a NODE rather than a query: it
  * found q_ppl_buckets' 78 MB probe-side exchange materialized for a
  * 1,526-row vocab join that AQE later broadcast (fixed with an explicit
  * broadcast in [[operators.Text.unigramLogProb]]).
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query ...]
  * writes <outDir>/<query>_<suffix>.txt for each query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0); val suffix = args(1)
    val qs = Harness.queryNames("PlanDump", args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.driverSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      CacheScope.scoped { df.collect(): Unit }
      val tree = new StringBuilder("\n== Executed plan metrics ==\n")
      def walk(p: SparkPlan, d: Int): Unit = {
        val shown = Seq("dataSize", "shuffleBytesWritten", "numOutputRows")
          .flatMap(k => p.metrics.get(k).map(v => s"$k=${v.value}"))
        tree ++= "  " * d + (p.nodeName +: shown).mkString(" ") + "\n"
        p.children.foreach(walk(_, d + 1))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, d + 1)
          case s: QueryStageExec => walk(s.plan, d + 1)
          case r: ReusedExchangeExec => walk(r.child, d + 1)
          case i: InMemoryTableScanExec => walk(i.relation.cachedPlan, d + 1)
          case _ => ()
        }
      }
      walk(df.queryExecution.executedPlan, 0)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        (formatted + tree).getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
