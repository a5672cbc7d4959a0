package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import scala.jdk.CollectionConverters._

/** The iterative loops of graft.analytics (graph k-core, PageRank, BFS
  * layers) and graft.ops (near-dup cluster components), as the
  * registered `SparkEntry.queries`, over the seed's small `loops`
  * tables. Traced `dedup_stream` runs make one pass after their window,
  * one span `query.<name>` per query. Each query writes its result as
  * parquet (the span includes that write) next to its oracle SQL, which
  * run.py replays in DuckDB and compares.
  */
object Loops {
  val Queries: Seq[String] = Seq("graph_kcore", "graph_kcore_fixpoint", "graph_pagerank",
    "graph_bfs_layers", "dedup_keep_best", "dedup_simhash_clusters", "media_dedup_clusters")

  /** One pass; returns its wall. */
  def run(ctx: Ctx): Double = {
    val in = ctx.dir("loops")
    val out = ctx.work.resolve("loops-out")
    val t0 = System.nanoTime()
    Queries.foreach { q =>
      var rec: SpanRec = null
      val df = ctx.spans.span(s"query.$q") { r =>
        rec = r
        val df = graft.SparkEntry.queries(q)(ctx.spark, in)
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
        df
      }
      rec.add("plan_nodes", logicalNodes(df.queryExecution.optimizedPlan).toDouble)
    }
    val wall = Main.seconds(t0)
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), new ObjectMapper().writeValueAsString(
      Queries.map(q => q -> oracles(q)).toMap.asJava))
    Main.log(f"loops pass $wall%.2f s")
    wall
  }

  /** Nodes of an optimized plan, counting each cached relation's plan. */
  def logicalNodes(p: LogicalPlan): Int = p.collect {
    case r: InMemoryRelation => 1 + physicalNodes(r.cacheBuilder.cachedPlan)
    case _ => 1
  }.sum

  private def physicalNodes(p: SparkPlan): Int = p.collect {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case s: InMemoryTableScanExec => 1 + physicalNodes(s.relation.cacheBuilder.cachedPlan)
    case _ => 1
  }.sum
}
