package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.GraftShim
import graft.plans.{DistanceExpr, Metric}

/** One-call registration of the full SQL function surface — the analog of
  * installing the reference extension (`CREATE EXTENSION neurondb`). After
  * this, `spark.sql` can use every `vector_*`, `embed_*`, quantization,
  * text-analysis and sparse function by its reference name. */
object GraftFunctions {
  def registerAll(spark: SparkSession): Unit = {
    VectorFunctions.register(spark)
    Metric.all.foreach(m => GraftShim.registerBinary(spark, m.sqlName)(DistanceExpr(m, _, _)))
    VectorAggregates.register(spark)
    Embeddings.register(spark)
    TextFunctions.register(spark)
    TextAnalysis.register(spark)
    Quantization.register(spark)
    SparseOps.register(spark)
    registerVGraph(spark)
  }

  /** vgraph TYPE functions by reference name — parse the text form,
    * run the per-value traversal/analytic (r10: pagerank + community). */
  private def registerVGraph(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.udf
    spark.udf.register("vgraph_bfs", udf((t: String, start: Int) =>
      VectorParsers.vgraphBfs(VectorParsers.parseVGraph(t), start)))
    spark.udf.register("vgraph_dfs", udf((t: String, start: Int) =>
      VectorParsers.vgraphDfs(VectorParsers.parseVGraph(t), start)))
    spark.udf.register("vgraph_pagerank", udf((t: String, iters: Int) =>
      VectorParsers.vgraphPagerankInt(VectorParsers.parseVGraph(t), iters).toSeq))
    spark.udf.register("vgraph_community_detection", udf((t: String, iters: Int) =>
      VectorParsers.vgraphCommunities(VectorParsers.parseVGraph(t), iters).toSeq))
  }
}
