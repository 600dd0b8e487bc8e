package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: print the PER-ROUND physical plans of the iterative graph
  * operators (components min-label, label propagation, pagerank, bfs,
  * kcore). The registered queries return checkpointed results, so their
  * `explain` shows only the final rollup — the loop-body plan shape
  * (join strategy, exchange count per round) is what the r14
  * optimizations changed, and this tool makes it visible/committable.
  * It mirrors each loop body on the same inputs the registered queries
  * use, WITHOUT running the loop to convergence.
  * Usage: runMain graft.tools.RoundPlans <sfDir> */
object RoundPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = graft.GraftSession.builder().getOrCreate()
    import graft.Checkpoints.DatasetTruncate

    def show(tag: String, df: DataFrame): Unit = {
      System.err.println(s"========== $tag ==========")
      System.err.println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // ---- components min-label round (graph_components' loop body)
    val (enc, _, _, _, _) = graft.queries.TransEQueries.encodedKg(spark, sfDir)
    val pairs = enc.toDF()
      .select(col("h").cast("long").as("doc_a"), col("t").cast("long").as("doc_b"))
      .distinct()
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst"))
      .truncateLineage
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).truncateLineage
    val viaNeighbor = edges
      .join(broadcast(labels.select(col("id").as("dst"), col("label"))), "dst")
      .select(col("src").as("id"), col("label"), lit(Long.MaxValue).as("prev"))
    val round = viaNeighbor
      .union(labels.select(col("id"), col("label"), col("label").as("prev")))
      .groupBy("id").agg(min("label").as("label"), min("prev").as("prev"))
    show("components_minlabel_round", round)

    // ---- label-propagation round (graph_communities' loop body)
    val copart = graft.queries.GraphQueries.coPartEdges(spark, sfDir)
    val und = copart.select(col("a"), col("b"))
      .unionAll(copart.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a")).persist()
    und.count()
    val lbl0 = und.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).truncateLineage
    val counts = und
      .join(lbl0.withColumnRenamed("id", "a").hint("shuffle_hash"), Seq("a"))
      .groupBy(col("b").as("id"), col("lbl"))
      .agg(count(lit(1)).as("n"))
    val lpaRound = counts
      .groupBy("id")
      .agg(min(struct((-col("n")).as("neg_n"), col("lbl"))).as("m"))
      .select(col("id"), col("m.lbl").as("lbl"))
    show("label_propagation_round", lpaRound)

    // ---- pagerank iteration (graph_pagerank's loop body)
    val edgesDeg = graft.queries.GraphQueries.kgDegreeLayout(spark, sfDir)
    val verts = edgesDeg.select(col("src").as("id"))
      .unionAll(edgesDeg.select(col("dst").as("id"))).distinct().persist()
    val n = verts.count()
    val vertsF = verts
      .join(edgesDeg.select(col("src").as("id")).distinct()
        .withColumn("has_out", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("has_out"), lit(0L)).as("has_out"))
      .persist()
    vertsF.count()
    val ranks = vertsF.withColumn("rank", lit(1000000000000L / n)).truncateLineage
    val dangDf = ranks.filter(col("has_out") === 0L)
      .agg(coalesce(sum("rank"), lit(0L)).as("dang"))
    val contrib = edgesDeg
      .join(broadcast(ranks), edgesDeg("src") === ranks("id"))
      .select(col("dst"), expr("rank DIV outdeg").as("c"))
      .groupBy("dst").agg(sum("c").as("contrib"))
    val prNext = vertsF
      .join(contrib.hint("shuffle_hash"), vertsF("id") === contrib("dst"), "left")
      .crossJoin(broadcast(dangDf))
      .select(vertsF("id"), vertsF("has_out"),
        (lit(1L) + expr(s"(85 * (COALESCE(contrib, CAST(0 AS BIGINT)) + dang DIV $n)) DIV 100"))
          .as("rank"))
    show("pagerank_iteration", prNext)

    // ---- bfs round (graph_bfs_layers' loop body)
    val undL = graft.queries.GraphQueries.kgUndirectedLayout(spark, sfDir)
    val kg = graft.queries.GraphQueries.kgEdges(spark, sfDir)
    val seeds = kg.filter(col("dst").startsWith("r:")).select(col("dst").as("id"))
    val dist = seeds.distinct().withColumn("dist", lit(0L)).truncateLineage
    val frontier = dist.select("id")
    val cand = undL
      .join(broadcast(frontier.withColumnRenamed("id", "a")), Seq("a"))
      .select(col("b").as("id")).distinct()
    val newFront = cand.join(broadcast(dist), Seq("id"), "left_anti")
      .withColumn("dist", lit(1L))
    show("bfs_round", newFront)

    // ---- kcore peel round (graph_kcore's loop body)
    def least2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(x < y, x).otherwise(y)
    def greatest2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(x < y, y).otherwise(x)
    val e0 = kg.select(least2(col("src"), col("dst")).as("a"),
        greatest2(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().truncateLineage
    val keep = e0.select(col("a").as("id"))
      .unionAll(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 4).select("id")
    val kcNext = e0
      .join(broadcast(keep.withColumnRenamed("id", "a")), Seq("a"), "left_semi")
      .join(broadcast(keep.withColumnRenamed("id", "b")), Seq("b"), "left_semi")
    show("kcore_round", kcNext)

    spark.stop()
  }
}
