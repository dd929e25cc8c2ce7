package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** PageRank / triangle scale smoke (builder tooling): synthetic hashed
  * graph at millions of edges, a planted hub that every Nth node points
  * at, and per-iteration wall time.
  * Usage: runMain graft.GraphSmoke [nEdges] [pagerank|triangles]
  *
  * What it proves (SCALE.md): PageRank per-iteration cost is linear in
  * edges (one broadcast-or-keyed join + one map-side-combined agg),
  * driver state stays O(1), and the planted hub surfaces as the top
  * rank — structure recovery at scale, not just termination. The
  * triangles mode stresses the degree-ORIENTED wedge join on the same
  * hub-skewed graph: without orientation the planted hub (in-degree
  * ≈ nNodes/100) alone contributes C(deg, 2) ≈ 10⁷–10⁹ wedges; with it
  * the hub sits on the HEAD side of nearly all its edges, so the smoke
  * finishing in linear-looking time on a hub-skewed input IS the
  * orientation working.
  */
object GraphSmoke {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(5000000L)
    val mode = args.lift(1).getOrElse("pagerank")
    val nNodes = math.max(1000L, nEdges / 10)
    val spark = ToolSession()
    if (mode == "triangles") { runTriangles(spark, nEdges, nNodes); return }
    if (mode == "cc") { runCc(spark, nEdges, nNodes); return }

    // hashed random graph + every 100th node points at hub 0
    val rand = spark.range(nEdges).select(
      pmod(hash(col("id")), lit(nNodes)).cast("long").as("src"),
      pmod(hash(col("id") * 7 + 13), lit(nNodes)).cast("long").as("dst"))
    val hub = spark.range(nNodes / 100).select(
      (col("id") * 100 + 1).as("src"), lit(0L).as("dst"))
    val edges = rand.union(hub)

    val t0 = System.nanoTime()
    val iters = 5
    val ranks = graft.extra.Graph.pagerank(edges, "src", "dst", iters)
    val top = ranks.orderBy(col("rank_e12").desc).limit(3).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val perIter = wall / iters
    println(f"[graph-smoke] edges=$nEdges nodes=$nNodes iters=$iters " +
      f"wall=$wall%.1fs per_iter=$perIter%.1fs " +
      f"top=${top.map(r => s"${r.getLong(0)}:${r.getDouble(2)}").mkString(",")}")
    require(top.head.getLong(0) == 0L,
      s"planted hub 0 should hold the top rank, got ${top.head.getLong(0)}")
    spark.stop()
    println("[graph-smoke] OK")
  }

  /** Connected components on the hub-skewed hashed graph: the planted
    * hub (node 0, degree ≈ nNodes/100) plus a dense random layer makes
    * one giant short-diameter component — the consolidation shape CC
    * exists for. The hub-degree adjacency rows stay MaxChunk-bounded
    * (same chunked layout as pagerank), so the smoke finishing without
    * an executor-side blowup on a hub-skewed input is the layout
    * working; the label of node 0's component must be 0 (it is the
    * minimum id and the hub wires 0 into the giant component).
    */
  private def runCc(spark: SparkSession, nEdges: Long,
      nNodes: Long): Unit = {
    val rand = spark.range(nEdges).select(
      pmod(hash(col("id")), lit(nNodes)).cast("long").as("src"),
      pmod(hash(col("id") * 7 + 13), lit(nNodes)).cast("long").as("dst"))
    val hub = spark.range(nNodes / 100).select(
      (col("id") * 100 + 1).as("src"), lit(0L).as("dst"))
    val t0 = System.nanoTime()
    val comps = graft.extra.Graph.connectedComponents(
      rand.union(hub), "src", "dst", maxIters = 15)
    val sizes = comps.groupBy("component").count()
      .orderBy(col("count").desc).limit(3).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[graph-smoke] cc edges=$nEdges nodes=$nNodes " +
      f"wall=$wall%.1fs top=${sizes.map(r =>
        s"${r.getLong(0)}:${r.getLong(1)}").mkString(",")}")
    require(sizes.head.getLong(0) == 0L,
      s"giant component should be labeled 0, got ${sizes.head.getLong(0)}")
    spark.stop()
    println("[graph-smoke] OK")
  }

  /** Triangle census on the hub-skewed hashed graph at two sizes (half
    * and full), printing the wall ratio — near-linear scaling on an
    * input with a deg ≈ nNodes/100 hub is the orientation's doing.
    */
  private def runTriangles(spark: SparkSession, nEdges: Long,
      nNodes: Long): Unit = {
    def graph(m: Long) = {
      val rand = spark.range(m).select(
        pmod(hash(col("id")), lit(nNodes)).cast("long").as("src"),
        pmod(hash(col("id") * 7 + 13), lit(nNodes)).cast("long").as("dst"))
      val hub = spark.range(nNodes / 100).select(
        (col("id") * 100 + 1).as("src"), lit(0L).as("dst"))
      rand.union(hub)
    }
    def census(m: Long): (Double, String) = {
      val t0 = System.nanoTime()
      val row = graft.extra.Graph.triangles(graph(m), "src", "dst")
        .collect().head
      ((System.nanoTime() - t0) / 1e9,
        s"nodes=${row.getLong(0)} edges=${row.getLong(1)} " +
          s"wedges=${row.getLong(2)} triangles=${row.getLong(3)} " +
          f"cc=${row.getDouble(4)}%.6f")
    }
    val (wHalf, sHalf) = census(nEdges / 2)
    val (wFull, sFull) = census(nEdges)
    println(f"[graph-smoke] triangles half($sHalf) wall=$wHalf%.1fs")
    println(f"[graph-smoke] triangles full($sFull) wall=$wFull%.1fs " +
      f"ratio=${wFull / wHalf}%.2fx for 2x edges")
    spark.stop()
    println("[graph-smoke] OK")
  }
}
