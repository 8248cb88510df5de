package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 size-gated driver-local pagerank fold to the distributed
  * iteration BIT-FOR-BIT: same ranks (not approximately — the decimal
  * rounding chain is the operator's cross-engine determinism contract, and
  * the oracle hashes exact doubles), same schema, and the gate refusing the
  * local path above the edge cap / on null keys.
  */
class PagerankLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic non-trivial weighted digraph: ~60 nodes, ~300 edges,
    * dangling sinks, duplicate (src,dst) edges, skewed integer weights —
    * every branch of the fold (dangling mass, contribution grouping,
    * duplicate-edge accumulation, no-contribution nodes) carries mass.
    */
  private def graph = {
    val rows = (0 until 300).map { i =>
      val s = (i * 7919) % 60          // spread sources
      val d = (i * i + 3 * i + 1) % 67 // some dsts (60..66) never emit: dangling
      val w = 1L + (i % 13)
      (s.toString, d.toString, w)
    }
    rows.toDF("src", "dst", "w")
  }

  test("driver-local fold == distributed iteration, bit for bit") {
    val local = Graph.pagerank(graph, "src", "dst", "w", iters = 7)
    val dist = Graph.pagerank(graph, "src", "dst", "w", iters = 7,
      maxLocalEdges = 0) // force the distributed path
    assert(local.schema("rank").dataType === dist.schema("rank").dataType)
    assert(local.schema("node").dataType === dist.schema("node").dataType)
    val l = local.orderBy("node").collect().map(r => (r.get(0), r.getDouble(1)))
    val d = dist.orderBy("node").collect().map(r => (r.get(0), r.getDouble(1)))
    assert(l.length === d.length && l.nonEmpty)
    // exact double equality — the whole point of the decimal chain
    l.zip(d).foreach { case ((ln, lr), (dn, dr)) =>
      assert(ln === dn)
      assert(java.lang.Double.doubleToLongBits(lr) ===
        java.lang.Double.doubleToLongBits(dr), s"node $ln: $lr != $dr")
    }
  }

  test("coarser outScale stays bit-identical across paths too") {
    val local = Graph.pagerank(graph, "src", "dst", "w", iters = 5, outScale = 6)
    val dist = Graph.pagerank(graph, "src", "dst", "w", iters = 5, outScale = 6,
      maxLocalEdges = 0)
    val l = local.orderBy("node").collect().map(_.getDouble(1))
    val d = dist.orderBy("node").collect().map(_.getDouble(1))
    assert(l.map(java.lang.Double.doubleToLongBits).toSeq ===
      d.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  test("gate: an edge list above maxLocalEdges runs distributed (same values)") {
    // cap BELOW the edge count — the fold must refuse and fall through
    val capped = Graph.pagerank(graph, "src", "dst", "w", iters = 3,
      maxLocalEdges = 10)
    val forced = Graph.pagerank(graph, "src", "dst", "w", iters = 3,
      maxLocalEdges = 0)
    assert(capped.orderBy("node").collect().toSeq ===
      forced.orderBy("node").collect().toSeq)
  }

  test("gate: null src/dst falls back to the distributed path's semantics") {
    val withNull = graph.unionByName(
      Seq((null.asInstanceOf[String], "1", 5L)).toDF("src", "dst", "w"))
    val viaGate = Graph.pagerank(withNull, "src", "dst", "w", iters = 4)
    val dist = Graph.pagerank(withNull, "src", "dst", "w", iters = 4,
      maxLocalEdges = 0)
    assert(viaGate.orderBy("node").collect().toSeq ===
      dist.orderBy("node").collect().toSeq)
  }

  test("mixed id types (int src, long dst): local fold == distributed, bigint nodes") {
    val mixed = graph.select(col("src").cast("int").as("src"),
      col("dst").cast("long").as("dst"), col("w"))
    val local = Graph.pagerank(mixed, "src", "dst", "w", iters = 4)
    val dist = Graph.pagerank(mixed, "src", "dst", "w", iters = 4,
      maxLocalEdges = 0)
    assert(local.schema("node").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(local.schema("node").dataType === dist.schema("node").dataType)
    assert(local.orderBy("node").collect().toSeq ===
      dist.orderBy("node").collect().toSeq)
  }

  test("non-positive weights are rejected on both paths with one message") {
    // source 100's only edge weighs 0 (out-weight 0: no transition
    // probability), then -2
    Seq(0L, -2L).foreach { w =>
      val bad = graph.unionByName(Seq(("100", "1", w)).toDF("src", "dst", "w"))
      val local = intercept[IllegalArgumentException](
        Graph.pagerank(bad, "src", "dst", "w", iters = 3))
      val dist = intercept[IllegalArgumentException](
        Graph.pagerank(bad, "src", "dst", "w", iters = 3, maxLocalEdges = 0))
      assert(local.getMessage === dist.getMessage)
      assert(local.getMessage.contains("positive INTEGRAL weight"), local.getMessage)
    }
  }

  test("mass conservation survives the local fold (ranks sum to ~1)") {
    val r = Graph.pagerank(graph, "src", "dst", "w", iters = 10)
      .agg(sum("rank")).collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9)
  }
}
