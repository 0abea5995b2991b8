package graft.spatial

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Plan-shape guards: the flagship join must stay broadcast + codegen. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val grid = CellGrid(8.0, origin = 0.0, rowWidth = 1L << 20)

  test("codegen PIP plan: broadcast hash join, WholeStageCodegen, no shuffle on point side") {
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val joined = SpatialJoin.pipJoinCodegen(pts, "id", "x", "y", SynthGeo.zones, grid)
    joined.collect() // finalize the adaptive plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    // "*(1)" is the WholeStageCodegen stage marker in the compact plan string;
    // the join itself must carry it (scan→filter→join→project in one stage)
    assert(plan.contains("*(1) BroadcastHashJoin"), s"expected codegen join:\n$plan")
    assert(plan.contains("point_in_polygon"), s"expected native PIP predicate:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    // the refinement is `<box test> AND (interior OR point_in_polygon(...))`:
    // PIP sits behind the interior short-circuit, inside the join's own
    // condition
    val stages = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val join = stages.collectFirst(joined.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.getOrElse(fail(s"no BroadcastHashJoinExec:\n$plan"))
    val cond = join.condition.map(_.sql).getOrElse(fail(s"join has no condition:\n$plan"))
    assert(cond.matches("""(?s).*box_xmin.*\(interior OR point_in_polygon\(.*"""),
      s"expected `<box test> AND (interior OR point_in_polygon(...))`, got: $cond")
  }

  test("clipped zone side is smaller than the full-edge side it replaces") {
    val rows = SpatialJoin.zoneCells(SynthGeo.zones, grid)
    val fullEdges = SynthGeo.zones.map(z =>
      grid.coverPolygon(z.geometry).size.toLong * SpatialJoin.zoneEdges(z).length).sum
    val clippedEdges = rows.map(_.edges.length.toLong).sum
    assert(rows.size === SynthGeo.zones.map(z => grid.coverPolygon(z.geometry).size).sum)
    assert(clippedEdges < fullEdges, s"clipped $clippedEdges edges vs full $fullEdges")
  }

  test("partitioned scale paths never plan a nested-loop or cartesian join") {
    import spark.implicits._
    val pts = SynthGeo.points(spark, TestSpark.sf001)
    val sites = spark.createDataset(SynthGeo.sites)
    val radius = SpatialJoin.radiusJoinPartitioned(
      pts, sites, CellGrid(6.5, origin = 0.0, rowWidth = 1L << 20), 6.5)
    radius.collect()
    val rPlan = radius.queryExecution.executedPlan.toString
    assert(!rPlan.contains("BroadcastNestedLoop") && !rPlan.contains("Cartesian"),
      s"radius join must stay an equi-join:\n$rPlan")
    val zonesDs = spark.createDataset(SynthGeo.zones)
    val pip = SpatialJoin.pipJoinPartitioned(pts, zonesDs, grid)
    pip.collect()
    val pPlan = pip.queryExecution.executedPlan.toString
    assert(!pPlan.contains("BroadcastNestedLoop") && !pPlan.contains("Cartesian"),
      s"partitioned PIP must stay an equi-join:\n$pPlan")
  }

  test("jaccard prefix candidate join is an equi-join with partial aggregation") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val q = graft.dedup.Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.6)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"prefix join must stay an equi-join:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected partial aggregation:\n$plan")
  }

  test("parquet scan prunes columns for the PIP query") {
    val pts = SynthGeo.points(spark, TestSpark.sf001).toDF()
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<event_id:bigint>"),
      s"expected pruned scan (event_id only):\n$plan")
  }
}
