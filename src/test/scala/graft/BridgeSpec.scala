package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, GraftColumnBridge, GraftRddBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import graft.functions.PointInPolygonExpr

/** Pins the private Spark APIs the two package bridges call. On a Spark
  * upgrade that moves or changes either API, these fail with a message
  * naming the bridge and the API instead of a bare linkage error. */
class BridgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pinned[T](bridge: String, api: String)(body: => T): T =
    try body catch {
      case e @ (_: LinkageError | _: ReflectiveOperationException | _: ClassCastException) =>
        fail(s"$bridge relies on $api, which Spark ${spark.version} does not provide: $e", e)
    }

  test("GraftRddBridge.freshStatsCopy: classic.SparkSession.internalCreateDataFrame") {
    val bridge = "GraftRddBridge.freshStatsCopy"
    val api = "private[sql] org.apache.spark.sql.classic.SparkSession" +
      ".internalCreateDataFrame(RDD[InternalRow], StructType, isStreaming: Boolean)"
    pinned(bridge, api) {
      Class.forName("org.apache.spark.sql.classic.SparkSession").getMethod(
        "internalCreateDataFrame", classOf[RDD[InternalRow]], classOf[StructType], java.lang.Boolean.TYPE)
    }
    val ck = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint()
    val copy = pinned(bridge, api)(GraftRddBridge.freshStatsCopy(ck))
    assert(copy.schema === ck.schema, s"$bridge changed the schema through $api")
    assert(copy.collect().map(_.getLong(0)).sorted.toSeq === (0L until 1000L),
      s"$bridge changed the rows through $api")
    // the reason the bridge exists: the copy plans with default statistics
    val default = BigInt(SQLConf.get.defaultSizeInBytes)
    assert(ck.queryExecution.optimizedPlan.stats.sizeInBytes < default)
    assert(copy.queryExecution.optimizedPlan.stats.sizeInBytes === default,
      s"$bridge no longer resets statistics through $api")
  }

  test("GraftColumnBridge: classic.ExpressionUtils.column / expression") {
    val bridge = "GraftColumnBridge"
    val api = "org.apache.spark.sql.classic.ExpressionUtils.column(Expression) and .expression(Column)"
    pinned(bridge, api) {
      val cls = Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
      cls.getMethod("column", classOf[Expression])
      cls.getMethod("expression", classOf[Column])
    }
    val e = PointInPolygonExpr(Literal(0.5), Literal(0.5), Literal(1.0))
    assert(pinned(bridge, api)(GraftColumnBridge.expression(GraftColumnBridge.column(e))) === e,
      s"$bridge no longer round-trips an expression through $api")
    // PointInPolygonExpr enters queries through the bridge
    def edge(ax: Double, ay: Double, bx: Double, by: Double) =
      struct(lit(ax).as("ax"), lit(ay).as("ay"), lit(bx).as("bx"), lit(by).as("by"))
    val square = array(edge(0, 0, 1, 0), edge(1, 0, 1, 1), edge(1, 1, 0, 1), edge(0, 1, 0, 0))
    val got = pinned(bridge, api) {
      spark.range(1).select(
        PointInPolygonExpr.pointInPolygon(lit(0.5), lit(0.5), square),
        PointInPolygonExpr.pointInPolygon(lit(1.5), lit(0.5), square)).head()
    }
    assert(got.getBoolean(0) && !got.getBoolean(1), s"point_in_polygon through $bridge")
  }
}
