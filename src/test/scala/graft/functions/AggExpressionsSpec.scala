package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** ObjArgExtremum (min_by_obj / max_by_obj) must match the built-in
  * min_by / max_by value-for-value — the engine swapped them in for the
  * claims argmin, submission aggregate and links last-wins (optimization
  * r6) because the built-ins plan as SortAggregate — and must actually
  * plan as ObjectHashAggregate (the point of the swap).
  */
class AggExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("min_by_obj/max_by_obj equal the built-ins on struct orderings") {
    import spark.implicits._
    // several groups, unique tie-break (id), negative priorities, strings
    val df = Seq(
      ("h1", 3, 100L, "aa", "p1"), ("h1", 3, 100L, "ab", "p2"),
      ("h1", -1, 50L, "zz", "p3"), ("h2", 7, 999L, "mm", "p4"),
      ("h2", 7, 1L, "nn", "p5"), ("h3", 0, 0L, "qq", "p6")
    ).toDF("host", "prio", "nfa", "id", "payload")
    val ord = struct((-col("prio")).as("np"), col("nfa"), col("id"))
    val value = struct(col("payload"), col("id"))
    val builtin = df.groupBy($"host")
      .agg(min_by(value, ord).as("mn"), max_by(value, ord).as("mx"))
      .orderBy("host").collect()
    val objForm = df.groupBy($"host")
      .agg(AggExpressions.min_by_obj(value, ord).as("mn"),
        AggExpressions.max_by_obj(value, ord).as("mx"))
      .orderBy("host").collect()
    assert(objForm.map(_.toString).toSeq == builtin.map(_.toString).toSeq)
  }

  test("min_by_obj plans as ObjectHashAggregate, not SortAggregate") {
    import spark.implicits._
    val df = Seq(("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z"))
      .toDF("k", "v", "p")
    val q = df.groupBy($"k").agg(AggExpressions.min_by_obj(
      struct($"p"), struct($"v", $"p")).as("m"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("serialize/deserialize round-trips through a repartition shuffle") {
    import spark.implicits._
    // many partitions force partial buffers to serialize across the
    // exchange; result must still equal the built-in
    val df = spark.range(1000).select(
      (col("id") % 7).as("k"), col("id").as("v"),
      concat(lit("s"), col("id")).as("s"))
      .repartition(13)
    val a = df.groupBy($"k")
      .agg(min_by(struct($"s", $"v"), struct((-col("v")).as("nv"), $"s")))
      .orderBy("k").collect()
    val b = df.groupBy($"k")
      .agg(AggExpressions.min_by_obj(
        struct($"s", $"v"), struct((-col("v")).as("nv"), $"s")))
      .orderBy("k").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("serialize returns a fresh array: a later call leaves it intact") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    // (long, long) pairs are fixed-width, so each row fills the
    // projection's buffer exactly
    val agg = ObjArgExtremum(BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true), max = false)
    val first = agg.serialize(new ArgExtremumBuf(1L, 10L))
    agg.serialize(new ArgExtremumBuf(2L, 20L))
    val back = agg.deserialize(first)
    assert((back.ord, back.value) == ((1L, 10L)))
  }
}
