package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ml.TableCleaner
import graft.operators.{Grouping, Joins, Ops}
import graft.streaming.Streams

/** relational_mix: a seeded stream of parameterized pandas-style queries
  * over the TPC-H-shaped tables. A cycle is a round: each template once, in
  * a fixed order, with the parameters the plan lists for that round. */
final class Relational(ctx: Ctx, plan: JsonNode) extends Workload {
  private val queries = plan.get("queries").elements().asScala.toVector
  private val templates = Json.strs(plan.get("templates"))

  private def t(name: String) = ctx.table(name)

  def warm(spark: SparkSession): Unit = {
    Seq("lineitem", "orders", "customer", "part").foreach(t)
    Json.rows(Trace.df("Grouping", "agg")(
      Grouping.groupby(t("nation"), Seq("n_regionkey")).agg(Seq("n_nationkey" -> "count"))))
  }

  def setup(spark: SparkSession): Unit = ()

  def cycle(c: Int): Seq[Request] = templates.indices.map { i =>
    val q = queries((c * templates.size + i) % queries.size)
    val name = q.get("template").asText
    val p = q.get("params")
    Request(name, Map("id" -> q.get("id").asInt), () => Json.rows(run(name, p)))
  }

  /** One round with the plan's last parameter set, which no run reaches. */
  def warmup: Seq[Request] = cycle(queries.size / templates.size - 1)

  private def ops(op: String)(body: => DataFrame) = Trace.df("Ops", op)(body)
  private def joins(body: => DataFrame) = Trace.df("Joins", "join")(body)
  private def grouping(op: String)(body: => DataFrame) = Trace.df("Grouping", op)(body)

  private def run(name: String, p: JsonNode): DataFrame = name match {
    case "pipeline" => // the reference's compare.py: join -> drop_duplicates -> groupby
      val li = ops("filters")(Ops.filters(t("lineitem"), ("l_quantity", "<=", p.get("qmax").asDouble)))
        .select(col("l_orderkey").as("orderkey"))
      val od = t("orders").select(col("o_orderkey").as("orderkey"),
        col("o_orderpriority"), col("o_orderstatus"))
      val dd = ops("dropDuplicates")(Ops.dropDuplicates(joins(Joins.join(li, od, Seq("orderkey")))))
      grouping("agg")(Grouping.groupby(dd, Seq("o_orderpriority", "o_orderstatus"))
        .agg(Seq("orderkey" -> "count")))

    case "filters_agg" =>
      val f = ops("filters")(Ops.filters(t("lineitem"), Seq(
        ("l_discount", "between", Seq(p.get("dlo").asDouble, p.get("dhi").asDouble)),
        ("l_returnflag", "in", Json.strs(p.get("flags"))),
        ("l_quantity", "<", p.get("qmax").asDouble))))
      grouping("agg")(Grouping.groupby(f, Seq("l_returnflag", "l_linestatus")).agg(Seq(
        "l_extendedprice" -> "sum", "l_quantity" -> "mean", "l_discount" -> "max",
        "l_orderkey" -> "count")))

    case "median" =>
      val f = ops("filters")(Ops.filters(t("lineitem"), ("l_discount", ">=", p.get("dmin").asDouble)))
      grouping("agg")(Grouping.groupby(f, Seq("l_returnflag"))
        .agg(Seq("l_extendedprice" -> "median", "l_quantity" -> "median")))

    case "broadcast_join" =>
      val pt = ops("filters")(Ops.filters(t("part"), ("p_brand", "in", Json.strs(p.get("brands")))))
        .select(col("p_partkey").as("partkey"), col("p_type"))
      val li = t("lineitem").select(col("l_partkey").as("partkey"), col("l_quantity"),
        col("l_extendedprice"))
      val j = joins(Joins.join(li, pt, Seq("partkey"), broadcastRight = true))
      grouping("agg")(Grouping.groupby(j, Seq("p_type")).agg(Seq(
        "l_quantity" -> "sum", "l_extendedprice" -> "mean", "partkey" -> "count")))

    case "shuffle_join" =>
      val od = ops("filters")(Ops.filters(t("orders"), ("o_totalprice", ">", p.get("pmin").asDouble)))
        .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"))
      val li = t("lineitem").select(col("l_orderkey").as("orderkey"), col("l_extendedprice"))
      val cu = t("customer").select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val j = joins(Joins.join(joins(Joins.join(li, od, Seq("orderkey"))), cu, Seq("custkey"),
        broadcastRight = true))
      grouping("agg")(Grouping.groupby(j, Seq("c_mktsegment")).agg(Seq(
        "l_extendedprice" -> "sum", "orderkey" -> "count_distinct")))

    case "topk" =>
      val f = ops("filters")(Ops.filters(t("lineitem"), Seq(
        ("l_returnflag", "=", p.get("flag").asText), ("l_tax", "<=", p.get("tmax").asDouble))))
      ops("topK")(Ops.topK(f, p.get("k").asInt,
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")

    case "window_rank" =>
      val f = ops("filters")(Ops.filters(t("lineitem"), ("l_suppkey", "<", p.get("smax").asLong)))
      ops("topKPerKey")(Ops.topKPerKey(f, Seq("l_suppkey"),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), p.get("k").asInt))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")

    case "rollup" => // (flag, status) -> flag -> total, folded from one state table
      val f = ops("filters")(Ops.filters(t("lineitem"), ("l_quantity", ">=", p.get("qmin").asDouble)))
      val st = grouping("aggState")(
        Grouping.aggState(f, Seq("l_returnflag", "l_linestatus"), Seq("l_extendedprice")))
      val byFlag = grouping("mergeAggStates")(
        Grouping.mergeAggStates(Seq("l_returnflag"), st.drop("l_linestatus")))
      val total = grouping("mergeAggStates")(
        Grouping.mergeAggStates(Nil, st.drop("l_returnflag", "l_linestatus")))
      grouping("finalizeAggState")(Seq(st, byFlag, total).map(Grouping.finalizeAggState)
        .reduce(_.unionByName(_, allowMissingColumns = true)))

    case "sessionize" =>
      val ev = ops("filters")(Ops.filters(t("events"), ("user_id", "<", p.get("umax").asLong)))
      Trace.df("Streams", "sessionizeBatch")(Streams.sessionizeBatch(ev, p.get("gap").asInt))
        .select("user_id", "session_id", "n_events", "start_us", "end_us")

    case "tumbling" =>
      val ev = ops("filters")(Ops.filters(t("events"), ("event_type", "in", Json.strs(p.get("types")))))
      Trace.df("Streams", "tumblingAgg")(Streams.tumblingAgg(ev, s"${p.get("minutes").asInt} minutes"))

    case "cleaner" => // TableCleaner fit + transform
      val cu = ops("filters")(Ops.filters(t("customer"),
        ("c_nationkey", "in", Json.longs(p.get("nations")).map(_.toInt))))
      val tc = new TableCleaner
      tc.registerNumeric("c_custkey", clip = false)
      tc.registerNumeric("c_acctbal", scale = p.get("scale").asText)
      tc.registerOneHot("c_mktsegment")
      Trace("TableCleaner", "fit")(tc.fit(cu))
      Trace.df("TableCleaner", "cleanTable")(tc.cleanTable(cu))

    case other => throw new IllegalArgumentException(s"unknown template $other")
  }

  def release(): Unit = ()
}
