package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.bulk.{GraphLoader, NodeSetOps, RelSetOps}
import graft.bulk.GraphLoader.{EdgeBatch, NodeBatch}
import graft.ogm.Graph
import graft.schema.{EqKey, FieldFilter, FilterOp, NodeSpec, RelSpec}
import Workload._

/** graphio's own use: `GraphLoader.merge` loads a customers / orders /
  * nations graph, a second overlapping batch is merged into it, and a
  * fixed read set runs over the result. Load and reads form one unit,
  * because the loader pins edges lazily and the first read pays for it.
  */
final class GraphWorkload(spark: SparkSession, seed: Long, dir: String,
                          nCustomers: Int, nOrders: Int) extends Workload {
  import spark.implicits._

  private val custSpec = NodeSpec(Seq("Customer"), Seq("uid"),
    preserve = Seq("segment"), appendProps = Seq("tags"), sumProps = Seq("visits"))
  private val orderSpec = NodeSpec(Seq("Order"), Seq("uid"),
    preserve = Seq("priority"), sumProps = Seq("amount"))
  private val nationSpec = NodeSpec(Seq("Nation"), Seq("uid"), preserve = Seq("region"))
  private val placedSpec = RelSpec("PLACED", Seq("Customer"), Seq("Order"),
    Seq(EqKey("uid")), Seq(EqKey("uid")), sumProps = Seq("qty"))
  private val locatedSpec = RelSpec("LOCATED", Seq("Customer"), Seq("Nation"),
    Seq(EqKey("uid")), Seq(EqKey("uid")))

  private var input: Gen.GraphInput = _
  private var batches: Seq[(Seq[NodeBatch], Seq[EdgeBatch])] = Nil
  private var loaded: Graph = _
  private var merged: Graph = _
  private var reads: Map[String, Seq[Row]] = Map.empty

  def inputRows: Long = Seq(input.b1, input.b2).map(b =>
    b.customers.length + b.orders.length + b.nations.length + b.placed.length + b.located.length).sum
  // two merges, four matchNodes, firstNode, two forward traversals, one
  // reverse traversal and one two-hop chain
  def opsPerRep: Int = 11
  def tracedOpsPerRep: Int = opsPerRep + 2

  def setup(): Unit = {
    input = Gen.graph(seed, nCustomers, nOrders)
    val tables = Seq(1 -> input.b1, 2 -> input.b2).flatMap { case (i, b) => Seq(
      s"customer$i" -> b.customers.toDF("uid", "name", "segment", "tags", "visits"),
      s"order$i" -> b.orders.toDF("uid", "status", "amount", "priority"),
      s"nation$i" -> b.nations.toDF("uid", "name", "region"),
      s"placed$i" -> b.placed.toDF("start_uid", "end_uid", "qty", "channel"),
      s"located$i" -> b.located.toDF("start_uid", "end_uid", "since"))
    }
    // ten small tables: written concurrently, so set-up is not ten serial jobs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(tables) { case (name, df) =>
      Future(df.write.mode("overwrite").parquet(s"$dir/graph-input/$name"))
    }, scala.concurrent.duration.Duration.Inf)
    def table(name: String) = spark.read.parquet(s"$dir/graph-input/$name")
    batches = Seq(1, 2).map { i =>
      (Seq(NodeBatch(custSpec, table(s"customer$i")), NodeBatch(orderSpec, table(s"order$i")),
        NodeBatch(nationSpec, table(s"nation$i"))),
       Seq(EdgeBatch(placedSpec, table(s"placed$i")), EdgeBatch(locatedSpec, table(s"located$i"))))
    }
  }

  private def ff(f: String, op: FilterOp, v: Any) = FieldFilter(f, op, v)

  /** The fixed read set, in the order it runs; the first forward traversal
    * is the first read of the merged graph's edges.
    */
  private def readSet(g: Graph): Seq[(String, String, () => DataFrame)] = Seq(
    ("first_read", "ogm.first_read", () => g.traverse(Seq("Customer"), Seq("uid"), "PLACED",
      Seq("Order"), Seq("uid"), srcFilters = Seq(ff("segment", FilterOp.Eq, "BUILDING")),
      dstFilters = Seq(ff("status", FilterOp.Eq, "O")))),
    ("traverse", "ogm.traverse", () => g.traverse(Seq("Customer"), Seq("uid"), "PLACED",
      Seq("Order"), Seq("uid"), srcFilters = Seq(ff("segment", FilterOp.Ne, "MACHINERY")),
      dstFilters = Seq(ff("status", FilterOp.Eq, "F")))),
    ("reverse", "ogm.traverse_reverse", () => g.traverse(Seq("Customer"), Seq("uid"), "PLACED",
      Seq("Order"), Seq("uid"), dstFilters = Seq(ff("amount", FilterOp.Gt, 15000L)),
      reverse = true)),
    ("chain", "ogm.traverse_chain", () => g.traverseChain(Seq("Order"), Seq("uid"),
      Seq(("PLACED", true, Nil), ("LOCATED", false, Nil)),
      anchorFilters = Seq(ff("amount", FilterOp.Ge, 19000L)))),
    ("match_customer", "ogm.match", () => g.matchNodes(Seq("Customer"),
      ff("segment", FilterOp.Eq, "BUILDING"), ff("visits", FilterOp.Ge, 30L))),
    ("match_order", "ogm.match", () => g.matchNodes(Seq("Order"),
      ff("status", FilterOp.Ne, "F"), ff("amount", FilterOp.Lt, 300L),
      ff("priority", FilterOp.EndsWith, "URGENT"))),
    ("match_name", "ogm.match", () => g.matchNodes(Seq("Customer"),
      ff("name", FilterOp.StartsWith, "cust_1"), ff("name", FilterOp.Contains, "_b2"),
      ff("visits", FilterOp.Le, 10L))),
    ("match_amount", "ogm.match", () => g.matchNodes(Seq("Order"),
      ff("amount", FilterOp.Gt, 19500L))),
    ("first_nation", "ogm.match", () => g.firstNode(Seq("Nation"),
      ff("region", FilterOp.Eq, "region_1"))))

  private def load(t: Option[Tracer]): Unit = {
    def sp[A](name: String)(f: => A): A = t.fold(f)(_.span(name)(f))
    val (n1, e1) = batches.head
    val (n2, e2) = batches(1)
    loaded = sp("bulk.graph_load")(GraphLoader.merge(n1, e1))
    merged = sp("bulk.merge_into")(GraphLoader.merge(n2, e2, into = Some(loaded)))
    reads = readSet(merged).map { case (key, span, q) =>
      key -> sp(span)(q().collect().toSeq)
    }.toMap
  }

  def run(): Unit = load(None)

  def parts: Seq[String] = Seq("bulk.graph_load", "bulk.merge_into", "ogm.first_read",
    "ogm.traverse", "ogm.traverse_reverse", "ogm.traverse_chain", "ogm.match")

  def traced(t: Tracer): Unit = {
    t.span("rep")(load(Some(t)))
    // the two bulk operators alone, on the first batch's customers and
    // PLACED edges against the loaded node table
    val (n1, e1) = batches.head
    t.span("bulk.node_merge")(noop(NodeSetOps.merge(None, n1.head.rows, custSpec)))
    t.span("bulk.edge_merge")(noop(RelSetOps.merge(None, e1.head.staged, loaded.nodes, placedSpec)))
  }

  def storedBytes(): Long = cachedBytes(spark)

  def extras: Map[String, Double] = Map.empty

  def reset(): Unit = {
    Option(merged).foreach(_.release())
    Option(loaded).foreach(_.release())
    clearCache(spark)
  }

  def check(): Seq[String] = {
    val tr = input.truth
    val custT = tr.customers.toDF("uid", "name", "segment", "tags", "visits")
    val orderT = tr.orders.toDF("uid", "status", "amount", "priority")
    val nationT = tr.nations.toDF("uid", "name", "region")
    val placedT = tr.placed.toDF("src", "dst", "qty", "channel")
    val locatedT = tr.located.toDF("src", "dst", "since")
    Seq("t_customer" -> custT, "t_order" -> orderT, "t_nation" -> nationT,
      "t_placed" -> placedT, "t_located" -> locatedT).foreach { case (n, df) =>
      df.createOrReplaceTempView(n)
    }
    val g = merged
    def cols(rows: Seq[Row], names: String*): Seq[Row] =
      rows.map(r => Row.fromSeq(names.map(n => r.get(r.fieldIndex(n)))))
    val ids = RelSetOps.withNodeId(g.nodes, Seq("uid")).select("_node_id", "uid")
    // every row set the checks compare, collected as concurrent Spark jobs:
    // one at a time they cost more than a repetition
    val q = collectAll(Seq(
      "nodes" -> g.nodes,
      "edges" -> g.edges
        .join(ids.select(col("_node_id").as("src_id"), col("uid").as("src")), "src_id")
        .join(ids.select(col("_node_id").as("dst_id"), col("uid").as("dst")), "dst_id"),
      "edge_count" -> g.edges.agg(count(lit(1))),
      "t_customer" -> custT, "t_order" -> orderT, "t_nation" -> nationT,
      "t_placed" -> placedT, "t_located" -> locatedT,
      "first_read" -> spark.sql(
        """SELECT DISTINCT o.* FROM t_customer c JOIN t_placed p ON p.src = c.uid
          |JOIN t_order o ON o.uid = p.dst
          |WHERE c.segment = 'BUILDING' AND o.status = 'O'""".stripMargin),
      "traverse" -> spark.sql(
        """SELECT DISTINCT o.* FROM t_customer c JOIN t_placed p ON p.src = c.uid
          |JOIN t_order o ON o.uid = p.dst
          |WHERE c.segment != 'MACHINERY' AND o.status = 'F'""".stripMargin),
      "reverse" -> spark.sql(
        """SELECT DISTINCT c.* FROM t_customer c JOIN t_placed p ON p.src = c.uid
          |JOIN t_order o ON o.uid = p.dst WHERE o.amount > 15000""".stripMargin),
      "chain" -> spark.sql(
        """SELECT DISTINCT n.* FROM t_order o JOIN t_placed p ON p.dst = o.uid
          |JOIN t_located l ON l.src = p.src JOIN t_nation n ON n.uid = l.dst
          |WHERE o.amount >= 19000""".stripMargin),
      "match_customer" -> spark.sql(
        "SELECT * FROM t_customer WHERE segment = 'BUILDING' AND visits >= 30"),
      "match_order" -> spark.sql(
        """SELECT * FROM t_order WHERE status != 'F' AND amount < 300
          |AND priority LIKE '%URGENT'""".stripMargin),
      "match_name" -> spark.sql(
        """SELECT * FROM t_customer WHERE name LIKE 'cust\_1%' AND name LIKE '%\_b2%'
          |AND visits <= 10""".stripMargin),
      "match_amount" -> spark.sql("SELECT * FROM t_order WHERE amount > 19500"),
      "first_nation" -> spark.sql("SELECT * FROM t_nation WHERE region = 'region_1'")))

    val nodes = q("nodes")
    def labelled(l: String) = nodes.filter(_.getAs[Seq[String]](NodeSetOps.LabelsCol).head == l)
    val (cust, ord, nat) = (labelled("Customer"), labelled("Order"), labelled("Nation"))
    val counts =
      expect(cust.length == tr.customers.length, "customer node count") ++
      expect(ord.length == tr.orders.length, "order node count") ++
      expect(nat.length == tr.nations.length, "nation node count") ++
      expect(nodes.length == tr.customers.length + tr.orders.length + tr.nations.length,
        "node count != distinct keys over both batches")
    val props =
      diff("customer props", cols(cust, "uid", "name", "segment", "tags", "visits"), q("t_customer")) ++
      diff("order props", cols(ord, "uid", "status", "amount", "priority"), q("t_order")) ++
      diff("nation props", cols(nat, "uid", "name", "region"), q("t_nation"))
    val edges = q("edges")
    def typed(t: String) = edges.filter(_.getAs[String](RelSetOps.RelType) == t)
    val edgeChecks =
      diff("PLACED edges", cols(typed("PLACED"), "src", "dst", "qty", "channel"), q("t_placed")) ++
      diff("LOCATED edges", cols(typed("LOCATED"), "src", "dst", "since"), q("t_located")) ++
      expect(q("edge_count").head.getLong(0) == tr.placed.length + tr.located.length,
        s"edge count != live edges (${tr.dangling} dangling refs must drop)")

    val orderCols = Seq("uid", "status", "amount", "priority")
    val custCols = Seq("uid", "name", "segment", "tags", "visits")
    val natCols = Seq("uid", "name", "region")
    val readChecks = Seq(
      "first_read" -> orderCols, "traverse" -> orderCols, "reverse" -> custCols,
      "chain" -> natCols, "match_customer" -> custCols, "match_order" -> orderCols,
      "match_name" -> custCols, "match_amount" -> orderCols).flatMap { case (read, c) =>
      diff(read, cols(reads(read), c: _*), q(read))
    } ++ {
      val first = cols(reads("first_nation"), natCols: _*)
      expect(first.length == 1, "firstNode did not return one row") ++
        expect(first.forall(q("first_nation").contains), "firstNode returned a row outside its filter")
    }

    counts ++ props ++ edgeChecks ++ readChecks
  }

  private def collectAll(dfs: Seq[(String, DataFrame)]): Map[String, Seq[Row]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(dfs) { case (k, df) => Future(k -> df.collect().toSeq) },
      scala.concurrent.duration.Duration.Inf).toMap
  }

  override def checkRerun(): Seq[String] = {
    val (n2, e2) = batches(1)
    val again = GraphLoader.merge(n2, e2, into = Some(merged))
    val idem = expect(again.nodes.count() == merged.nodes.count() &&
        again.edges.count() == merged.edges.count(),
      "merging the second batch again changed the node or edge count")
    again.release()
    idem
  }
}
