package graft.ingest

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.TestSpark
import graft.schemasync.SchemaSync
import graft.state.StateTable

/** Model test for the maintained-report walk ([[IngestQueries.maintain]])
  * over generated change sequences, for a one-source shape
  * ([[IngestQueries.productShape]]) and the two-source one
  * ([[IngestQueries.joinedShape]]). The judged flows drive a few
  * hand-picked transitions; here every step lands 1–3 random changes —
  * order upserts (LWW updates plus inserts), whole-key purges through
  * `overwrite`, `compact`, an AddColumn schema sync and catalog
  * category moves — and then a durable consumer resumes through FRESH
  * handles (the restart every resume must survive). After every
  * resume the durable report must equal both the Spark recompute
  * (`shape.report` over the current contents) and an in-memory model
  * of the stores, and a repeated resume must apply zero steps. Midway
  * the stores are vacuumed up to the first consumer's watermarks and a
  * second consumer joins, so the bootstrap from retained versions is
  * checked too. Steps that change both stores between two resumes
  * carry the ΔO⋈ΔI cross term: the walk gets it only by holding a
  * source whose phase is done at its latest version.
  */
class MaintainWalkPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ordersKey = graft.core.Schemas.ordersKey
  private val ordersSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("product_id", StringType),
    StructField("amount", DoubleType)))
  private val evolvedSchema =
    StructType(ordersSchema.fields :+ StructField("discount", DoubleType))
  private val invSchema = StructType(Seq(
    StructField("product_id", StringType), StructField("category", StringType)))
  private val products = (0 until 10).map(i => s"p$i")
  private val categories = Seq("c0", "c1", "c2", "c3")

  private sealed trait Op
  private final case class Upsert(seed: Long, nUpd: Int, nIns: Int) extends Op
  private final case class Purge(seed: Long, n: Int) extends Op
  private case object Compact extends Op
  private case object AddColumn extends Op
  private final case class Move(seed: Long, n: Int) extends Op

  /** `steps` are the change batches landed between resumes; the second
    * consumer joins after step `joinAfter`'s resume.
    */
  private final case class Case(seed: Long, nInit: Int, steps: List[List[Op]],
      joinAfter: Int)

  /** What the stores hold, as the spec expects it: order amounts by
    * key (keys stay unique, so LWW is a map update) and the catalog.
    */
  private final class Model {
    var orders = Map.empty[(String, String), Double]
    var inv = Map.empty[String, String]
    var nextOrder = 0
    def newOrder(r: Random): ((String, String), Double) = {
      nextOrder += 1
      (s"o$nextOrder", products(r.nextInt(products.size))) -> r.nextInt(100000) / 100.0
    }
    def report(joined: Boolean): Set[List[Any]] = {
      val rows =
        if (joined) orders.toSeq.collect { case ((_, p), a) if inv.contains(p) => inv(p) -> a }
        else orders.toSeq.map { case ((_, p), a) => p -> a }
      rows.groupBy(_._1).map { case (g, rs) =>
        List[Any](g, rs.size.toLong, rs.map(r => math.floor(r._2 * 100).toLong).sum)
      }.toSet
    }
  }

  private def ordersDf(rows: Seq[((String, String), Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case ((o, p), a) => (o, p, a) }.toDF("order_id", "product_id", "amount")
  }

  private def land(op: Op, m: Model, orders: StateTable, inv: StateTable): Unit = {
    import spark.implicits._
    op match {
      case Upsert(seed, nUpd, nIns) =>
        val r = new Random(seed)
        val upd = r.shuffle(m.orders.keys.toSeq.sorted).take(nUpd)
          .map(k => k -> r.nextInt(100000) / 100.0)
        val rows = upd ++ Seq.fill(nIns)(m.newOrder(r))
        if (rows.nonEmpty) {
          orders.upsert(ordersDf(rows))
          m.orders ++= rows
        }
      case Purge(seed, n) =>
        val victims = new Random(seed).shuffle(m.orders.keys.toSeq.sorted).take(n)
        orders.overwrite(orders.read().get.join(
          victims.toDF("order_id", "product_id"), ordersKey, "left_anti"))
        m.orders --= victims
      case Compact => orders.compact(targetFiles = 1)
      case AddColumn => SchemaSync.sync(spark, orders, evolvedSchema): Unit
      case Move(seed, n) =>
        val r = new Random(seed)
        val moved = r.shuffle(products).take(n)
          .map(p => p -> categories(r.nextInt(categories.size)))
        inv.upsert(moved.toDF("product_id", "category"))
        m.inv ++= moved
    }
  }

  private def run(shape: IngestQueries.MaintainedShape, c: Case): Unit = {
    import spark.implicits._
    val joined = shape.sources.size == 2
    val root = Files.createTempDirectory("graft-walk-prop")
    val ordersRoot = root.resolve("orders").toString
    val invRoot = root.resolve("inv").toString
    // fresh handles on every call: nothing survives a "restart" but disk
    def stores() = Seq(new StateTable(spark, ordersRoot, ordersKey),
      new StateTable(spark, invRoot, Seq("product_id"))).take(shape.sources.size)
    def durable(name: String) = new IngestQueries.DurableReport(
      IngestQueries.reportStoreHandle(spark, root.resolve(name).toString, shape), shape)
    def resume(name: String): Seq[Int] = IngestQueries.maintain(stores(), durable(name))

    val m = new Model
    val Seq(orders, inv) = Seq(ordersRoot, invRoot).zip(Seq(ordersKey, Seq("product_id")))
      .map { case (r, k) => new StateTable(spark, r, k) }
    SchemaSync.sync(spark, orders, ordersSchema)
    SchemaSync.sync(spark, inv, invSchema)
    val r = new Random(c.seed)
    // p8 and p9 stay unlisted until a move lists them: their orders
    // join nothing
    val catalog = products.take(8).map(p => p -> categories(r.nextInt(categories.size)))
    inv.upsert(catalog.toDF("product_id", "category"))
    m.inv ++= catalog
    val init = Seq.fill(c.nInit)(m.newOrder(r))
    orders.upsert(ordersDf(init))
    m.orders ++= init

    def check(name: String, when: String): Unit = {
      def rows(df: DataFrame) = df.select((shape.groupCols ++ shape.measureCols).map(
        org.apache.spark.sql.functions.col): _*).collect().map(_.toSeq.toList).toSet
      val rep = durable(name)
      val got = rows(rep.report())
      assert(got == rows(shape.report(stores().map(_.current().get): _*)),
        s"$name: durable report != recompute $when")
      assert(got == m.report(joined), s"$name: durable report != model $when")
      val versions = IngestQueries.reportStoreHandle(spark,
        root.resolve(name).toString, shape).history().size
      assert(resume(name).forall(_ == 0), s"$name: a repeated resume folded again $when")
      assert(IngestQueries.reportStoreHandle(spark, root.resolve(name).toString, shape)
        .history().size == versions, s"$name: a repeated resume wrote a version $when")
    }

    val consumers = scala.collection.mutable.ArrayBuffer("a")
    resume("a")
    check("a", "after the initial loads")
    c.steps.zipWithIndex.foreach { case (ops, k) =>
      ops.foreach(land(_, m, orders, inv))
      consumers.foreach { name =>
        resume(name)
        check(name, s"after step $k $ops")
      }
      if (k == c.joinAfter) {
        // retention up to the only consumer's watermarks, then a
        // newcomer bootstraps from the retained versions
        stores().zip(durable("a").watermarks().get).foreach { case (st, wm) =>
          st.vacuumBefore(wm): Unit
        }
        consumers += "b"
        resume("b")
        check("b", s"joining after step $k")
      }
    }
  }

  private def property(shape: IngestQueries.MaintainedShape): Unit = {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val opGen: Gen[Op] = Gen.frequency(
      3 -> (for {
        s <- Gen.long; u <- Gen.choose(0, 20); i <- Gen.choose(0, 20)
      } yield Upsert(s, u, i)),
      1 -> (for { s <- Gen.long; n <- Gen.choose(1, 10) } yield Purge(s, n)),
      1 -> Gen.const(Compact),
      1 -> Gen.const(AddColumn),
      2 -> (for { s <- Gen.long; n <- Gen.choose(1, 3) } yield Move(s, n)))
    val caseGen = for {
      seed <- Gen.long
      nInit <- Gen.choose(100, 300)
      nSteps <- Gen.choose(3, 5)
      steps <- Gen.listOfN(nSteps, Gen.choose(1, 3).flatMap(Gen.listOfN(_, opGen)))
      joinAfter <- Gen.choose(0, nSteps - 1)
    } yield Case(seed, nInit, steps, joinAfter)
    // each case is a few dozen small Spark jobs: few cases, no
    // shrinking (a failing case is reported as generated), and a fixed
    // seed so a failure reproduces
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5).withInitialSeed(20261018L),
      Prop.forAllNoShrink(caseGen) { c => run(shape, c); true })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("one-source walk: durable report equals the recompute after every resume") {
    property(IngestQueries.productShape)
  }

  test("two-source walk: durable report equals the recompute after every resume") {
    property(IngestQueries.joinedShape)
  }
}
