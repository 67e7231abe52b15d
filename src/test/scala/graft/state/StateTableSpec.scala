package graft.state

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Schemas
import graft.ingest.Ingest

class StateTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): StateTable = {
    val dir = Files.createTempDirectory("graft-state").toString
    new StateTable(spark, dir, Schemas.ordersKey)
  }

  private def ordersBatch(name: String) =
    Ingest.readOrdersCsv(spark, TestSpark.fixture(name))

  test("first load appends all rows, within-batch duplicate keys kept") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    // fixture: 6 rows with one duplicated (ord-001, prod1520...) key
    assert(t.current().get.count() == 6)
  }

  test("re-run of the same file is row-count stable (reference §2.4)") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_fixture.csv"))
    assert(t.current().get.count() == 6)
  }

  test("re-run updates only the latest row per key, last batch row wins") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    val cur = t.current().get.cache()
    // 6 original + 2 inserted rows for the new key ord-005 (dup kept)
    assert(cur.count() == 8)
    val k = cur.filter(col("order_id") === "ord-001" && col("product_id") === "prod1520#prod100011001100")
      .orderBy(col("date_time")).collect()
    assert(k.length == 2)
    // earlier duplicate untouched (quantity 1 from first load)...
    assert(k.map(_.getAs[Int]("quantity")).toSet == Set(1, 9))
    // ...and the updated row carries the LAST rerun row's values
    assert(k.exists(r => r.getAs[Int]("quantity") == 9 && r.getAs[String]("campaign") == "updated_camp2"))
    assert(!k.exists(r => r.getAs[String]("campaign") == "updated_camp"))
    // new key appended twice
    assert(cur.filter(col("order_id") === "ord-005").count() == 2)
  }

  test("partitioned state: hive layout written, reads prune partitions") {
    val dir = Files.createTempDirectory("graft-part").toString
    val t = new StateTable(spark, dir, Seq("product_id"), partitionCols = Seq("category"))
    t.upsert(graft.ingest.Ingest.readInventoriesCsv(spark, TestSpark.fixture("inventory_fixture.csv")))
    // hive-style layout on disk
    val vdir = Files.list(java.nio.file.Paths.get(dir)).filter(_.getFileName.toString.startsWith("v-")).findFirst.get
    assert(Files.exists(vdir.resolve("category=Shoes")))
    // a category filter becomes a partition filter (pruned scan)
    val filtered = t.current().get.filter(col("category") === "Shoes")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("category"))
    assert(filtered.count() == 2)
  }

  test("compact collapses files without changing contents") {
    val t = freshTable()
    val batch = ordersBatch("orders_fixture.csv")
    t.upsert(batch)
    // force a fragmented version: many partitions -> many files
    t.overwrite(t.read().get.repartition(8))
    def parquetFiles(): Long = {
      val dir = java.nio.file.Paths.get(s"${t.root}/${t.currentVersion.get}")
      val s = Files.list(dir)
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close() // Files.list holds a directory fd
    }
    val before = t.current().get.orderBy(col("order_id"), col("product_id")).collect().toSeq
    val filesBefore = parquetFiles()

    t.compact(targetFiles = 1)

    val after = t.current().get.orderBy(col("order_id"), col("product_id")).collect().toSeq
    val filesAfter = parquetFiles()
    assert(after == before)
    assert(filesBefore > 1L)
    assert(filesAfter == 1L)
  }

  test("overwrite is atomic: pointer flips to a complete version") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    val v1 = t.currentVersion.get
    t.upsert(ordersBatch("orders_rerun.csv"))
    val v2 = t.currentVersion.get
    assert(v1 != v2)
    t.vacuum()
    assert(t.current().get.count() == 8)
  }

  test("version names are order-safe across clock domains (restart realism)") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    // simulate a version minted in a FASTER pre-restart clock domain:
    // a retained name whose nano prefix is far ahead of this JVM's
    // System.nanoTime — without the successor rule, the next local
    // write would sort BEFORE it, corrupting history order and any
    // version-name watermark (the q167/q168 resume hazard)
    val future = f"v-${Long.MaxValue - 7}%016x-aaaa"
    val futureDir = java.nio.file.Paths.get(t.root, future)
    val cur = java.nio.file.Paths.get(t.root, t.currentVersion.get)
    java.nio.file.Files.walk(cur).forEach { p =>
      val rel = cur.relativize(p)
      val dst = futureDir.resolve(rel)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst): Unit
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(t.root, "_CURRENT"), future)
    assert(t.history().last == future)
    // the restarted process's write must sort AFTER every retained name
    t.upsert(ordersBatch("orders_rerun.csv"))
    val newest = t.currentVersion.get
    assert(newest > future,
      s"post-restart version $newest sorts before retained $future")
    assert(t.history().last == newest)
  }

  test("vacuumBefore reclaims strictly-older versions, keeps watermark and newer") {
    val t = freshTable()
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    t.upsert(ordersBatch("orders_rerun.csv"))
    val Seq(v1, v2, v3) = t.history()
    // watermark at v2: only v1 is strictly older
    assert(t.vacuumBefore(v2) == Seq(v1))
    assert(t.history() == Seq(v2, v3))
    // idempotent: nothing older than the watermark remains
    assert(t.vacuumBefore(v2).isEmpty)
    // watermark at current: reclaims v2, never the current version
    assert(t.vacuumBefore(v3) == Seq(v2))
    assert(t.history() == Seq(v3))
    assert(t.vacuumBefore(v3).isEmpty)
    assert(t.current().get.count() == 8)
  }

  test("the version-schema cache holds entries only for retained versions") {
    // every version write seeds the process-wide schema cache; a store
    // that upserts and reclaims on every cycle (continuous retention)
    // must not grow it by one entry per cycle
    val t = freshTable()
    def cached = {
      import scala.jdk.CollectionConverters._
      StateTable.versionSchemas.keySet.asScala
        .filter(_.startsWith(t.root + java.io.File.separator)).toSet
    }
    def retained = t.history().map(v => java.nio.file.Paths.get(t.root, v).toString).toSet
    (1 to 20).foreach { i =>
      t.upsert(ordersBatch(if (i % 2 == 1) "orders_fixture.csv" else "orders_rerun.csv"))
      t.vacuumBefore(t.currentVersion.get)
    }
    assert(t.history().size == 1)
    assert(cached == retained, s"cache ${cached.size} entries for ${retained.size} retained")
    // the unbounded vacuum evicts too
    t.upsert(ordersBatch("orders_rerun.csv"))
    t.upsert(ordersBatch("orders_fixture.csv"))
    t.vacuum()
    assert(t.history().size == 1 && cached == retained)
  }
}
