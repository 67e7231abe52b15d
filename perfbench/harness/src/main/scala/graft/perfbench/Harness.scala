package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftExtensions
import graft.ingest.Ingest
import graft.reports.Reports
import graft.schemasync.SchemaSync
import graft.state.StateTable

/** Benchmark harness: runs one workload through the program's public layer
  * functions and writes what it measured to `<work>/result.json`. The
  * metrics themselves are computed from that file by `perfbench/run.py`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <cpus> <workDir> <dataDir>
  */
object Harness {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seed, seconds, trace, cpus, work, data) = args
    val ctx = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", cpus.toInt, Paths.get(work),
      Paths.get(data))
    val result =
      try {
        workload match {
          case "batch_flow" => new BatchFlow(ctx).run()
          case "stream_maint" => new StreamMaint(ctx).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.resultJson
      } finally ctx.stop()
    Files.writeString(ctx.work.resolve("result.json"), Json.render(result))
  }
}

/** Everything a workload records, plus the session and the tracer. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val cpus: Int, val work: Path, val dataDir: Path) {
  val setupStartUs: Long = Clock.nowUs()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-perfbench")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionS: Double = (Clock.nowUs() - setupStartUs) / 1e6

  val tr = new Tracer(traced)
  private val jobs = new JobRecorder
  private val microBatches = new MicroBatchRecorder
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(microBatches)
  }

  val inputs: Path = work.resolve("inputs")
  val stores: Path = work.resolve("stores")

  // ---- records -------------------------------------------------------
  /** Intervals of timed work (the measured window, minus bookkeeping). */
  val windows = ArrayBuffer.empty[(Long, Long)]
  val flows = ArrayBuffer.empty[Json.V]
  val passes = ArrayBuffer.empty[Json.V]
  val changes = ArrayBuffer.empty[Json.V]
  val drains = ArrayBuffer.empty[Json.V]
  val genFiles = ArrayBuffer.empty[Json.V]
  val versionBytes = ArrayBuffer.empty[Json.V]
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Upserts that built the final stores, in order: (table, files). */
  val replay = ArrayBuffer.empty[(String, Seq[String])]
  var genRepsS: Seq[Double] = Nil
  var preloadS = 0.0
  var warmupS = 0.0
  var liveRoots: Seq[Path] = Nil
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Json.V]
  var gcInWindowMs = 0L

  def count(name: String, by: Double = 1.0): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + by

  def rel(p: Path): String = work.relativize(p).toString

  /** Generate inputs inside a `gen` span. */
  def generate(call: String)(f: => Seq[GenFile]): Seq[GenFile] = {
    val files = tr("gen", call)(f)
    files.foreach(g => genFiles += Json.obj("file" -> rel(g.path), "bytes" -> g.bytes,
      "rows" -> g.rows, "null_ts" -> g.nullTs))
    files
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `f` as timed work: its interval joins the measured window. */
  def timed[A](f: => A): A = {
    val g0 = gcMs()
    val s = Clock.nowUs()
    try f
    finally {
      windows += ((s, Clock.nowUs()))
      gcInWindowMs += gcMs() - g0
    }
  }

  /** Old-generation occupancy after every collection, stamped with the
    * collection's end; the metrics step keeps those inside timed work.
    */
  private val afterGc = ArrayBuffer.empty[(Long, Double)]
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val old = info.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if pool.contains("Old") => u.getUsed }
          afterGc.synchronized(afterGc += (((jvmStartMs + info.getEndTime) * 1000L, old.sum / 1048576.0)))
        }, null, null)
    case _ =>
  }

  // ---- state-layer bookkeeping ----------------------------------------
  private val seenVersions = scala.collection.mutable.HashSet.empty[Path]

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Size every version dir created since the last look, charged to
    * `call` (version dirs are immutable once written).
    */
  def noteVersions(roots: Seq[Path], call: String, record: Boolean = true): Unit =
    roots.filter(Files.isDirectory(_)).foreach { root =>
      graft.core.Fs.listDir(root).filter(_.getFileName.toString.startsWith("v-")).sorted.foreach { v =>
        if (seenVersions.add(v) && record)
          versionBytes += Json.obj("call" -> call, "dir" -> rel(v), "bytes" -> dirBytes(v))
      }
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) graft.core.Fs.deleteRecursively(p)

  // ---- layer calls the workloads share --------------------------------
  def syncTable(t: StateTable, declared: org.apache.spark.sql.types.StructType, key: Seq[String]): Unit = {
    val applied = tr("schemasync", "sync")(SchemaSync.sync(spark, t, declared, protectedCols = key.toSet))
    count("schemasync.sync.changes", applied.size.toDouble)
    noteVersions(Seq(Paths.get(t.root)), "schemasync.sync")
  }

  /** Read a CSV input through `Ingest` and upsert it, retried as the
    * reference's flow does.
    */
  def ingestUpsert(t: StateTable, files: Seq[GenFile], orders: Boolean): Unit = {
    var attempts = 0
    // one file by its path, several by their directory, which holds
    // exactly those files
    val path =
      if (files.size == 1) files.head.path.toString
      else {
        val dir = files.head.path.getParent
        require(graft.core.Fs.listDir(dir).map(_.getFileName.toString).sorted ==
          files.map(_.path.getFileName.toString).sorted, s"$dir holds other files")
        dir.toString
      }
    tr("ingest", "retried")(Ingest.retried {
      attempts += 1
      val df = tr("ingest", if (orders) "readOrdersCsv" else "readInventoriesCsv") {
        if (orders) Ingest.readOrdersCsv(spark, path)
        else Ingest.readInventoriesCsv(spark, path)
      }
      tr("state", "upsert")(t.upsert(df))
    })
    count("ingest.retried.retries", (attempts - 1).toDouble)
    count("ingest.read.rows_in", files.map(_.rows).sum.toDouble)
    count("ingest.read.rows_null_ts", files.map(_.nullTs).sum.toDouble)
    count("state.upsert.rows_in", files.map(_.rows).sum.toDouble)
    count("input_bytes", files.map(_.bytes).sum.toDouble)
    noteVersions(Seq(Paths.get(t.root)), "state.upsert")
    replay += ((if (orders) "orders" else "inventories", files.map(f => rel(f.path))))
  }

  /** The six reference reports over the current stores, each written to
    * the `noop` sink.
    */
  def reportPass(orders: StateTable, inventories: StateTable, productId: String): Unit = {
    val s = Clock.nowUs()
    Reports6.all(orders.current().get, inventories.current().get, productId).foreach { case (name, df) =>
      tr("reports", name)(df.write.format("noop").mode("overwrite").save())
    }
    passes += Json.obj("s" -> (Clock.nowUs() - s) / 1e6)
  }

  /** Write the six reports over the final stores for the output check. */
  def writeReports(orders: StateTable, inventories: StateTable, productId: String): Unit = {
    val out = work.resolve("out")
    Reports6.all(orders.current().get, inventories.current().get, productId).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    extra("report_product_id") = productId
  }

  def stop(): Unit = spark.stop()

  def resultJson: Json.V = {
    if (traced) org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val (attempted, failed) = tr.counts
    Json.obj(Seq[(String, Json.V)](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cpus" -> cpus, "session_s" -> sessionS, "gen_reps_s" -> Json.arr(genRepsS.map(Json.fromDouble)),
      "preload_s" -> preloadS, "warmup_s" -> warmupS,
      "attempted" -> attempted, "failed" -> failed,
      "windows" -> Json.arr(windows.toSeq.map { case (a, b) => Json.arr(Seq(Json.fromLong(a), Json.fromLong(b))) }),
      "flows" -> Json.arr(flows.toSeq), "passes" -> Json.arr(passes.toSeq),
      "changes" -> Json.arr(changes.toSeq), "drains" -> Json.arr(drains.toSeq),
      "gen_files" -> Json.arr(genFiles.toSeq), "version_bytes" -> Json.arr(versionBytes.toSeq),
      "counters" -> Json.obj(counters.toSeq.map { case (k, v) => k -> Json.fromDouble(v) }: _*),
      "old_gen_after_gc" -> afterGc.synchronized(Json.arr(afterGc.toSeq.map { case (t, mb) =>
        Json.obj("end_us" -> t, "mb" -> mb) })),
      "gc_in_window_s" -> gcInWindowMs / 1000.0,
      "live_roots" -> Json.arr(liveRoots.map(p => Json.fromString(rel(p)))),
      "replay" -> Json.arr(replay.toSeq.map { case (t, fs) =>
        Json.obj("table" -> t, "files" -> Json.arr(fs.map(Json.fromString))) }),
      "spans" -> tr.toJson, "jobs" -> jobs.toJson, "micro_batches" -> microBatches.toJson
    ) ++ extra.toSeq: _*)
  }
}

/** The six reference reports by name. */
object Reports6 {
  def all(o: DataFrame, i: DataFrame, productId: String): Seq[(String, DataFrame)] = Seq(
    "revenuePerProduct" -> Reports.revenuePerProduct(o, i),
    "lowStock" -> Reports.lowStock(i),
    "ordersPerMonth" -> Reports.ordersPerMonth(o, i),
    "revenuePerCategory" -> Reports.revenuePerCategory(o, i),
    "inventoryStatus" -> Reports.inventoryStatus(o, i, productId),
    "mostSoldPerCategory" -> Reports.mostSoldPerCategory(o, i))
}
