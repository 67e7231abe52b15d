package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Schemas
import graft.ingest.IngestQueries
import graft.state.StateTable
import graft.streaming.StreamingIngest

/** Sizes shared by the workloads: an sf0.1-sized orders store (150,000
  * sf0.1 order lines, about 2% duplicate lines) over sf0.1's 20,000 parts.
  */
object Sizes {
  val Orders = 150000
  val OrderFiles = 4
  /** Input generation repeats this often in set-up; the median counts. */
  val GenReps = 3
}

/** Set-up and recording pieces the workloads share. */
abstract class Workload(val c: Ctx) {
  import c._

  def orders(root: Path) = new StateTable(spark, root.resolve("orders").toString, Schemas.ordersKey)
  def inventories(root: Path) = new StateTable(spark, root.resolve("inventories").toString, Schemas.inventoriesKey)

  /** Generate the inputs `Sizes.GenReps` times from scratch (same seed,
    * same bytes), each repetition timed, keeping the last.
    */
  def generateInputs[A](gen: Gen => A): A = {
    val runs = (0 until Sizes.GenReps).map { _ =>
      deleteTree(inputs)
      genFiles.clear()
      val s = Clock.nowUs()
      val a = gen(new Gen(seed, SfData.load(dataDir)))
      (a, (Clock.nowUs() - s) / 1e6)
    }
    genRepsS = runs.map(_._2)
    runs.last._1
  }

  /** Time the preload (stores built before the measured work). */
  def preload[A](f: => A): A = {
    val s = Clock.nowUs()
    try f finally preloadS = (Clock.nowUs() - s) / 1e6
  }

  def warmUp(f: => Unit): Unit = {
    val s = Clock.nowUs()
    try f finally warmupS = (Clock.nowUs() - s) / 1e6
  }

  /** Clear what set-up recorded, so counters cover the measured work. */
  def startMeasuring(): Unit = {
    counters.clear()
    windows.clear()
    gcInWindowMs = 0L
    versionBytes.clear()
    passes.clear()
    changes.clear()
    flows.clear()
    drains.clear()
  }

  /** Record one change's latency from `dueUs` to now. */
  def changeDone(dueUs: Long, kind: String, rows: Long): Unit =
    changes += Json.obj("kind" -> kind, "due_us" -> dueUs, "done_us" -> Clock.nowUs(), "rows" -> rows)

  def run(): Unit
}

/** The reference's `main.py` flow at sf0.1, closed loop, with the state
  * layer's housekeeping: schema sync, first loads of inventories and
  * orders, a schema change adding a column, a re-run batch (30% updates,
  * 70% new keys), a change-feed and a time-travel reader, compaction and
  * retention, then a report pass. One flow runs from the first input read
  * to the last report written; flows repeat on fresh stores until the time
  * is up.
  */
final class BatchFlow(c0: Ctx) extends Workload(c0) {
  import c._

  def run(): Unit = {
    val (inv, first, rerun, pid) = generateInputs { g =>
      val inv = generate("inventories")(Seq(g.inventories(Files.createDirectories(inputs).resolve("inventories.csv"))))
      val first = generate("newOrders")(g.newOrders(inputs.resolve("first"), "first", Sizes.Orders, Sizes.OrderFiles, 11L))
      val rerun = generate("changeBatch")(g.changeBatch(inputs.resolve("rerun"), "rerun",
        nUpdates = 15000, nInserts = 35000, nLate = 0, nFiles = 2, salt = 12L, pick = g.anyKey))
      (inv, first, rerun, g.productId(0))
    }
    warmUp {
      flow(stores.resolve("warm"), inv, first, rerun, pid)
      deleteTree(stores.resolve("warm"))
    }
    startMeasuring()
    val start = Clock.nowUs()
    var i = 0
    var last: (StateTable, StateTable) = null
    while (i == 0 || Clock.nowUs() - start < seconds * 1e6) {
      if (last != null) deleteTree(stores.resolve(s"it-${i - 1}"))
      last = flow(stores.resolve(s"it-$i"), inv, first, rerun, pid)
      i += 1
    }
    liveRoots = Seq(Paths.get(last._1.root), Paths.get(last._2.root))
    writeReports(last._1, last._2, pid)
  }

  private def flow(root: Path, inv: Seq[GenFile], first: Seq[GenFile], rerun: Seq[GenFile],
      pid: String): (StateTable, StateTable) = {
    val o = orders(root)
    val i = inventories(root)
    val rootP = Seq(Paths.get(o.root))
    replay.clear()
    val t0 = Clock.nowUs()
    timed {
      syncTable(o, Schemas.orders, Schemas.ordersKey)
      syncTable(i, Schemas.inventories, Schemas.inventoriesKey)
      ingestUpsert(i, inv, orders = false)
      ingestUpsert(o, first, orders = true)
      val loaded = o.currentVersion.get
      syncTable(o, Schemas.orders.add("note", "string"), Schemas.ordersKey)
      ingestUpsert(o, rerun, orders = true)
      // readers beside the writer: the re-run's change feed and a
      // time-travel read of the first load
      val cur = o.currentVersion.get
      tr("state", "diff")(o.diff(loaded, cur).write.format("noop").mode("overwrite").save())
      tr("state", "readVersion")(o.readVersion(loaded).write.format("noop").mode("overwrite").save())
      tr("state", "compact")(o.compact())
      noteVersions(rootP, "state.compact")
      val h = tr("state", "history")(o.history())
      tr("state", "vacuumBefore")(o.vacuumBefore(h.last))
      reportPass(o, i, pid)
    }
    // every input landed when the flow started; its rows are in the
    // durable result once the reports over them are written
    Seq("inventories" -> inv, "first_load" -> first, "rerun" -> rerun).foreach { case (kind, files) =>
      changeDone(t0, kind, files.map(_.rows).sum)
    }
    flows += Json.obj("s" -> (Clock.nowUs() - t0) / 1e6, "rows" -> (inv ++ first ++ rerun).map(_.rows).sum)
    (o, i)
  }
}

/** Open loop: small orders change files land by atomic rename at a fixed
  * interval while the system loop drains what has landed (AvailableNow)
  * on a fixed trigger, folds it into the durable maintained report and
  * applies retention.
  */
final class StreamMaint(c0: Ctx) extends Workload(c0) {
  import c._
  val IntervalS = 0.25
  val TriggerS = 4.0
  /** The first drains and folds after the preload pay one-time costs and
    * the path reaches full speed only after a few cycles of the size the
    * measured ones take. These warm-up cycles run back to back on files
    * landed at once, before the schedule starts.
    */
  val WarmUpCycles = 2
  /** Files one trigger period lands. */
  val FilesPerCycle = (TriggerS / IntervalS).toInt
  val UpdatesPerFile = 60
  val InsertsPerFile = 30
  val LatePerFile = 10

  private final class Sys(val orders: StateTable, val inv: StateTable, val report: StateTable,
      val landing: Path, val ckpt: Path) {
    var lastBatch = -1L
    val folded = scala.collection.mutable.HashSet.empty[String]
  }

  private def storeRoots(s: Sys) = Seq(Paths.get(s.orders.root), Paths.get(s.report.root))

  def run(): Unit = {
    val intervalUs = (IntervalS * 1e6).toLong
    val nWarm = WarmUpCycles * FilesPerCycle
    val (inv, first, staged0, pid) = generateInputs { g =>
      val inv = generate("inventories")(Seq(g.inventories(Files.createDirectories(inputs).resolve("inventories.csv"))))
      val first = generate("newOrders")(g.newOrders(inputs.resolve("first"), "first", Sizes.Orders, Sizes.OrderFiles, 11L))
      // the change files: the warm-up's, then those the generator lands
      val staged = (0 until nWarm + math.max(1, (seconds / IntervalS).toInt)).map { k =>
        generate("changeBatch")(g.changeBatch(inputs.resolve("stage"), f"change-$k%04d", UpdatesPerFile,
          InsertsPerFile, LatePerFile, 1, 100L + k, g.recentKey)).head
      }
      (inv, first, staged, g.productId(0))
    }
    val root = stores.resolve("s")
    val sys = preload {
      val s = new Sys(orders(root), inventories(root),
        IngestQueries.reportStoreHandle(spark, root.resolve("report").toString),
        Files.createDirectories(inputs.resolve("landing")), root.resolve("ckpt"))
      syncTable(s.orders, Schemas.orders, Schemas.ordersKey)
      syncTable(s.inv, Schemas.inventories, Schemas.inventoriesKey)
      ingestUpsert(s.inv, inv, orders = false)
      ingestUpsert(s.orders, first, orders = true)
      fold(s)
      s
    }
    warmUp(staged0.take(nWarm).grouped(FilesPerCycle).foreach { fs =>
      fs.foreach(f => Gen.land(f.path, sys.landing))
      cycle(sys, Map.empty)
    })
    startMeasuring()
    val staged = staged0.drop(nWarm)
    extra("interval_s") = IntervalS
    extra("trigger_s") = TriggerS

    // the generator: one thread landing files on schedule
    val t0 = Clock.nowUs() + 50000L
    val landed = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val genThread = new Thread(() => {
      staged.zipWithIndex.foreach { case (f, k) =>
        sleepUntil(t0 + k * intervalUs)
        tr("gen", "land")(Gen.land(f.path, sys.landing))
        landed.put(sys.landing.resolve(f.path.getFileName).toString, (t0 + k * intervalUs, Clock.nowUs()))
      }
    }, "perfbench-gen")
    genThread.setDaemon(true)
    genThread.start()

    // the trigger fires every TriggerS, half an interval before a file is
    // due, so a cycle that keeps up takes FilesPerCycle files; a cycle that
    // overruns its tick starts at once when the last one ends, and the
    // ticks after it keep their times
    val scheduleEnd = t0 + staged.size * intervalUs
    val deadline = scheduleEnd + 90L * 1000000L
    val triggerUs = (TriggerS * 1e6).toLong
    var n = 0
    while (Clock.nowUs() < scheduleEnd || sys.folded.size < staged0.size) {
      require(Clock.nowUs() < deadline, "backlog not drained 90 s after the schedule ended: " +
        s"${staged0.size - sys.folded.size} files left")
      n += 1
      sleepUntil(t0 + n * triggerUs - intervalUs / 2)
      timed(cycle(sys, landed.asScala.toMap))
    }
    genThread.join()
    extra("schedule_start_us") = t0
    extra("schedule_end_us") = scheduleEnd
    extra("landed") = Json.arr(landed.asScala.toSeq.sortBy(_._1).map { case (f, (due, at)) =>
      Json.obj("file" -> rel(Paths.get(f)), "due_us" -> due, "landed_us" -> at)
    })
    liveRoots = storeRoots(sys) :+ Paths.get(sys.inv.root)
    extra("report_root") = rel(Paths.get(sys.report.root))
    writeReports(sys.orders, sys.inv, pid)
  }

  private def sleepUntil(us: Long): Unit = {
    val wait = us - Clock.nowUs()
    if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
  }

  /** One drain and, if it picked up files, one fold and retention step.
    * The latency of each file in `landed` it folds is recorded.
    */
  private def cycle(s: Sys, landed: Map[String, (Long, Long)]): Unit = {
    val start = Clock.nowUs()
    tr("streaming", "runOrdersIngest") {
      StreamingIngest.runOrdersIngest(spark, s.landing.toString, s.orders, s.ckpt.toString)
        .awaitTermination()
    }
    val drainEnd = Clock.nowUs()
    noteVersions(storeRoots(s), "streaming.runOrdersIngest")
    val batches = CheckpointLog.filesByBatch(s.ckpt).filter(_._1 > s.lastBatch)
    val files = batches.flatMap(_._2).map(p => Paths.get(new java.net.URI(p)))
    batches.foreach { case (_, fs) => replay += (("orders", fs.map(p => rel(Paths.get(new java.net.URI(p)))))) }
    if (batches.nonEmpty) s.lastBatch = batches.map(_._1).max
    var foldEnd = drainEnd
    var steps = 0
    if (files.nonEmpty) {
      steps = fold(s)
      foldEnd = Clock.nowUs()
      files.foreach(f => s.folded += f.toString)
    }
    val rows = files.map(CheckpointLog.dataRows)
    count("input_bytes", files.map(f => Files.size(f)).sum.toDouble)
    drains += Json.obj("start_us" -> start, "drain_end_us" -> drainEnd, "fold_end_us" -> foldEnd,
      "steps" -> steps, "batches" -> batches.size, "rows" -> rows.sum,
      "files" -> Json.arr(files.map(f => Json.fromString(rel(f)))))
    files.zip(rows).foreach { case (f, n) =>
      landed.get(f.toString).foreach { case (due, _) =>
        changes += Json.obj("kind" -> "file", "due_us" -> due, "done_us" -> foldEnd, "rows" -> n)
      }
    }
  }

  /** Fold every new orders version into the durable report, then let
    * retention reclaim the versions both stores have absorbed.
    */
  private def fold(s: Sys): Int = {
    val steps = tr("maintain", "resumeReportMaintenance") {
      IngestQueries.resumeReportMaintenance(s.orders, s.report, Schemas.ordersKey)
    }
    count("maintain.fold.steps", steps.toDouble)
    noteVersions(storeRoots(s), "maintain.resumeReportMaintenance")
    val h = tr("state", "history")(s.orders.history())
    tr("state", "vacuumBefore")(s.orders.vacuumBefore(h.last))
    tr("state", "vacuumBefore")(s.report.vacuumBefore(s.report.currentVersion.get))
    steps
  }
}

/** The file source's processed-file log under a streaming checkpoint. */
object CheckpointLog {
  private val Entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r

  /** Files each micro-batch took, by batch id, from the source log
    * (plain and compacted log files alike).
    */
  def filesByBatch(ckpt: Path): Seq[(Long, Seq[String])] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Nil
    else graft.core.Fs.listDir(dir).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .flatMap(l => Entry.findFirstMatchIn(l).map(m => (m.group(2).toLong, m.group(1))))
      .distinct.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, xs) => (b, xs.map(_._2).sorted) }
  }

  /** Data lines of a generated CSV (the header excluded). */
  def dataRows(p: Path): Long = {
    val s = Files.lines(p)
    try s.count() - 1 finally s.close()
  }
}
