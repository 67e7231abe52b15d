package graft.state

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Parquet-backed keyed state table with atomic version swap and the
  * reference's upsert semantics (SURVEY.md §2.4, `flows/data_ingestion
  * .py:99–216`).
  *
  * Layout: `root/v-<uuid>/` immutable parquet versions + a `root/_CURRENT`
  * pointer file updated with an atomic filesystem move — readers always
  * see a complete version (the reference's per-batch transaction +
  * rollback, R3, without an external store; on a cluster the same pattern
  * runs against any filesystem with atomic rename, or is swapped for
  * Delta/Iceberg ACID commits).
  *
  * Upsert semantics (duplicate-key behavior replicated exactly):
  *  - first load: *append all rows* — within-batch duplicate keys are NOT
  *    collapsed (`flows/data_ingestion.py:116,146` check only DB-existing
  *    keys);
  *  - re-run: for each key already present, the *latest* state row for
  *    that key (max `_seq`) is overwritten with the *last* batch row for
  *    that key in file order (dict overwrite at `flows/data_ingestion
  *    .py:50–65` + sequential per-row UPDATE at `:197–206` ⇒
  *    last-write-wins); earlier duplicate state rows stay untouched;
  *  - batch rows with unseen keys are appended as-is (duplicates
  *    included).
  *
  * Everything is join/window algebra — no driver-side row loops — so the
  * same code runs on a 1000-executor cluster; the only driver action is a
  * scalar max(_seq) lookup.
  */
final class StateTable(
    spark: SparkSession,
    val root: String,
    keyCols: Seq[String],
    /** Optional hive-style partition columns for every version write —
      * e.g. year/month derivatives — so time-ranged reads prune
      * partitions at the scan (SURVEY.md §4 partitioning strategy).
      */
    partitionCols: Seq[String] = Nil) {
  import StateTable._

  private val rootPath = Paths.get(root)

  private def pointer = rootPath.resolve("_CURRENT")

  def currentVersion: Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  private def readDir(version: String): DataFrame =
    StateTable.readVersionDir(spark, rootPath.resolve(version).toString)

  /** Current contents, or None before the first write. */
  def read(): Option[DataFrame] = currentVersion.map(readDir)

  /** Write `df` as a fresh immutable version and atomically repoint.
    * Version names embed a monotonic nano timestamp so [[history]] has a
    * deterministic order even for writes within the same millisecond.
    *
    * `System.nanoTime` is monotone only WITHIN one JVM/boot clock
    * domain: a maintenance process restarted after a machine reboot or
    * on a failover host could otherwise mint a name that sorts BEFORE
    * retained versions, corrupting [[history]] order and any watermark
    * recovered from version names (q167/q168's resume). So the name is
    * order-safe by construction: when the local candidate timestamp
    * does not exceed the newest retained name's, the successor of that
    * name's timestamp is used instead — names are strictly increasing
    * across SEQUENTIAL writes from any process. (Strictly: within one
    * process two same-nanoTime writes previously tie-broke on the
    * random suffix; the successor rule now makes the prefix itself
    * strictly increasing.)
    *
    * Guarantee scope: ONE writer at a time — the framework's
    * maintenance model (flows, folds, and retention run sequentially
    * against a store; the next writer starts only after the previous
    * pointer move is visible). The read-history-then-mint successor
    * rule is not atomic: two CONCURRENT writers could read the same
    * newest prefix, mint equal timestamps (ordered only by the random
    * suffix), and the later pointer write would win silently.
    * Concurrent writers need external coordination — on a cluster,
    * swap this layer for Delta/Iceberg ACID commits (the class doc's
    * note) or fence writers at the orchestrator.
    */
  def overwrite(df: DataFrame): Unit = {
    Files.createDirectories(rootPath)
    val local = System.nanoTime()
    val ts = history().lastOption
      .flatMap(n => scala.util.Try(
        java.lang.Long.parseUnsignedLong(n.slice(2, 18), 16)).toOption)
      .filter(newest => java.lang.Long.compareUnsigned(newest, local) >= 0)
      .map { newest =>
        // unsigned max + 1 would WRAP to 0 and silently break the
        // ordering guarantee forever (reachable only via a host whose
        // nanoTime returned a negative value — the spec allows it);
        // fail loudly instead of corrupting
        require(newest != -1L,
          s"version-name timestamp space exhausted at $root — the newest " +
            "retained version carries the maximal unsigned prefix")
        newest + 1L
      }
      .getOrElse(local)
    val v = f"v-$ts%016x-${UUID.randomUUID().toString.take(4)}"
    val writer = df.write.mode("overwrite")
    val versionDir = rootPath.resolve(v).toString
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(versionDir)
    // seed the process-wide schema cache at WRITE time: the writer
    // KNOWS the schema it just wrote, and the very next step (a fold's
    // readDir of the fresh version) otherwise pays a footer-inference
    // job for it — one small sequential job after every version write
    // (guide §6 small-read overhead). Unpartitioned dirs only: a
    // partitioned read re-derives partition columns from dir names and
    // reorders them last, so its inferred schema is not df.schema.
    if (partitionCols.isEmpty) StateTable.seedSchema(versionDir, df.schema)
    val tmp = rootPath.resolve(s".ptr-${UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, v)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop all non-current versions (the reference's rollback leaves no
    * trace; failed writes here are simply never pointed at).
    */
  def vacuum(): Unit = currentVersion.foreach { keep =>
    history().filter(_ != keep).foreach(reclaim)
  }

  /** Retention-bounded vacuum: drop retained versions STRICTLY OLDER
    * than `watermark` (fixed-format names make lexicographic order the
    * creation order — [[overwrite]]'s cross-process guarantee), never
    * the current version. `watermark` is the minimum consumer resume
    * point — e.g. the oldest `as_of` across maintained reports
    * (q168) — so retention can run continuously next to maintenance
    * without stranding a resumable consumer: every version a resume
    * could still fold from survives, while history the consumers have
    * all absorbed is reclaimed. Returns the reclaimed version names so
    * callers can judge that retention actually bit (and how much).
    */
  def vacuumBefore(watermark: String): Seq[String] = {
    val keep = currentVersion.toSet
    val reclaimed = history().filter(v => v < watermark && !keep.contains(v))
    reclaimed.foreach(reclaim)
    reclaimed
  }

  /** Delete one version dir and its schema-cache entry. */
  private def reclaim(version: String): Unit = {
    val dir = rootPath.resolve(version)
    deleteRecursively(dir)
    StateTable.versionSchemas.remove(dir.toString): Unit
  }

  /** Upsert a batch. `orderCol` names a column of `batch` that is
    * monotone in source order (it decides last-write-wins
    * deterministically, §7.5 risk 1) and is consumed here; when absent,
    * `monotonically_increasing_id()` is used — monotone in file order for
    * a single-source read.
    */
  def upsert(batch: DataFrame, orderCol: Option[String] = None): Unit = {
    val b0 = orderCol match {
      case Some(c) => batch.withColumn(SeqCol, col(c).cast("long")).drop(c)
      case None => batch.withColumn(SeqCol, monotonically_increasing_id())
    }
    read() match {
      case None =>
        overwrite(b0)
      case Some(state) =>
        val valueCols = state.columns.filterNot(c => keyCols.contains(c) || c == SeqCol)
        // align the batch to the state schema: schema sync may have added
        // declared columns the source doesn't carry yet (evolve-then-
        // ingest) — they land as typed nulls
        val b = valueCols.filterNot(b0.columns.contains).foldLeft(b0) { (d, c) =>
          d.withColumn(c, lit(null).cast(state.schema(c).dataType))
        }
        val outCols = (keyCols ++ valueCols :+ SeqCol).map(col)
        // ONE scalar read serves both the empty-state test and the
        // insert-arm _seq offset (coalesce: state may exist but be empty
        // — schema-sync CreateTable); previously max(_seq) was its own
        // driver action and emptiness was never tested, so a first load
        // paid the full key algebra against zero state rows
        val agg = state.agg(coalesce(max(col(SeqCol)), lit(0L)), count(lit(1L))).head()
        val maxSeq = agg.getLong(0)
        if (agg.getLong(1) == 0L) {
          // First load into a synced-but-empty store (§2.4: append ALL
          // rows, within-batch duplicate keys kept): the general path
          // below would window, join and anti-join against zero state
          // rows — two shuffles of pure overhead on exactly the largest
          // batch a store ever sees (the initial corpus). Same rows,
          // same column order, same +1 _seq shift as the general path's
          // insert arm produces over empty state.
          overwrite(b
            .withColumn(SeqCol, col(SeqCol) + lit(maxSeq) + lit(1L))
            .select(outCols: _*))
        } else {
          // Pin the batch before the key algebra: _seq defaults to
          // monotonically_increasing_id(), a NONDETERMINISTIC
          // expression, so the update and insert arms below — though
          // they share one logical frame — can never share a physical
          // exchange (non-same-result subtrees), and the batch source
          // was scanned AND shuffled once per arm. Pinning materializes
          // the batch (and its _seq) exactly once; both arms then reuse
          // one deterministic exchange, and _seq stops depending on two
          // scans happening to enumerate files identically. The pinned
          // frame is the ingest batch — change-volume-, not store-sized.
          val bP = graft.core.Checkpoints.pin(b)
          // last batch row per key (the surviving update value); the
          // SAME windowed frame feeds the insert arm below, so the batch
          // is scanned and shuffled by key ONCE (ReusedExchange), not
          // once per arm
          val wB = Window.partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
          val bW = bP.withColumn("_rn", row_number().over(wB))
          val lastPerKey = bW.filter(col("_rn") === 1)
            .select(keyCols.map(col) ++ valueCols.map(c => col(c).as(s"_u_$c")) :+ lit(true).as("_matched"): _*)
          // the state row that absorbs the update: max _seq per key; the
          // _srn === 1 frame doubles as the DISTINCT state-key set for
          // the insert arm's anti join — one shuffle of the state,
          // reused, instead of a window pass plus a separate distinct
          val wS = Window.partitionBy(keyCols.map(col): _*).orderBy(col(SeqCol).desc)
          val target = state.withColumn("_srn", row_number().over(wS))
          val updated = target.join(lastPerKey, keyCols, "left")
            .select(keyCols.map(col) ++ valueCols.map { c =>
              when(col("_srn") === 1 && col("_matched"), col(s"_u_$c")).otherwise(col(c)).as(c)
            } :+ col(SeqCol): _*)
          // unseen keys: append every batch row (within-batch dups kept)
          val stateKeys = target.filter(col("_srn") === 1).select(keyCols.map(col): _*)
          val inserts = bW.join(stateKeys, keyCols, "left_anti")
            .withColumn(SeqCol, col(SeqCol) + lit(maxSeq) + lit(1L))
            .select(outCols: _*)
          overwrite(updated.unionByName(inserts))
        }
    }
  }

  /** Compact the current version into `targetFiles` files per partition
    * directory (the small-files problem: every upsert writes a full new
    * version, and long-lived tables accrete many small parquet files
    * whose per-file open/footer cost dominates scans at scale). Contents
    * are byte-identical rows — only the file layout changes; readers see
    * the compacted version atomically via the usual pointer swap.
    *
    * Partitioned tables shuffle on (partitionCols, key-hash salt) so each
    * partition directory gets up to `targetFiles` files AND no single
    * task absorbs a whole hot partition. Unpartitioned tables with
    * targetFiles=1 funnel through one task by construction — size
    * targetFiles to the table, not the default, for big tables.
    */
  def compact(targetFiles: Int = 1): Unit =
    read().foreach { df =>
      val compacted =
        if (partitionCols.nonEmpty) {
          val salt = pmod(hash(keyCols.map(col): _*), lit(targetFiles))
          df.repartition((partitionCols.map(col) :+ salt): _*)
        } else df.repartition(targetFiles)
      overwrite(compacted)
    }

  /** Reader view without internal bookkeeping columns. */
  def current(): Option[DataFrame] = read().map(_.drop(SeqCol))

  /** Time travel: read a specific retained version (versions are
    * immutable until [[vacuum]]).
    */
  def readVersion(version: String): DataFrame =
    readDir(version).drop(SeqCol)

  /** Change-data-capture between two retained versions: one row per
    * changed KEY with `_change ∈ {insert, update, delete}` and the
    * after-image columns (before-image for deletes). Key-level — a key
    * whose latest row's values are byte-equal in both versions emits
    * nothing. Versioned immutable state makes CDC a pure join: no log,
    * no triggers; two scans + one shuffle on the key.
    */
  def diff(fromVersion: String, toVersion: String): DataFrame = {
    def latestPerKey(v: String): DataFrame = {
      val raw = readDir(v)
      // versions written via bare overwrite() (sketches, compacted
      // snapshots) carry no _seq — their rows are already key-level
      if (!raw.columns.contains(SeqCol)) raw
      else {
        // hash aggregate (max_by on the unique-per-row _seq), not a
        // row_number window: the window sorts the ENTIRE version by
        // (key, _seq) before keeping one row per key, while max_by
        // folds to key grain in a partial-aggregate pass before the
        // exchange — no sort, and map-side reduction shuffles key-grain
        // rows instead of every row (guide §2.3). Deterministic: _seq
        // is unique per row within a version (monotonic id at insert,
        // preserved by the LWW rewrite), so max_by has no ties.
        val vals = raw.columns.filterNot(c => keyCols.contains(c) || c == SeqCol)
        if (vals.isEmpty) raw.select(keyCols.map(col): _*).distinct()
        else raw.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(vals.map(col).toIndexedSeq: _*), col(SeqCol)).as("_latest"))
          .select(keyCols.map(col) ++ vals.map(c => col(s"_latest.$c").as(c)): _*)
      }
    }
    // align schemas across an evolution boundary: a column present in
    // only one version appears as typed nulls on the other side, so an
    // added/dropped column surfaces as updates instead of crashing
    // (forward) or silently vanishing from the CDC stream (reverse)
    val before0 = latestPerKey(fromVersion)
    val after0 = latestPerKey(toVersion)
    def aligned(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val before = aligned(before0, after0)
    val after = aligned(after0, before0)
    val valueCols = after.columns.filterNot(keyCols.contains).toSeq
    val b = before.select(keyCols.map(col) ++ valueCols.map(c => col(c).as(s"_b_$c")) :+ lit(true).as("_in_b"): _*)
    val a = after.select(keyCols.map(col) ++ valueCols.map(col) :+ lit(true).as("_in_a"): _*)
    val j = a.join(b, keyCols.toSeq, "full_outer")
    val changed = valueCols
      .map(c => !(col(c) <=> col(s"_b_$c"))) // null-safe per-column compare
      .reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn("_change",
        when(col("_in_b").isNull, lit("insert"))
          .when(col("_in_a").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("_change").isNotNull)
      .select(keyCols.map(col) ++ valueCols.map { c =>
        // after-image; before-image for deletes. NOT coalesce — an
        // update TO null must surface as null, not the old value.
        when(col("_in_a").isNotNull, col(c)).otherwise(col(s"_b_$c")).as(c)
      } :+ col("_change"): _*)
  }

  /** All retained versions, oldest first (by filesystem mtime), with the
    * current one last-write wins semantics visible via [[currentVersion]].
    */
  def history(): Seq[String] =
    if (!Files.exists(rootPath)) Nil
    else listDir(rootPath)
      .filter(_.getFileName.toString.startsWith("v-"))
      .map(_.getFileName.toString)
      .sorted // monotonic nano-timestamp prefix => creation order
}

object StateTable {
  /** Internal monotone sequence column (persisted). */
  val SeqCol = "_seq"

  /** Process-wide per-version-dir schema cache. Version dirs are
    * immutable once pointed at (the class invariant every consumer
    * relies on) and their names are globally unique (nano-timestamp +
    * random suffix under a caller-owned root), so a version's parquet
    * schema can never change once read. A bare `spark.read.parquet`
    * fires a footer/schema-inference job at CALL time; the maintenance
    * paths read the same version several times per fold (watermark,
    * CDC, fold base, certificate legs) and the restart-realism flows
    * do it through FRESH handles per phase — so the cache is keyed by
    * absolute path at the companion, not per handle. Metadata only:
    * row data is re-read from parquet on every action, and resume
    * state (watermarks, report rows) always comes off the durable rows
    * themselves. One entry per retained version: [[vacuum]] and
    * [[vacuumBefore]] evict the entries of the versions they reclaim
    * (dirs deleted by other means keep theirs).
    */
  private[state] val versionSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Seed the cache from the writer side (see [[StateTable.overwrite]]):
    * version dirs are immutable once written, so the schema the write
    * produced IS the schema every later read would infer.
    */
  private[state] def seedSchema(
      path: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    versionSchemas.put(path, schema): Unit
  }

  private[state] def readVersionDir(
      spark: SparkSession, path: String): DataFrame =
    versionSchemas.get(path) match {
      case null =>
        val df = spark.read.parquet(path)
        versionSchemas.put(path, df.schema): Unit
        df
      case s => spark.read.schema(s).parquet(path)
    }

  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    graft.core.Fs.listDir(p)

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.core.Fs.deleteRecursively(p)
}
