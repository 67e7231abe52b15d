package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.tables.Tables

/** q159: the CSV-ingestion certificate — the judged gate for the S1/P1–P5
  * cleaning contract that was previously spec-only (the one SURVEY §2
  * block a user hits on every single load).
  *
  * The fixture stages a real landing directory of orders-shaped CSV text
  * with every reference ingestion hazard baked in at byte level, derived
  * deterministically from the orders table so the oracle can replay the
  * generator (staged stores are process-scoped and swept before the
  * oracle runs, so — as with every staged query — the oracle replays the
  * derivation, it does not re-read the staging):
  *
  *  - camelCase headers, one per part file (`flows/utils.py:4–5` rename;
  *    multi-file landing dirs mean the reader must skip a header line in
  *    EVERY file, not just the first);
  *  - both ISO-8601 precision variants the reference corpus mixes
  *    (`flows/data_ingestion.py:86–91`): with-seconds
  *    `2024-01-02T03:04:05Z` on even keys, seconds-less
  *    `2024-01-02T03:04Z` on odd keys — one `timestampFormat` cannot
  *    express both, which is exactly what [[graft.core.Schemas.parseDateTime]]'s
  *    coalesce exists for;
  *  - UNQUOTED empty fields (campaign on keys ≡ 0 mod 5) that must land
  *    as NULL (pandas NaN→None parity, `flows/data_ingestion.py:109–112`);
  *  - QUOTED fields containing the delimiter (`"camp,N"`) that must
  *    round-trip through RFC-4180 unquoting intact — a broken quote path
  *    shifts every following column and poisons the timestamp parse,
  *    which the judged `n_ts_null = 0` pins;
  *  - verbatim duplicate lines (keys ≡ 0 mod 11 emitted twice): the
  *    reader preserves multiplicity — dedup belongs to the upsert layer
  *    (§2.4), never the reader;
  *  - numeric round-trips: int quantity, two-decimal double
  *    shippingCost, full-precision double amount (shortest-round-trip
  *    double formatting on write, so parse-back is bit-exact and the
  *    cent-floor aggregates match the oracle's replay bit-for-bit).
  *
  * The measured operator is [[Ingest.readOrdersCsv]] — declared schema
  * (never inference: at 100 TB an inference pass is a full extra read),
  * nullValue="" cleaning, rename, dual-format parse — feeding one
  * 3-group rollup whose every column is sensitive to one hazard. The
  * fixture lines are built by whole-column expressions and written
  * line-splittable (header prepended per partition, no driver loop), so
  * the staging itself is shaped like a distributed extract job, and the
  * certificate read scans N files in N tasks with zero shuffle before
  * the final 3-group aggregate.
  *
  * What the oracle cannot see — that the staged bytes really carry the
  * hazards (a degenerate generator would replay green) — IngestCertSpec
  * pins against the raw staged text: header per file, both timestamp
  * shapes, unquoted-empty and quoted-comma fields, duplicated lines.
  */
object IngestQueries {

  private[graft] val Header =
    "orderId,productId,currency,quantity,shippingCost,amount," +
      "channel,channelGroup,campaign,dateTime"

  /** The hazard row source: orders columns under fixture names, with the
    * verbatim-duplicate rows (keys ≡ 0 mod 11) already unioned in.
    * Shared by q159's fixture, q161's two batch slices, and
    * IngestCertSpec, so fixture and assertions cannot drift.
    */
  private[graft] def hazardSource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"), col("o_orderstatus"))
    src.unionAll(src.filter(col("k") % 11 === 0))
  }

  /** The hazard-laden CSV line set over a prepared [[hazardSource]]
    * frame. Header NOT included.
    */
  private[graft] def linesFrom(dup: DataFrame): DataFrame = {
    val ts = expr(
      "o_orderdate + make_interval(0, 0, 0, 0, 0, cast(k % 1440 as int), " +
        "cast(case when k % 2 = 0 then k % 60 else 0 end as int))")
    dup.select(concat(
      col("k").cast("string"), lit(","),
      col("o_custkey").cast("string"), lit(","),
      when(col("k") % 3 === 0, "EUR").otherwise("USD"), lit(","),
      (col("k") % 50 + 1).cast("int").cast("string"), lit(","),
      ((col("k") % 2000).cast("double") / 100.0).cast("string"), lit(","),
      col("o_totalprice").cast("string"), lit(","),
      col("o_orderpriority"), lit(","),
      col("o_orderstatus"), lit(","),
      // quoted-delimiter hazard on the live branch, unquoted-empty on
      // the null branch — both exact bytes, no writer mediation
      when(col("k") % 5 === 0, lit(""))
        .otherwise(concat(lit("\"camp,"), (col("k") % 7).cast("string"), lit("\""))),
      lit(","),
      when(col("k") % 2 === 0, date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm'Z'"))).as("value"))
  }

  /** Shared oracle CTE fragment: the cleaned-column derivations from a
    * `k`/`o_orderdate` source — one definition interpolated into BOTH
    * the q159 and q161 oracle strings, so the hazard arithmetic (which
    * must mirror [[linesFrom]] exactly) cannot drift between the two
    * judged replays. A def, not a val: oracle strings are vals built at
    * object init and must never read a forward val reference.
    * shipping_cost's divisor is cast to DOUBLE explicitly: the
    * cent-floor aggregates require double division (29/100.0 in double
    * floors to 28 cents exactly as Spark computes it), and an implicit
    * bigint/decimal resolution would silently flip that — the explicit
    * cast makes the requirement independent of DuckDB's literal typing.
    */
  private def hazardColsSql: String =
    """CASE WHEN k % 5 = 0 THEN NULL
      |         ELSE 'camp,' || cast(k % 7 AS varchar) END AS campaign,
      |    cast(k % 50 + 1 AS integer) AS quantity,
      |    (k % 2000) / cast(100.0 AS double) AS shipping_cost,
      |    o_orderdate + (k % 1440) * INTERVAL 1 minute
      |      + (CASE WHEN k % 2 = 0 THEN k % 60 ELSE 0 END) * INTERVAL 1 second
      |      AS date_time""".stripMargin

  /** Landing-dir staging mechanics shared by every CSV fixture: N part
    * files, each carrying its own header line (the CSV reader skips one
    * header per FILE — a multi-file landing dir is the production
    * shape), header prepended per partition so the staging itself is
    * distributed (no driver loop). ONE writer so the orders and
    * inventories fixtures can never drift to different staging
    * conventions.
    */
  private def stageLandingDir(spark: SparkSession, lines: DataFrame,
      header: String, nFiles: Int, out: String): Unit = {
    import spark.implicits._
    lines.as[String]
      .mapPartitions(it => Iterator(header) ++ it)
      .write.mode("overwrite").text(out)
  }

  /** Deterministic nFiles-way split of a fixture SOURCE frame by hash
    * of its `k` column — applied BEFORE the CSV line formatting, so:
    * (1) no round-robin `repartition(n)`, whose retry-determinism
    * local sort (`spark.sql.execution.sortBeforeRepartition`) would
    * sort every row — xxhash64(k) is a pure row function and needs no
    * sort (guide §2.5); (2) the exchange moves the NARROW source
    * columns, not formatted line strings (guide §2.3, project-late);
    * (3) the expression-heavy line formatting runs on nFiles tasks
    * after the exchange instead of on the source's 1–2 scan splits.
    * 64×nFiles distinct key values spread evenly over nFiles
    * partitions; duplicate-key rows co-locate, which the landing
    * protocol tolerates (files just need to cover the line multiset).
    */
  private def splitForStaging(src: DataFrame, nFiles: Int): DataFrame =
    src.repartition(nFiles, pmod(xxhash64(col("k")), lit(nFiles * 64)))

  /** Stage the fixture as a 4-file landing dir via [[stageLandingDir]].
    * `transform` reshapes the hazard source before line building (q161's
    * batch slices); the default identity keeps q159's fixture
    * byte-identical to its oracle's replay.
    */
  private[graft] def stageOrdersCsv(
      spark: SparkSession, dir: String, out: String,
      transform: DataFrame => DataFrame = identity): Unit =
    stageLandingDir(spark,
      linesFrom(splitForStaging(transform(hazardSource(spark, dir)), 4)),
      Header, 4, out)

  val q159CsvIngestCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val staged = graft.core.Staging.invocationDir("graft_q159_csv", dir)
      stageOrdersCsv(s, dir, staged)
      val ing = Ingest.readOrdersCsv(s, staged)
      ing.groupBy(col("channel_group"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("campaign").isNull, 1)).as("null_campaigns"),
          sum(length(col("campaign"))).cast("long").as("campaign_chars"),
          count(when(col("currency") === "EUR", 1)).as("n_eur"),
          sum(col("quantity")).as("qty_sum"),
          sum(floor(col("shipping_cost") * 100).cast("long")).as("ship_cents"),
          sum(floor(col("amount") * 100).cast("long")).as("amount_cents"),
          sum(unix_timestamp(col("date_time"))).as("ts_epoch_sum"),
          count(when(col("date_time").isNull, 1)).as("n_ts_null"))
        .orderBy(col("channel_group"))
    },
    s"""WITH src AS (
       |  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderdate,
       |         o_orderpriority, o_orderstatus
       |  FROM orders),
       |dup AS (SELECT * FROM src UNION ALL SELECT * FROM src WHERE k % 11 = 0),
       |ing AS (
       |  SELECT o_orderstatus AS channel_group,
       |    CASE WHEN k % 3 = 0 THEN 'EUR' ELSE 'USD' END AS currency,
       |    o_totalprice AS amount,
       |    $hazardColsSql
       |  FROM dup)
       |SELECT channel_group,
       |  cast(count(*) AS bigint) AS n_rows,
       |  cast(count(*) FILTER (campaign IS NULL) AS bigint) AS null_campaigns,
       |  cast(sum(length(campaign)) AS bigint) AS campaign_chars,
       |  cast(count(*) FILTER (currency = 'EUR') AS bigint) AS n_eur,
       |  cast(sum(quantity) AS bigint) AS qty_sum,
       |  cast(sum(cast(floor(shipping_cost * 100) AS bigint)) AS bigint) AS ship_cents,
       |  cast(sum(cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(sum(cast(epoch(date_time) AS bigint)) AS bigint) AS ts_epoch_sum,
       |  cast(count(*) FILTER (date_time IS NULL) AS bigint) AS n_ts_null
       |FROM ing GROUP BY channel_group ORDER BY channel_group""".stripMargin)

  /** q161: the reference main-flow certificate — `main.py`'s complete
    * user story composed through the REAL components and judged as one
    * row set: schema sync BEFORE ingest (R4 sequencing,
    * `main.py:20–24`), CSV landing dirs through the hazard-bearing
    * reader (S1/P1–P5), a first load whose within-batch duplicate keys
    * are APPENDED (§2.4 first-load semantics,
    * `flows/data_ingestion.py:116,146`), a re-run batch whose matched
    * keys overwrite only the latest state row (LWW,
    * `:50–65` + `:197–206`) while unseen keys append — both through
    * [[graft.state.StateTable.upsert]] on the reference's COMPOSITE
    * (order_id, product_id) key — and a final report rollup off the
    * store (S8 shape). Individually these operators are judged by
    * q159/q10/q11/q156-q160; what no other query certifies is the
    * COMPOSITION: the cleaned CSV values survive the store round-trip,
    * the duplicate-key multiplicity survives BOTH upserts, and the LWW
    * overwrite lands on exactly one copy of a duplicated key (the
    * oracle's weighted-arms replay: matched keys contribute copies−1
    * v1-rows plus one v2-row). The sync leg judges `CreateTable` — the
    * one SchemaSync branch q160 leaves spec-only (the applied change is
    * require-pinned, so a drift is a named failure).
    *
    * Determinism note: the duplicate lines are byte-identical, so
    * last-write-wins over a multi-file (nondeterministically ordered)
    * scan is value-deterministic — the same property the reference
    * relies on when pandas iterates its CSV in file order.
    *
    * Scale: two scan-parallel landing-dir reads, two key-window upsert
    * passes (the store's own algebra), one store-scan rollup — each leg
    * already individually plan-audited; the composition adds no new
    * shuffle class. The judged plan is the final store scan + 3-group
    * rollup + 3-row sort.
    */
  /** q161's batch slices over [[hazardSource]] — shared with
    * IngestCertSpec's lifecycle guard so the guarded flow can never
    * drift from the judged one (the hazardSource discipline).
    */
  private[graft] val q161Batch1: DataFrame => DataFrame =
    _.filter(col("k") % 3 =!= 0)
  private[graft] val q161Batch2: DataFrame => DataFrame =
    df => df.filter(col("k") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))

  /** Stage both flow batches to invocation dirs under `prefix` —
    * shared by the batch and streamed flows so the two legs always
    * ingest identically-derived landing dirs.
    */
  private def stageFlowBatches(s: SparkSession, dir: String,
      prefix: String): (String, String) = {
    val dirA = graft.core.Staging.invocationDir(s"${prefix}_b1", dir)
    val dirB = graft.core.Staging.invocationDir(s"${prefix}_b2", dir)
    // disjoint output dirs over one immutable source: overlap the two
    // staging jobs (guide §2.6) — each is a handful of tasks, so the
    // second back-fills the first's tail instead of waiting on it
    graft.core.Par.both(
      stageOrdersCsv(s, dir, dirA, q161Batch1),
      stageOrdersCsv(s, dir, dirB, q161Batch2)): Unit
    (dirA, dirB)
  }

  /** Fresh store synced to a declared schema BEFORE any ingest (R4
    * sequencing; the CreateTable branch is require-pinned). ONE
    * definition for every flow leg — the sync-before-ingest
    * precondition must be the same certificate in q161/q162 (orders)
    * and q163 (inventories), not copies that can drift.
    */
  private def freshSyncedStore(s: SparkSession, dir: String,
      prefix: String, label: String,
      schema: org.apache.spark.sql.types.StructType = graft.core.Schemas.orders,
      key: Seq[String] = graft.core.Schemas.ordersKey): graft.state.StateTable = {
    val st = new graft.state.StateTable(s,
      graft.core.Staging.invocationDir(prefix, dir), key)
    val changes = graft.schemasync.SchemaSync.sync(s, st, schema)
    require(changes == Seq(graft.schemasync.SchemaSync.CreateTable(schema)),
      s"$label precondition: fresh-store sync applied $changes instead of CreateTable")
    st
  }

  /** Stage both landing dirs and run the full flow (sync → first load →
    * re-run) through a fresh store; returns the store with its three
    * retained versions (empty CreateTable, first load, re-run). Shared
    * by the judged query and the lifecycle guard.
    */
  private[graft] def q161BuildStore(s: SparkSession, dir: String): graft.state.StateTable = {
    // the stagings touch only their landing dirs, the sync only the
    // fresh state root — disjoint effects, overlapped (guide §2.6);
    // the first upsert needs both, so it stays after the join
    val ((dirA, dirB), st) = graft.core.Par.both(
      stageFlowBatches(s, dir, "graft_q161"),
      freshSyncedStore(s, dir, "graft_q161_state", "q161"))
    st.upsert(Ingest.readOrdersCsv(s, dirA)) // first load: append, dups kept
    st.upsert(Ingest.readOrdersCsv(s, dirB)) // re-run: LWW + unseen appends
    st
  }

  /** The flow's report rollup over a store's cleaned contents — shared
    * by q161 (batch store) and q162 (streamed store), so the two judged
    * certificates aggregate identically by construction.
    */
  private def flowRollup(contents: DataFrame): DataFrame =
    contents.groupBy(col("channel_group"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("campaign").isNull, 1)).as("null_campaigns"),
        sum(length(col("campaign"))).cast("long").as("campaign_chars"),
        sum(col("quantity")).as("qty_sum"),
        sum(floor(col("shipping_cost") * 100).cast("long")).as("ship_cents"),
        sum(floor(col("amount") * 100).cast("long")).as("amount_cents"),
        sum(unix_timestamp(col("date_time"))).as("ts_epoch_sum"))

  /** The weighted-arms LWW replay of the flow-built ORDERS store — the
    * `WITH … fin` CTE prefix shared verbatim by q161, q162, and q163
    * (the streamed store must equal the batch one and the A4 report
    * reads the same store, so one replay predicts all three; a drift
    * in the LWW weights would have to break every consumer at once).
    * `fin` carries o_custkey — the flow's product_id — so store-level
    * consumers can group by product as well as by channel_group.
    * A def for the object-init ordering rule.
    */
  private def flowStoreReplaySql: String =
    s"""WITH src AS (
       |  SELECT o_orderkey AS k, o_custkey, o_totalprice, o_orderdate,
       |         o_orderpriority, o_orderstatus FROM orders),
       |keyed AS (
       |  SELECT *, CASE WHEN k % 11 = 0 THEN 2 ELSE 1 END AS copies,
       |    $hazardColsSql
       |  FROM src),
       |-- weighted-arms LWW replay: batch-1 rows keep all copies on
       |-- unmatched keys and copies-1 on matched keys (the overwrite
       |-- absorbs exactly one), matched keys add one v2-amount row,
       |-- unseen batch-2 keys append all copies
       |arm_old AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice AS amount,
       |         copies - (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS w
       |  FROM keyed WHERE k % 3 <> 0),
       |arm_upd AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice * cast(1.1 AS double) AS amount, 1 AS w
       |  FROM keyed WHERE k % 3 <> 0 AND k % 2 = 0),
       |arm_ins AS (
       |  SELECT o_orderstatus, o_custkey, campaign, quantity, shipping_cost,
       |         date_time, o_totalprice * cast(1.1 AS double) AS amount, copies AS w
       |  FROM keyed WHERE k % 3 = 0 AND k % 2 = 0),
       |fin AS (SELECT * FROM arm_old WHERE w > 0
       |        UNION ALL SELECT * FROM arm_upd
       |        UNION ALL SELECT * FROM arm_ins)""".stripMargin

  /** The flow oracle: [[flowStoreReplaySql]] rolled up by channel_group
    * — shared by q161 and q162; `extraCols` appends the per-query
    * contract columns.
    */
  private def flowOracleSql(extraCols: String): String =
    s"""$flowStoreReplaySql
       |SELECT o_orderstatus AS channel_group,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(CASE WHEN campaign IS NULL THEN w ELSE 0 END) AS bigint) AS null_campaigns,
       |  cast(sum(CASE WHEN campaign IS NULL THEN 0
       |                ELSE w * length(campaign) END) AS bigint) AS campaign_chars,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum,
       |  cast(sum(w * cast(floor(shipping_cost * 100) AS bigint)) AS bigint) AS ship_cents,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(sum(w * cast(epoch(date_time) AS bigint)) AS bigint) AS ts_epoch_sum,
       |  $extraCols
       |FROM fin GROUP BY channel_group ORDER BY channel_group""".stripMargin

  val q161ReferenceFlowE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val st = q161BuildStore(s, dir)
      val versions = st.history().size.toLong
      flowRollup(st.current().get)
        .withColumn("n_versions", lit(versions))
        .orderBy(col("channel_group"))
    },
    flowOracleSql("cast(3 AS bigint) AS n_versions"))

  /** The streamed flow's handles: the store plus a re-drain thunk over
    * the same landing dir + checkpoint, so IngestCertSpec can prove the
    * exactly-once file log covers every landed file (a third drain with
    * nothing new must not write a version). `landing` is the live
    * landing directory itself, so a certificate can LAND MORE FILES
    * after the build and drain them through the same checkpoint
    * (q176's late-arriving batch).
    */
  private[graft] final case class StreamedFlow(
      st: graft.state.StateTable, drain: () => Unit, landing: String)

  /** Move a staged dir's part files into a landing dir under fresh
    * `tag`-prefixed names — the file source keys its processed-file log
    * on PATH, so later-landed files must never collide with an earlier
    * landing's names. ONE definition for the builder's re-run landing
    * and any certificate that lands extra batches (q176).
    */
  private[graft] def landStagedFiles(stageDir: String, landing: String,
      tag: String): Unit =
    graft.core.Fs.listDir(java.nio.file.Paths.get(stageDir))
      .filter(_.getFileName.toString.startsWith("part-"))
      .zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(landing, s"$tag-$i-${p.getFileName}")): Unit
      }

  /** The streamed reference flow, shared by q162 (parity certificate)
    * and q165 (maintained report): stage both batches, sync a fresh
    * store, drain the landing dir twice under ONE checkpoint — phase 1
    * the first-load files, phase 2 the re-run files landed into the
    * SAME directory. `afterDrain` fires after each drain with the store
    * (q165 folds its maintenance step there); the final history require
    * pins exactly one micro-batch version per drain, so a hook that
    * reads `history` sees the pre-drain version at size−2. ONE builder
    * so the streamed certificates can never drift to different
    * drain protocols. `finalVersions` is the expected RETAINED history
    * size after both drains — 3 (CreateTable + one micro-batch per
    * drain) unless the hook itself vacuums (q168's continuous
    * retention reclaims everything below the fold watermark, leaving
    * 1); a hook that vacuums also pins per-drain fold counts in its
    * guard spec, which carries the one-version-per-drain assumption
    * this require can then no longer see.
    */
  private def buildStreamedFlowStore(s: SparkSession, dir: String,
      prefix: String, label: String,
      afterDrain: graft.state.StateTable => Unit = _ => (),
      finalVersions: Int = 3): StreamedFlow = {
    // the phase-1 files stage directly into the landing dir; phase-2
    // files stage aside and land between the drains. Stagings and the
    // store sync touch disjoint dirs/roots — overlapped (guide §2.6);
    // the first drain needs both, so it stays after the join
    val ((landing, stageB), st) = graft.core.Par.both(
      stageFlowBatches(s, dir, prefix),
      freshSyncedStore(s, dir, s"${prefix}_state", label))
    val ckpt = graft.core.Staging.invocationDir(s"${prefix}_ckpt", dir)
    def drain(): Unit =
      graft.streaming.StreamingIngest.runOrdersIngest(s, landing, st, ckpt)
        .awaitTermination()
    drain() // phase 1: the first-load files
    afterDrain(st)
    // phase 2: the re-run files land in the SAME directory (fresh names;
    // the file source keys its processed-log on path)
    landStagedFiles(stageB, landing, "rerun")
    drain() // phase 2: only the newly-landed files
    afterDrain(st)
    require(st.history().size == finalVersions,
      s"$label precondition: expected $finalVersions retained version(s) " +
        s"after both drains, got ${st.history().size} — trigger chunking, " +
        "the checkpoint file log, or the hook's retention drifted")
    StreamedFlow(st, () => drain(), landing)
  }

  private[graft] def q162BuildStreamedStore(s: SparkSession, dir: String): StreamedFlow =
    buildStreamedFlowStore(s, dir, "graft_q162", "q162")

  /** q162: the STREAMING twin of q161 — the reference's "re-run when a
    * new file lands" semantics (`main.py:29–32`) as a file-source
    * stream, judged equal to the shared batch flow. Two `AvailableNow`
    * drains over ONE landing directory under ONE checkpoint: phase 1
    * drains the first-load files; the re-run files then LAND in the
    * same directory and phase 2 drains them — the checkpoint's
    * file-source log must skip every already-processed file, so the
    * judged `equiv_diff = 0` against [[q161BuildStore]]'s contents is
    * also an exactly-once certificate (a reprocessed first-load file
    * would LWW matched keys back to their v1 amounts and break the
    * multiset diff across ~half the key space). Each drain's upsert
    * goes through `foreachBatch` into the SAME `StateTable.upsert` the
    * batch flow calls — batch–stream parity by construction, judged
    * rather than assumed (the q117/q157 convention applied to the
    * reference's own flow).
    *
    * Determinism: a drain with no `maxFilesPerTrigger` bound processes
    * all available files in ONE micro-batch, so the store sees exactly
    * two upserts; the `history == 3` require names that assumption
    * (CreateTable + 2 micro-batches) instead of letting a trigger-
    * chunking change surface as an oracle mismatch. Within a
    * micro-batch the duplicate lines are byte-identical, so LWW is
    * value-deterministic under any file order (q161's argument).
    *
    * Scale: the file source tracks processed files in the checkpoint
    * (exactly-once per file at any corpus size); each micro-batch is an
    * ordinary distributed upsert. The judged plan is the streamed
    * store's scan-rollup plus the full-row multiset diff against the
    * batch store — two store scans, the honest price of an equivalence
    * certificate (q141/q151/q157 convention).
    */
  /** Per-group full-row multiset symmetric difference (q156's
    * convention): every column of `a` participates, so any value
    * produced differently in either leg breaks it. Computed as a
    * ±1-weighted union-groupBy, NOT a count join — rows legitimately
    * carry NULLs (cleaned campaigns), and a join on the column list can
    * never match NULL keys (NULL = NULL is not true), which would
    * report every NULL-bearing row as a spurious two-sided diff;
    * grouping treats NULLs as equal. One shuffle instead of
    * two-plus-join, too. ONE definition for every equivalence
    * certificate in this family (q162, q164), so the arithmetic cannot
    * drift between them.
    */
  private def multisetEquivDiff(a: DataFrame, b: DataFrame,
      groupKey: String): DataFrame = {
    val cols = a.columns.toIndexedSeq
    a.withColumn("_w", lit(1L)).unionByName(b.withColumn("_w", lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col("_w")).as("_imb"))
      .groupBy(col(groupKey)).agg(sum(abs(col("_imb"))).as("equiv_diff"))
  }

  val q162StreamingFlowE2e: QuerySpec = QuerySpec(
    (s, dir) => {
      val streamed = q162BuildStreamedStore(s, dir).st
      val batch = q161BuildStore(s, dir)
      val a = streamed.current().get
      val b = batch.current().get
      val versions = streamed.history().size.toLong
      val diff = multisetEquivDiff(a, b, "channel_group")
      // inner join: diff is grouped from the UNION of both stores, so
      // its channel_group set is a superset of the rollup's by
      // construction — there is no unmatched-row case to coalesce (and
      // a group present in only one store still surfaces, as a nonzero
      // equiv_diff on the side that has it or a missing rollup row
      // against the oracle's shape)
      flowRollup(a)
        .withColumn("n_versions", lit(versions))
        .join(diff, Seq("channel_group"))
        .orderBy(col("channel_group"))
    },
    flowOracleSql(
      "cast(3 AS bigint) AS n_versions,\n  cast(0 AS bigint) AS equiv_diff"))

  // ------------------------------------------------------------------
  // q163: the inventories flow leg + the A4 report off TWO flow-built
  // stores — the last literal leg of the reference user story
  // ------------------------------------------------------------------

  private[graft] val InvHeader = "productId,name,quantity,category,subCategory"

  /** The inventories fixture source: the product catalog derived from
    * the customer table (its key space is exactly the orders fixture's
    * productId space — [[linesFrom]] emits o_custkey as productId — so
    * catalog/sales overlap is structural, not coincidental). `quant` is
    * the batch-1 base quantity; batch transforms reshape it. Every
    * k ≡ 0 mod 10 row maps to a DISJOINT 'new_'-prefixed product id — a
    * just-listed product no order can reference — which makes A4's NULL
    * branch (never-sold products) load-bearing by construction rather
    * than by corpus accident. (Scale note: at sf0.001/sf0.01 every
    * customer has surviving orders, so the ghosts are the ONLY NULL
    * source; the NULL-rows-are-exactly-ghosts invariant the guard pins
    * is scale-checked, not structural — a corpus where a non-mod-10
    * customer had no orders would legitimately add non-ghost NULLs.)
    */
  private[graft] def invSource(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("k"), col("c_name"), col("c_mktsegment"))
      .withColumn("quant", (col("k") % 500 + 1).cast("int"))

  /** Inventory CSV lines (header NOT included) — no new byte hazards by
    * design: the S2 reader is the S1 path minus the timestamp parse
    * (q159 judges the cleaning contract); this fixture's job is the
    * simple-key store flow and the store-to-store report.
    */
  private[graft] def invLinesFrom(src: DataFrame): DataFrame =
    src.select(concat(
      when(col("k") % 10 === 0, concat(lit("new_"), col("k").cast("string")))
        .otherwise(col("k").cast("string")), lit(","),
      col("c_name"), lit(","),
      col("quant").cast("string"), lit(","),
      col("c_mktsegment"), lit(","),
      concat(lit("sub_"), (col("k") % 13).cast("string"))).as("value"))

  /** Stage an inventories landing dir (2 part files, camelCase header
    * per file) via [[stageLandingDir]].
    */
  private[graft] def stageInventoriesCsv(
      spark: SparkSession, dir: String, out: String,
      transform: DataFrame => DataFrame = identity): Unit =
    stageLandingDir(spark,
      invLinesFrom(splitForStaging(transform(invSource(spark, dir)), 2)),
      InvHeader, 2, out)

  /** q163's inventory batch slices — batch 1 is the catalog minus the
    * k ≡ 0 mod 7 block (those arrive later), batch 2 re-lists every
    * even-k product with a restock of +7 units: matched even keys are
    * LWW-updated, unseen even multiples of 7 are inserted, odd
    * multiples of 7 never reach the store. Shared with IngestCertSpec's
    * lifecycle guard (the hazardSource discipline).
    */
  private[graft] val q163InvBatch1: DataFrame => DataFrame =
    _.filter(col("k") % 7 =!= 0)
  private[graft] val q163InvBatch2: DataFrame => DataFrame =
    df => df.filter(col("k") % 2 === 0)
      .withColumn("quant", (col("quant") + 7).cast("int"))

  /** The inventories flow leg (`flows/data_ingestion.py:250–272` runs it
    * after the orders leg, same task shapes: read → split → upsert):
    * sync CreateTable on the SIMPLE product_id key, first load, re-run.
    * Shared by the judged query and the lifecycle guard.
    */
  private[graft] def q163BuildInvStore(s: SparkSession, dir: String): graft.state.StateTable = {
    val dirA = graft.core.Staging.invocationDir("graft_q163_inv_b1", dir)
    val dirB = graft.core.Staging.invocationDir("graft_q163_inv_b2", dir)
    // two disjoint staging dirs + a disjoint store root — overlap all
    // three construction legs (guide §2.6; the first upsert joins them)
    val (_, st) = graft.core.Par.both(
      graft.core.Par.both(
        stageInventoriesCsv(s, dir, dirA, q163InvBatch1),
        stageInventoriesCsv(s, dir, dirB, q163InvBatch2)),
      freshSyncedStore(s, dir, "graft_q163_inv_state", "q163",
        graft.core.Schemas.inventories, graft.core.Schemas.inventoriesKey))
    st.upsert(Ingest.readInventoriesCsv(s, dirA))
    st.upsert(Ingest.readInventoriesCsv(s, dirB))
    st
  }

  /** q163: the store-to-store report certificate — the reference's
    * reports read POSTGRES TABLES the flow built, not raw extracts
    * (`README.md:31`, the psql surface), and the flow ingests BOTH
    * datasets (`flows/data_ingestion.py:250–272`). q161 judged the
    * orders leg + a rollup off its store; q00–q09 judge the report
    * algebra off raw corpus parquet. What no query certified is the
    * production read path END TO END: CSV landing dirs → the orders
    * store (composite key, LWW) AND the inventories store (simple key,
    * LWW restock) → A4's LEFT JOIN report (`README.md:112–130`)
    * computed off the two StateTables — catalog joined to sales with
    * NULL total_sold/remaining_stock propagating for never-sold
    * products (no coalesce, the reference's own semantics, generalized
    * from its single-product WHERE to the full catalog as in q04).
    *
    * The judged frame pins, per catalog row: the LWW-final stock
    * (batch-2 restock on even keys, batch-1 base on odd, absent for
    * odd multiples of 7), the orders store's per-product quantity sum
    * through ITS two-upsert lifecycle (q161's weighted-arms replay,
    * grouped by product instead of channel), and the NULL branch
    * (every 'new_' ghost product and nothing else).
    *
    * Scale: aggregate-before-join (the fact side collapses to one row
    * per product BEFORE the join — q04's discipline); the catalog side
    * is corpus-proportional, so no broadcast hint — the house rule —
    * and the join shuffles on the key both sides are already
    * aggregated/unique on. Store builds are construction (q74/q103
    * convention); the judged plan is two store scans, one partial-agg
    * shuffle, one key-exchange join, the output sort.
    */
  val q163StoreReportCert: QuerySpec = QuerySpec(
    (s, dir) => {
      // the two store builds touch disjoint staging dirs and roots —
      // overlap them (guide §2.6); each leg's internal order (sync →
      // first load → re-run) is untouched
      val (ordersSt, invSt) = graft.core.Par.both(
        q161BuildStore(s, dir), q163BuildInvStore(s, dir))
      require(invSt.history().size == 3,
        s"q163 precondition: expected CreateTable + 2 load versions on " +
          s"the inventories store, got ${invSt.history().size}")
      val sold = ordersSt.current().get
        .groupBy(col("product_id"))
        .agg(sum(col("quantity")).as("total_sold"))
      invSt.current().get
        .select(col("product_id"), col("name"), col("quantity").as("current_stock"))
        .join(sold, Seq("product_id"), "left_outer")
        .select(col("product_id"), col("name"), col("current_stock"),
          col("total_sold"),
          (col("current_stock") - col("total_sold")).as("remaining_stock"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql,
       |sold AS (
       |  SELECT cast(o_custkey AS varchar) AS product_id,
       |         cast(sum(w * quantity) AS bigint) AS total_sold
       |  FROM fin GROUP BY 1),
       |-- the inventories store replay: even keys carry the batch-2
       |-- restock (+7 over the base k % 500 + 1), odd non-multiples of 7
       |-- keep their batch-1 base, odd multiples of 7 never landed;
       |-- k ≡ 0 mod 10 products carry the disjoint 'new_' id space
       |inv AS (
       |  SELECT CASE WHEN c_custkey % 10 = 0
       |              THEN 'new_' || cast(c_custkey AS varchar)
       |              ELSE cast(c_custkey AS varchar) END AS product_id,
       |         c_name AS name,
       |         cast(CASE WHEN c_custkey % 2 = 0 THEN c_custkey % 500 + 8
       |                   ELSE c_custkey % 500 + 1 END AS integer) AS current_stock
       |  FROM customer
       |  WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 2 = 1))
       |SELECT i.product_id, i.name, i.current_stock, s.total_sold,
       |       cast(i.current_stock - s.total_sold AS bigint) AS remaining_stock
       |FROM inv i LEFT JOIN sold s ON i.product_id = s.product_id
       |ORDER BY i.product_id""".stripMargin)

  /** The per-product sales report maintained by q164 — one definition
    * for the base snapshot, both delta arms, and the full-recompute
    * certificate leg, so the maintained aggregate and its oracle twin
    * cannot drift from the recomputed one.
    */
  private def productContrib(slices: Seq[DataFrame]): DataFrame =
    slices.head.select(col("product_id"), lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("amount_cents"))

  /** One change feed of a maintained report: `watermark` names the
    * report column that stamps the version of this source the report
    * reflects (the resume point, read back off the durable rows — one
    * per source, the offset-log discipline of Structured Streaming's
    * recovery), and `pruneCols` the columns a change to this source is
    * pruned on: the changed-key frame a step projects off this
    * source's CDC, semi-joined against EVERY source slice of that step
    * (so all of a shape's sources carry these columns).
    */
  private[graft] final case class Source(watermark: String, pruneCols: Seq[String])

  /** A maintained SUM-shaped report family as ONE object: the
    * aggregate definition, its grouping/measure columns, its change
    * feeds, and — derived, never hand-written — the durable
    * report-store schema (group columns as strings unless `groupTypes`
    * declares otherwise, measures as longs, plus one watermark column
    * per source). Bundling them means a consumer ([[reportStoreHandle]]
    * / [[maintain]]) can never pair one family's fold with another's
    * declared schema. Instances: [[productShape]] (q164–q168's
    * per-product report), [[categoryShape]] (q169/q170's level-1
    * per-(group, product) report; q171's second consumer),
    * [[joinedShape]] (q175/q177's joined per-category report — the one
    * two-source shape), and [[monthlyShape]] (q176's time-bucketed
    * report — its DERIVED integer group keys are why `groupTypes`
    * exists).
    */
  private[graft] final case class MaintainedShape(
      /** Per-row measure contributions: maps the source slices (one per
        * [[sources]] entry, in order — a multi-source shape also says
        * here how its slices combine, e.g. [[joinedView]]) to
        * `groupCols ++ measureCols` rows whose measures are exact LONG
        * per-row contributions (counts as `lit(1L)`) — [[report]] is
        * DERIVED from it (group-by + SUM), so the aggregate a consumer
        * materializes and the fold's ± arms can never drift.
        */
      contrib: Seq[DataFrame] => DataFrame,
      groupCols: Seq[String], measureCols: Seq[String],
      groupTypes: Seq[org.apache.spark.sql.types.DataType] = Nil,
      /** The change feeds in walk order; a single-source shape folds
        * the orders store, pruned on its key.
        */
      sources: Seq[Source] = Seq(Source("as_of", graft.core.Schemas.ordersKey))) {
    require(groupTypes.isEmpty || groupTypes.size == groupCols.size,
      "groupTypes must be empty (all strings) or one per group column")
    private def sums = measureCols.map(c => sum(col(c)).as(c))
    /** The full aggregate over the source slices — the recompute legs'
      * and base materializations' shape: one group-by exchange over the
      * per-row contributions (SUM of `lit(1L)` replaces COUNT — same
      * long values, and the shared definition is what makes the fused
      * fold provably the same aggregate).
      */
    def report(slices: DataFrame*): DataFrame =
      contrib(slices).groupBy(groupCols.map(col): _*).agg(sums.head, sums.tail: _*)

    /** The generic ± fold behind EVERY maintained aggregate: apply the
      * delta of one change step to `base`, the materialized report for
      * the `before` slices. Both arms read their slices semi-joined to
      * `keys` (on the key frame's own columns), so a step's cost tracks
      * the CHANGE volume, not the store size; the fold unions the
      * ±1-SIGNED per-row contributions of both arms onto `base` and
      * aggregates ONCE. Equivalent to `report(after ⋉ keys) ⊖
      * report(before ⋉ keys)` by distributivity of SUM over exact
      * longs (every measure is an integer contribution — counts are
      * `lit(1L)`, cents/quantities are floored/cast longs BEFORE
      * summing), but pays ONE aggregation exchange instead of three
      * (guide §2.3/§2.4): the final group-by's partial (map-side)
      * aggregation collapses each arm to group grain before the
      * shuffle anyway.
      *
      * Correct for ALL three change kinds — inserts and updates land
      * via the `after ⊖ before` arms over the changed keys, and a
      * DELETED key's rows appear only in the before arm, retracting
      * its contribution; a group whose rows ALL retracted leaves a zero
      * shell, filtered here (SUM/COUNT are self-maintainable; MIN/MAX
      * needs the per-group recompute fallback — q169's
      * [[maintainTopSellers]]). Group MOVES are absorbed for free: an
      * LWW update that rewrites a group column retracts the key's rows
      * from the old group via the before arm and adds them to the new
      * one via the after arm.
      *
      * PRECONDITION on the change feed: `keys` must cover every key
      * whose row MULTISET differs between the versions.
      * [[graft.state.StateTable.diff]] is key-level (latest row per
      * key), so a transition that added or removed value-identical
      * COPIES of an existing key would slip past it — but transitions
      * produced by [[graft.state.StateTable.upsert]] can never do that:
      * the LWW arm rewrites an existing key's latest row IN PLACE and
      * the insert arm appends only UNSEEN keys, so an existing key's
      * multiplicity is invariant across an upsert, and any multiset
      * change at an existing key shows up in its latest row's values
      * (IngestCertSpec pins this invariant on the judged flow's own
      * version pair). Feeding this fold from a store mutated by raw
      * `overwrite` (multiset edits invisible at key level) needs a
      * multiset-aware change feed instead — e.g. also diffing per-key
      * row counts between the versions — unless the edit removes or
      * rewrites WHOLE keys (q170/q172's purges).
      */
    def fold(base: DataFrame, before: Seq[DataFrame], after: Seq[DataFrame],
        keys: DataFrame): DataFrame = {
      def arm(slices: Seq[DataFrame], sign: Long) =
        contrib(slices.map(_.join(keys, keys.columns.toSeq, "left_semi")))
          .select(groupCols.map(col) ++
            measureCols.map(c => (col(c) * lit(sign)).as(c)): _*)
      base
        .unionByName(arm(after, 1L)).unionByName(arm(before, -1L))
        .groupBy(groupCols.map(col): _*)
        .agg(sums.head, sums.tail: _*)
        .filter(col("n_rows") > 0)
    }

    def schema: org.apache.spark.sql.types.StructType = {
      val types =
        if (groupTypes.isEmpty)
          groupCols.map(_ => org.apache.spark.sql.types.StringType)
        else groupTypes
      org.apache.spark.sql.types.StructType(
        groupCols.zip(types).map { case (c, t) =>
          org.apache.spark.sql.types.StructField(c, t) } ++
        measureCols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType)) ++
        sources.map(src => org.apache.spark.sql.types.StructField(
          src.watermark, org.apache.spark.sql.types.StringType)))
    }
  }

  private[graft] val productShape: MaintainedShape =
    MaintainedShape(productContrib, Seq("product_id"),
      Seq("n_rows", "amount_cents"))

  /** Where a maintained report lives between the steps of [[maintain]]:
    * the watermark vector its progress is recorded at (None before any
    * progress), the report the next step folds onto, and the commit
    * of a folded step. [[DurableReport]] keeps it in a report store,
    * [[CarriedReport]] in memory.
    */
  private[graft] sealed trait ReportState {
    val shape: MaintainedShape
    /** The vector a report with no recorded progress starts from,
      * given every source's retained history (oldest first).
      */
    def start(histories: Seq[Seq[String]]): Seq[String]
    def watermarks(): Option[Seq[String]]
    /** The report's current rows, without watermark columns. */
    def report(): DataFrame
    /** Take `base`, the report of the start slices, as the report at
      * `start`; `anyEmpty` says whether a start slice has no rows.
      */
    def bootstrap(base: DataFrame, start: Seq[String], anyEmpty: => Boolean): Unit
    def commit(report: DataFrame, wm: Seq[String]): Unit
    /** The changed-key frame as one step's two arms read it. */
    def keys(changed: DataFrame): DataFrame
  }

  /** A durable report: the report table `st` ([[reportStoreHandle]])
    * holds the rows plus one watermark column per source, constant
    * across a version's rows (every commit stamps the vector it
    * reflects), so one single-row aggregate recovers the vector with
    * no sidecar metadata file; version strings sort by their monotonic
    * nano-timestamp prefix, so max IS the latest. An un-started
    * consumer starts at the OLDEST retained version of every source,
    * and writes its base only when every start slice carries rows:
    * otherwise the base is empty (a single source trivially; an inner
    * join by its algebra) and the report store's empty CreateTable
    * version already holds it — the judged flows whose oldest versions
    * ARE empty CreateTables keep their report-version counts.
    * Each commit writes one report version — the durable write IS the
    * step's lineage truncation, so the changed-key frame rides
    * UNPINNED into it: an eager pin only added one extra sequential
    * job round-trip per fold (the family's cost is job COUNT, not
    * volume — §1.2/§2.4). The diff subtree appears in both ± arms, but
    * it is deterministic (max_by over the unique-per-row _seq) and its
    * exchanges are reused within the single write job where the
    * planner proves the subtrees identical — measured on q167/q168:
    * one job fewer per fold, same fold output. Versioned immutability
    * makes the read-while-write safe: each step's base is read from
    * the CURRENT version dir while the next version writes to a fresh
    * dir.
    */
  private[graft] final class DurableReport(st: graft.state.StateTable,
      val shape: MaintainedShape) extends ReportState {
    private val wmCols = shape.sources.map(_.watermark)
    def start(histories: Seq[Seq[String]]): Seq[String] = histories.map(_.head)
    def watermarks(): Option[Seq[String]] = {
      val maxes = wmCols.map(c => max(col(c)))
      val r = st.current().get.agg(maxes.head, maxes.tail: _*).head()
      if (r.isNullAt(0)) None else Some(wmCols.indices.map(r.getString))
    }
    def report(): DataFrame = st.current().get.drop(wmCols: _*)
    def bootstrap(base: DataFrame, start: Seq[String], anyEmpty: => Boolean): Unit =
      if (!anyEmpty) commit(base, start)
    def commit(report: DataFrame, wm: Seq[String]): Unit =
      st.overwrite(wmCols.zip(wm).foldLeft(report) { case (df, (c, v)) =>
        df.withColumn(c, lit(v)) })
    def keys(changed: DataFrame): DataFrame = changed
  }

  /** A carried report: the rows live in memory, starting at the
    * vector `startAt` picks with the (unpinned) report of its slices as
    * the base. Each commit and each step's changed-key frame is pinned
    * (Checkpoints.pin): the maintained artifact must
    * not accrete lineage across steps — at production step counts an
    * unpinned fold's plan depth grows per micro-batch (the
    * iterative-operator rule, `core/Checkpoints.scala`). The pinned key
    * frames are kept, one per applied step, for the guards.
    */
  private[graft] final class CarriedReport(val shape: MaintainedShape,
      startAt: Seq[Seq[String]] => Seq[String]) extends ReportState {
    private var wm: Option[Seq[String]] = None
    private var rows: DataFrame = null
    val stepKeys = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def start(histories: Seq[Seq[String]]): Seq[String] = startAt(histories)
    def watermarks(): Option[Seq[String]] = wm
    def report(): DataFrame = rows
    def bootstrap(base: DataFrame, start: Seq[String], anyEmpty: => Boolean): Unit = {
      rows = base
      wm = Some(start)
    }
    def commit(report: DataFrame, wm: Seq[String]): Unit = {
      rows = graft.core.Checkpoints.pin(report)
      this.wm = Some(wm)
    }
    def keys(changed: DataFrame): DataFrame = {
      val k = graft.core.Checkpoints.pin(changed)
      stepKeys += k
      k
    }
  }

  /** The ONE consumer walk behind every maintained report, one source
    * or several, durable or carried: bring `state` up to the latest
    * version of every store in `stores` (one per `state.shape.sources`
    * entry, in order). Returns the number of fold steps applied per
    * source: all 0 on a restart with nothing new (idempotence — the
    * guards call it again to prove exactly that), 1 per drained batch
    * in steady state, >1 when catching up after missed folds.
    *
    *  1. Read the watermark vector (a durable report: one single-row
    *     aggregate over its rows).
    *  2. FRESH-CONSUMER BOOTSTRAP: a report with no recorded progress
    *     starts at `state.start` — for a durable consumer the OLDEST
    *     retained version of every source — with `report(start slices)`
    *     as its base. Folding only the pairs after the start onto an
    *     EMPTY base is correct when the start versions are empty
    *     CreateTable versions, silently wrong once retention (q168's
    *     `vacuumBefore`) has reclaimed them: the consumer would
    *     permanently miss the oldest versions' contents, while its
    *     watermarks read fully caught up for retention decisions.
    *  3. Fold each source's pending version pairs in phases, in source
    *     order, one commit per pair: while source i walks, sources
    *     before it are held at their latest version (their phase is
    *     done) and sources after it at their watermark. Each step's
    *     arms are pruned to that source's changed keys. Phase
    *     composition is exact by telescoping — for two sources, phase 1
    *     accumulates `report(O_cur ⋈ I_wm) ⊖ report(O_wm ⋈ I_wm)`,
    *     phase 2 adds `report(O_cur ⋈ I_cur) ⊖ report(O_cur ⋈ I_wm)`;
    *     the middle terms cancel, leaving exactly the recompute delta,
    *     without needing any cross-store ordering of the histories
    *     (version names are comparable only within one store; a
    *     multi-source maintenance loop cannot assume a global clock).
    *
    * A watermark missing from its store's history means retention
    * outran the consumer — a named failure before any step is folded.
    */
  private[graft] def maintain(stores: Seq[graft.state.StateTable],
      state: ReportState): Seq[Int] = {
    val shape = state.shape
    val hs = stores.map(_.history())
    require(hs.forall(_.nonEmpty), "a source store has no versions to fold")
    var cur = state.watermarks().getOrElse {
      val start = state.start(hs)
      val slices = stores.zip(start).map { case (st, v) => st.readVersion(v) }
      state.bootstrap(shape.report(slices: _*), start, slices.exists(_.isEmpty))
      start
    }
    val idx = hs.zip(cur).map { case (h, v) => h.indexOf(v) }
    require(idx.forall(_ >= 0),
      s"report watermarks $cur not in the source histories — a store " +
        "was vacuumed past the report's resume point")
    stores.indices.map { i =>
      val pairs = hs(i).drop(idx(i)).sliding(2).filter(_.size == 2).toSeq
      pairs.foreach { case Seq(from, to) =>
        val keys = state.keys(stores(i).diff(from, to)
          .select(shape.sources(i).pruneCols.map(col): _*))
        def slices(v: String) = stores.indices.map(j =>
          stores(j).readVersion(if (j == i) v else cur(j)))
        val next = cur.updated(i, to)
        state.commit(shape.fold(state.report(), slices(from), slices(to), keys), next)
        cur = next
      }
      pairs.size
    }
  }

  /** q164: incremental report maintenance off the store's CDC feed —
    * judged equal to a full recompute. At 100 TB the reference's
    * reports cannot be recomputed per run; the scale answer is a
    * materialized report plus a delta derived from what CHANGED. The
    * store's versioned CDC ([[graft.state.StateTable.diff]], judged by
    * q158) is exactly that change feed, but until now nothing consumed
    * it downstream. q164 closes the loop on the reference's own report
    * surface:
    *
    *  1. build the flow store ([[q161BuildStore]]: first load v2,
    *     LWW re-run v3);
    *  2. materialize the per-product report off v2;
    *  3. read the v2→v3 CDC (key-level: inserts + LWW updates here;
    *     the algebra below also absorbs deletes — a deleted key's rows
    *     appear only in the before arm);
    *  4. form the delta as `report(v3 ⋉ changedKeys) −
    *     report(v2 ⋉ changedKeys)` — on a key-partitioned store both
    *     semi-joined scans prune to the changed keys' partitions, so
    *     the maintenance cost tracks the CHANGE volume, not the store
    *     size (this corpus re-runs half its keys; production re-runs
    *     touch a sliver);
    *  5. merge: `report(v3) ≡ report(v2) ⊎ delta` under group-wise sum
    *     (SUM/COUNT are self-maintainable; a MIN/MAX report would need
    *     the per-group recompute fallback on retraction).
    *
    * The judged rows carry the MAINTAINED report (so its values meet
    * the weighted-arms oracle replay) plus a per-product `equiv_diff`
    * against the full recompute (q162's ±1-weighted union-groupBy
    * multiset certificate) — 0 everywhere means the incremental path
    * reproduced the recompute exactly, row for row. A change the CDC
    * missed, a delta arm double-counting a duplicated key's copies, or
    * a retraction applied to the wrong group all break it.
    *
    * What the replayed oracle cannot see — that the delta path really
    * prunes (changedKeys a proper nonempty subset) and really moves the
    * report (v2 report ≠ v3 report) — IngestCertSpec pins.
    *
    * Scale: one CDC join (q158's audited shape), two semi-joined
    * pruned aggregations, three group-sums on the report key, the
    * certificate's recompute leg (the honest price, q141/q162
    * convention), one output sort. The CDC frame feeds both delta arms
    * — pinned once (Checkpoints.pin, the multi-consumer discipline).
    */
  val q164IncrementalReportCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val st = q161BuildStore(s, dir)
      val h = st.history()
      val keyCols = graft.core.Schemas.ordersKey
      val v2 = st.readVersion(h(1))
      val v3 = st.readVersion(h(2))
      val changedKeys = graft.core.Checkpoints.pin(
        st.diff(h(1), h(2)).select(keyCols.map(col): _*))
      val pinned = graft.core.Checkpoints.pin(
        productShape.fold(productShape.report(v2), Seq(v2), Seq(v3), changedKeys))
      val equiv = multisetEquivDiff(pinned, productShape.report(v3), "product_id")
      // inner join: equiv groups over the UNION of both report legs, a
      // superset of the maintained report's products by construction
      pinned.join(equiv, Seq("product_id")).orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  /** The maintained-stream handles: the drained store, the final
    * maintained report (pinned), and the per-drain CDC key frames
    * (pinned) — kept so IngestCertSpec can pin that ≥2 maintenance
    * steps really applied nonempty, DISTINCT key sets (the replayed
    * oracle sees only the final rows).
    */
  private[graft] final case class MaintainedStream(
      st: graft.state.StateTable, report: DataFrame,
      stepKeys: Seq[DataFrame])

  /** q165's construction: the q162 streamed flow with q164's report
    * maintenance folded INSIDE the drain loop — after each drained
    * micro-batch, one [[maintain]] walk folds the store's pending
    * version pairs into the [[CarriedReport]] (base case: empty at the
    * CreateTable version), pinning each step's report and CDC key
    * frame.
    */
  private[graft] def q165BuildMaintainedStream(
      s: SparkSession, dir: String): MaintainedStream = {
    val state = new CarriedReport(productShape, _.map(_.head))
    val flow = buildStreamedFlowStore(s, dir, "graft_q165", "q165",
      st => maintain(Seq(st), state): Unit)
    MaintainedStream(flow.st, state.report(), state.stepKeys.toSeq)
  }

  /** q165: the maintained report under STREAMING ingest — the 100 TB
    * report-freshness story end to end. q164 proved one CDC
    * maintenance step in batch; the production shape is the reference's
    * re-run-on-new-file loop (`main.py:29–32`,
    * `flows/data_ingestion.py:219–279`) keeping the report fresh as
    * the stream drains WITHOUT recomputing it: two `AvailableNow`
    * drains under ONE checkpoint (the q162 protocol, so the file
    * source's exactly-once log is in scope), and after EACH drain the
    * carried report absorbs the pruned CDC delta of that micro-batch.
    * The judged rows are the final maintained report — its values meet
    * the weighted-arms oracle replay, so the fold reproduced the full
    * ingest arithmetic — plus a per-product `equiv_diff` against the
    * recompute off the drained store (the q162/q164 multiset
    * certificate) and the applied step count. A drain the maintenance
    * missed, a delta folded twice across the checkpoint boundary, or a
    * reprocessed first-load file all break it.
    *
    * What the replayed oracle cannot see — that BOTH steps applied
    * nonempty, distinct CDC key sets (a degenerate fold that only ran
    * once over the union would replay green) — IngestCertSpec pins off
    * [[MaintainedStream.stepKeys]].
    *
    * Scale: maintenance cost per drain tracks the micro-batch's CHANGE
    * volume (semi-join-pruned arms, a group-sum over the report key),
    * not the store size; the carried report is pinned per step so plan
    * depth stays O(1) in drain count. The judged plan is the pinned
    * report scan, the recompute certificate leg's scan-agg (the honest
    * price, q141/q162/q164 convention), the ±1-weighted union-groupBy
    * pair, and the output sort.
    */
  val q165StreamingReportMaintCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val m = q165BuildMaintainedStream(s, dir)
      val recompute = productShape.report(m.st.current().get)
      val equiv = multisetEquivDiff(m.report, recompute, "product_id")
      // inner join: equiv groups over the UNION of both report legs, a
      // superset of the maintained report's products by construction
      m.report
        .withColumn("n_steps", lit(m.stepKeys.size.toLong))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(2 AS bigint) AS n_steps,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  /** q166: the A2 report (orders per product per month,
    * `README.md:79–92` over `flows/data_ingestion.py:86–91` data) off
    * the flow-built store — the one reference-report axis that had no
    * judged row through the production path: a TIMESTAMP that survived
    * CSV parse (dual-format, q159) → store round-trip (q161) → month/
    * year EXTRACT (q02's shape, UTC-pinned). q02 judges the EXTRACT
    * off raw corpus DATE columns; this certifies it off the ingested
    * TimestampType, where a tz or precision drift in the store
    * round-trip would move rows between months.
    *
    * Scale: the store build is construction (q74/q103 convention); the
    * judged plan is one store scan into the (product, year, month)
    * rollup — one hash exchange — and the output sort.
    */
  val q166StoreMonthlyCert: QuerySpec = QuerySpec(
    (s, dir) => {
      val st = q161BuildStore(s, dir)
      st.current().get
        .groupBy(col("product_id"),
          year(col("date_time")).as("sale_year"),
          month(col("date_time")).as("sale_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("quantity")).as("qty_sum"))
        .orderBy(col("product_id"), col("sale_year"), col("sale_month"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(year(date_time) AS integer) AS sale_year,
       |  cast(month(date_time) AS integer) AS sale_month,
       |  cast(sum(w) AS bigint) AS n_orders,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum
       |FROM fin GROUP BY 1, 2, 3
       |ORDER BY product_id, sale_year, sale_month""".stripMargin)

  // ------------------------------------------------------------------
  // q167: DURABLE, resumable report maintenance — the process-failure
  // story q165 leaves implicit
  // ------------------------------------------------------------------

  /** A (possibly fresh-process) handle to the durable report table at
    * `root` for one maintained `shape`: first call CreateTables its
    * [[MaintainedShape.schema]] via the same SchemaSync leg every flow
    * store uses (R4 sequencing), later calls must find it already in
    * sync — any other applied change is a named failure.
    */
  private[graft] def reportStoreHandle(
      s: SparkSession, root: String,
      shape: MaintainedShape = productShape): graft.state.StateTable = {
    val st = new graft.state.StateTable(s, root, shape.groupCols)
    val changes = graft.schemasync.SchemaSync.sync(s, st, shape.schema)
    require(changes.isEmpty ||
      changes == Seq(graft.schemasync.SchemaSync.CreateTable(shape.schema)),
      s"report store $root: sync applied $changes")
    st
  }

  /** A single-source report's resume point: its durable `as_of` (every
    * single-source shape stamps it), with the empty-report fallback to
    * `oldest` (the store's first retained version): an un-started
    * consumer bounds retention at the oldest version, so a resume can
    * still fold everything and a bounded vacuum reclaims nothing. ONE
    * definition for the q168/q171 retention hooks and the specs, so
    * the convention cannot drift.
    */
  private[graft] def reportWatermark(
      reportSt: graft.state.StateTable, oldest: => String): String =
    new DurableReport(reportSt, productShape).watermarks().fold(oldest)(_.head)

  /** Resume single-source report maintenance from DURABLE state only:
    * the one-source [[maintain]] walk over the orders store, its
    * changes pruned on `keyCols`, one report version written per fold
    * step. Returns the number of fold steps applied.
    */
  private[graft] def resumeReportMaintenance(
      ordersSt: graft.state.StateTable,
      reportSt: graft.state.StateTable,
      keyCols: Seq[String],
      shape: MaintainedShape = productShape): Int =
    maintain(Seq(ordersSt), new DurableReport(reportSt, shape.copy(
      sources = Seq(shape.sources.head.copy(pruneCols = keyCols))))).head

  /** q167's construction: the q162 streamed flow with the maintenance
    * persisted DURABLY per drain, and every fold performed by a
    * FRESH-HANDLE "process" that recovers all its state from disk —
    * the restart realism q165's in-memory carried report cannot give.
    * Returns the roots (the durable state) plus per-drain applied-step
    * counts for the guards.
    */
  private[graft] final case class DurableFlow(
      ordersRoot: String, reportRoot: String, foldSteps: Seq[Int])

  private[graft] def q167BuildDurableFlow(
      s: SparkSession, dir: String): DurableFlow = {
    val reportRoot = graft.core.Staging.invocationDir("graft_q167_report", dir)
    val steps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val flow = buildStreamedFlowStore(s, dir, "graft_q167", "q167", st => {
      // restart realism: NEW handles from the durable roots on every
      // drain — the fold may use nothing the previous "process" held
      // in memory
      val orders = new graft.state.StateTable(s, st.root,
        graft.core.Schemas.ordersKey)
      val report = reportStoreHandle(s, reportRoot)
      steps += resumeReportMaintenance(orders, report,
        graft.core.Schemas.ordersKey)
    })
    DurableFlow(flow.st.root, reportRoot, steps.toSeq)
  }

  /** q167: durable, RESUMABLE report maintenance — the
    * process-failure story. q165 judges the maintained report as a
    * carried in-memory artifact: correct while the process lives, gone
    * with it. At 100 TB the maintenance loop runs for days and WILL be
    * restarted; the production shape persists the maintained report in
    * its own versioned table with a resume watermark, and a restarted
    * process recovers everything from durable state. q167 certifies
    * exactly that: the q162 streamed flow (two drains, one checkpoint)
    * with each fold performed by a fresh-handle "process" —
    * [[reportStoreHandle]] re-syncs, [[resumeReportMaintenance]]
    * recovers the `as_of` watermark off the report's own rows, folds
    * the orders versions landed since (CDC-pruned, one durable report
    * version per step), and a restart with nothing new applies ZERO
    * steps (idempotence, IngestCertSpec's third-handle guard). The
    * judged rows are the report table's CURRENT contents (values meet
    * the weighted-arms replay), the report version count (CreateTable
    * + one per fold), the total applied steps, and the per-product
    * `equiv_diff` against the recompute off the drained store. A
    * fold that re-applied an already-folded version (watermark broken),
    * a missed version (sliding walk broken), or a report row lost in
    * the durable round-trip all break it.
    *
    * Scale: identical maintenance algebra to q165 (cost tracks change
    * volume), plus one small-table write per step — the durable write
    * replaces q165's in-memory pin as the lineage truncation, and the
    * report table's atomic version swap gives readers a consistent
    * report at every instant (R3's transaction discipline applied to
    * the DERIVED artifact, not just the ingested one).
    */
  val q167DurableReportResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val flow = q167BuildDurableFlow(s, dir)
      val ordersSt = new graft.state.StateTable(s, flow.ordersRoot,
        graft.core.Schemas.ordersKey)
      val reportSt = reportStoreHandle(s, flow.reportRoot)
      val maintained = reportSt.current().get.drop("as_of")
      val recompute = productShape.report(ordersSt.current().get)
      val equiv = multisetEquivDiff(maintained, recompute, "product_id")
      maintained
        .withColumn("n_steps", lit(flow.foldSteps.sum.toLong))
        .withColumn("n_report_versions", lit(reportSt.history().size.toLong))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(2 AS bigint) AS n_steps,
       |  cast(3 AS bigint) AS n_report_versions,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q168: retention running NEXT TO durable maintenance — vacuum
  // bounded by the consumer watermark, judged together with resume
  // ------------------------------------------------------------------

  /** q168's durable state plus the per-drain retention evidence: fold
    * counts (q167's shape) and the version names each mid-loop vacuum
    * reclaimed — kept so the guard spec can pin that retention bit on
    * EVERY drain, not just in aggregate.
    */
  private[graft] final case class RetainedFlow(
      ordersRoot: String, reportRoot: String, foldSteps: Seq[Int],
      reclaimed: Seq[Seq[String]])

  /** q167's durable flow with the production retention policy running
    * inside the loop: after each fresh-handle fold, vacuum the orders
    * store bounded by the MINIMUM CONSUMER WATERMARK — here the
    * report's own durable `as_of`, re-read from disk rather than
    * trusted from memory (the same restart realism as the fold). Every
    * version a resume could still fold from survives by construction
    * ([[graft.state.StateTable.vacuumBefore]] keeps `≥ watermark`),
    * while fully-absorbed history is reclaimed immediately.
    */
  private[graft] def q168BuildRetainedFlow(
      s: SparkSession, dir: String): RetainedFlow = {
    val reportRoot = graft.core.Staging.invocationDir("graft_q168_report", dir)
    val steps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val reclaimed = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val flow = buildStreamedFlowStore(s, dir, "graft_q168", "q168", st => {
      val orders = new graft.state.StateTable(s, st.root,
        graft.core.Schemas.ordersKey)
      val report = reportStoreHandle(s, reportRoot)
      steps += resumeReportMaintenance(orders, report,
        graft.core.Schemas.ordersKey)
      // retention, bounded by the consumer: the report's durable
      // watermark, re-read from disk ([[reportWatermark]] — empty
      // report ⇒ oldest version ⇒ the vacuum reclaims nothing)
      reclaimed += orders.vacuumBefore(
        reportWatermark(report, orders.history().head))
    },
      // continuous retention converges the store to the single current
      // version: each vacuum reclaims everything below that drain's
      // fold watermark (see the builder's finalVersions note)
      finalVersions = 1)
    RetainedFlow(flow.st.root, reportRoot, steps.toSeq, reclaimed.toSeq)
  }

  /** q168: retention and resumable maintenance judged TOGETHER — the
    * store-lifecycle completion of q167. q158 proves vacuum on a
    * store; q167 proves resume off the report's durable watermark;
    * at 100 TB the two run CONCURRENTLY for days, and an unbounded
    * vacuum would strand the resume point (q167's
    * [[resumeReportMaintenance]] require is the crash, not the
    * answer). The production policy judged here: vacuum bounded by
    * min(consumer watermarks) — each drain's fold is followed by
    * `vacuumBefore(report.as_of)`, so retention reclaims exactly the
    * history every consumer has absorbed and nothing a resume could
    * still need. The judged rows are the maintained report's durable
    * contents (values meet the weighted-arms replay — the SECOND fold
    * ran off a post-vacuum history, so a reclaim that broke the walk
    * would surface), the total fold count, the total versions
    * reclaimed (2 — the vacuum must actually BITE, once per drain),
    * the retained version count (1 — retention converged to minimal),
    * and the per-product `equiv_diff` against the recompute. The
    * negative path — an UNSAFE keep-current-only vacuum while the
    * watermark is behind must still fail the resume loudly — is
    * guard-pinned in IngestCertSpec, as are the per-drain reclaim
    * counts the judged totals cannot distinguish.
    *
    * Reference leg: R3's transactional hygiene extended to the full
    * store lifecycle the reference delegates to Postgres MVCC +
    * autovacuum (SURVEY §2.9) — versioned immutability gives the MVCC
    * read side, the watermark-bounded vacuum is the autovacuum that
    * never reclaims a row an open consumer still needs.
    *
    * Scale: identical maintenance algebra to q167 (cost tracks change
    * volume); the vacuum itself is a driver-side directory delete of
    * versions no reader can be entering (readers come in via
    * `_CURRENT` or a consumer watermark, both ≥ the reclaim bound),
    * so retention adds no executor work at all — the judged plan is
    * exactly q167's consumer shape (report scan ⋈ recompute
    * certificate leg via the ±1-weighted union-groupBy).
    */
  val q168RetentionSafeResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val flow = q168BuildRetainedFlow(s, dir)
      val ordersSt = new graft.state.StateTable(s, flow.ordersRoot,
        graft.core.Schemas.ordersKey)
      val reportSt = reportStoreHandle(s, flow.reportRoot)
      val maintained = reportSt.current().get.drop("as_of")
      val recompute = productShape.report(ordersSt.current().get)
      val equiv = multisetEquivDiff(maintained, recompute, "product_id")
      maintained
        .withColumn("n_steps", lit(flow.foldSteps.sum.toLong))
        .withColumn("n_reclaimed", lit(flow.reclaimed.map(_.size).sum.toLong))
        .withColumn("n_retained", lit(ordersSt.history().size.toLong))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(2 AS bigint) AS n_steps,
       |  cast(2 AS bigint) AS n_reclaimed,
       |  cast(1 AS bigint) AS n_retained,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q169: maintained TOP-SELLER report — the MIN/MAX-shaped aggregate
  // family, with the per-group recompute fallback on retraction
  // ------------------------------------------------------------------

  /** Level 1 of the top-seller maintenance: per (channel_group,
    * product_id) revenue and row count. SUM-shaped, so the ± delta
    * algebra maintains it exactly like [[productShape]] — one
    * definition for the base snapshot, both delta arms, and the
    * recompute certificate leg; an LWW update that rewrites
    * channel_group is a group MOVE, absorbed by the ± arms
    * ([[MaintainedShape.fold]]).
    */
  private def categoryContrib(slices: Seq[DataFrame]): DataFrame =
    slices.head.select(col("channel_group"), col("product_id"),
      lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("revenue_cents"))

  private[graft] val categoryShape: MaintainedShape =
    MaintainedShape(categoryContrib, Seq("channel_group", "product_id"),
      Seq("n_rows", "revenue_cents"))

  /** Level 2: the best-selling product per channel group off a level-1
    * frame — deterministic argmax (revenue ties broken by LARGEST
    * product_id via the struct ordering; the oracle mirrors with
    * `ORDER BY revenue_cents DESC, product_id DESC`).
    */
  private[graft] def topSellers(lvl1: DataFrame): DataFrame =
    lvl1.groupBy(col("channel_group"))
      .agg(max(struct(col("revenue_cents"), col("product_id"))).as("_t"))
      .select(col("channel_group"),
        col("_t").getField("product_id").as("top_product_id"),
        col("_t").getField("revenue_cents").as("top_revenue_cents"))

  /** The channel groups whose level-1 rows a change step can move: the
    * groups of the changed keys' rows on EITHER side of the transition
    * (before-side catches retractions and moves-out, after-side
    * inserts and moves-in).
    */
  private[graft] def touchedGroups(before: DataFrame, after: DataFrame,
      changedKeys: DataFrame, keyCols: Seq[String]): DataFrame =
    before.join(changedKeys, keyCols, "left_semi").select(col("channel_group"))
      .unionByName(
        after.join(changedKeys, keyCols, "left_semi").select(col("channel_group")))
      .distinct()

  /** The MIN/MAX maintenance step ([[MaintainedShape.fold]]'s
    * documented fallback): an argmax is NOT self-maintainable
    * under retraction — a revenue decrease or a deleted row can
    * dethrone a group's leader, and no ± algebra on the TOP row alone
    * can recover the runner-up. The fallback recomputes level 2 ONLY
    * for the `touched` groups, and off the MAINTAINED level-1
    * aggregate — not the store — so the recompute reads
    * |touched groups| × products-per-group AGGREGATED rows: the step
    * cost stays proportional to the change volume, never the store
    * size. Untouched groups keep their carried top row verbatim.
    */
  private[graft] def maintainTopSellers(baseTop: DataFrame,
      lvl1Maintained: DataFrame, touched: DataFrame): DataFrame =
    baseTop.join(touched, Seq("channel_group"), "left_anti")
      .unionByName(topSellers(
        lvl1Maintained.join(touched, Seq("channel_group"), "left_semi")))

  /** The maintained-top-seller handles: the drained store, the carried
    * level-1 and level-2 artifacts, and the per-step top/touched
    * frames (pinned) for the guards.
    */
  private[graft] final case class MaintainedTopStream(
      st: graft.state.StateTable, lvl1: DataFrame, top: DataFrame,
      stepTops: Seq[DataFrame], stepTouched: Seq[DataFrame])

  /** The carried two-level fold state shared by q169 (streamed drains
    * only) and q170 (drains + a mid-loop purge transition): one
    * [[step]] per store version landed — level 1 by ± delta
    * ([[categoryShape]]'s fold), level 2 by touched-group recompute
    * ([[maintainTopSellers]]). Both carried artifacts are pinned per
    * step (the q165 lineage discipline: plan depth O(1) in step
    * count). ONE fold implementation so the purge certificate can
    * never drift from the drain certificate's algebra. Not a
    * [[maintain]] walk: each step also derives the touched groups
    * from the same version pair and pins them next to the level-1
    * fold, which [[ReportState]]'s commit never sees.
    */
  private[graft] final class TopFoldState(keyCols: Seq[String]) {
    var lvl1: DataFrame = null
    var top: DataFrame = null
    private var prev: String = null
    val tops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val touchedSteps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def step(st: graft.state.StateTable): Unit = {
      val h = st.history()
      val from = if (prev == null) h.head else prev
      val to = h.last
      val before = st.readVersion(from)
      val after = st.readVersion(to)
      val changedKeys = graft.core.Checkpoints.pin(
        st.diff(from, to).select(keyCols.map(col): _*))
      val base = if (lvl1 == null) categoryShape.report(before) else lvl1
      val baseTop = if (top == null) topSellers(base) else top
      // the level-1 ± fold and the touched-group derivation read the
      // same immutable inputs (before/after versions + the pinned CDC
      // keys) and pin DISJOINT artifacts — overlap the two pin jobs
      // (guide §2.6); level 2 below needs both, so it stays after
      val (l1, touched) = graft.core.Par.both(
        graft.core.Checkpoints.pin(
          categoryShape.fold(base, Seq(before), Seq(after), changedKeys)),
        graft.core.Checkpoints.pin(
          touchedGroups(before, after, changedKeys, keyCols)))
      lvl1 = l1
      touchedSteps += touched
      top = graft.core.Checkpoints.pin(
        maintainTopSellers(baseTop, lvl1, touched))
      tops += top
      prev = to
    }
  }

  /** q169's construction: the q165 drain loop with one [[TopFoldState]]
    * step per drained micro-batch.
    */
  private[graft] def q169BuildMaintainedTop(
      s: SparkSession, dir: String): MaintainedTopStream = {
    val fold = new TopFoldState(graft.core.Schemas.ordersKey)
    val flow = buildStreamedFlowStore(s, dir, "graft_q169", "q169",
      st => fold.step(st))
    MaintainedTopStream(flow.st, fold.lvl1, fold.top,
      fold.tops.toSeq, fold.touchedSteps.toSeq)
  }

  /** q169: the maintained TOP-SELLER report (A5's argmax shape,
    * `README.md:132–148`) under streaming ingest — the capability step
    * beyond q165/q167, whose maintained reports are SUM/COUNT-shaped
    * and so self-maintainable. MIN/MAX/argmax is the documented hole
    * ([[MaintainedShape.fold]]'s limitation note): retraction can dethrone
    * a leader, and the production answer is the two-level design
    * judged here — a ±-maintained per-(group, product) revenue
    * aggregate (level 1) plus an argmax recomputed per step ONLY for
    * the touched groups, off the maintained aggregate (level 2). The
    * judged rows are the final maintained top row per channel group
    * (values meet the weighted-arms oracle replay with the argmax
    * re-derived in DuckDB), the per-group product count, the step
    * count, and BOTH equivalence certificates against the recompute
    * off the drained store (level-1 multiset and top-row multiset —
    * 0 everywhere means both maintained artifacts reproduced their
    * recomputes exactly). A delta folded twice, a touched group the
    * recompute missed, or a stale carried top row surviving a touched
    * step all break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: each
    * step touched a nonempty group set, the maintained top actually
    * MOVED between the drains (a fold that never updated the carried
    * row would replay green if the final state happened to match), and
    * — on a hand-built retraction pair, where the judged flow can't
    * reach — a deleted leader IS dethroned by the per-group fallback
    * while untouched groups' rows are carried verbatim (the
    * proper-subset pruning this corpus's 3 channel groups cannot
    * demonstrate end-to-end).
    *
    * Scale: level-1 arms are CDC-pruned semi-joins (change-volume
    * cost); level-2 recompute reads only touched groups' AGGREGATED
    * rows — at production group counts the semi-join prunes the argmax
    * to the changed slice, and the carried artifacts are pinned per
    * step so plan depth stays O(1) in drain count. The judged plan is
    * the two pinned artifact scans, the recompute certificate legs
    * (store scan → level-1 rollup → argmax), the two ±1-weighted
    * union-groupBy pairs, and the 3-row output sort.
    */
  val q169MaintainedTopSellers: QuerySpec = QuerySpec(
    (s, dir) => {
      val m = q169BuildMaintainedTop(s, dir)
      val lvl1Re = categoryShape.report(m.st.current().get)
      val lvl1Equiv = multisetEquivDiff(m.lvl1, lvl1Re, "channel_group")
        .withColumnRenamed("equiv_diff", "lvl1_equiv_diff")
      val topEquiv = multisetEquivDiff(m.top, topSellers(lvl1Re), "channel_group")
        .withColumnRenamed("equiv_diff", "top_equiv_diff")
      val nProducts = m.lvl1.groupBy(col("channel_group"))
        .agg(count(lit(1)).as("n_products"))
      m.top
        .join(nProducts, Seq("channel_group"))
        .withColumn("n_steps", lit(m.stepTops.size.toLong))
        .join(lvl1Equiv, Seq("channel_group"))
        .join(topEquiv, Seq("channel_group"))
        .orderBy(col("channel_group"))
    },
    s"""$flowStoreReplaySql,
       |-- the zero-net filter mirrors the Spark fold's n_rows > 0 shell
       |-- filter (MaintainedShape.fold): a product whose weighted rows net to
       |-- zero must not appear on either side (unreachable at this
       |-- upsert-only corpus, load-bearing under deletions — q170)
       |lvl1 AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |ranked AS (
       |  SELECT channel_group, product_id, revenue_cents,
       |    row_number() OVER (PARTITION BY channel_group
       |      ORDER BY revenue_cents DESC, product_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY channel_group) AS n_products
       |  FROM lvl1)
       |SELECT channel_group, product_id AS top_product_id,
       |  revenue_cents AS top_revenue_cents,
       |  cast(n_products AS bigint) AS n_products,
       |  cast(2 AS bigint) AS n_steps,
       |  cast(0 AS bigint) AS lvl1_equiv_diff,
       |  cast(0 AS bigint) AS top_equiv_diff
       |FROM ranked WHERE rn = 1 ORDER BY channel_group""".stripMargin)

  // ------------------------------------------------------------------
  // q170: the argmax DETHRONEMENT judged through the store — q169's
  // retraction fallback reached by a real mid-loop deletion
  // ------------------------------------------------------------------

  /** q170's handles: the drained-then-purged store, the carried
    * two-level artifacts, the per-step touched frames, and the purge
    * evidence (the pre-purge top and the victim identity) for the
    * guards.
    */
  private[graft] final case class PurgedTopStream(
      st: graft.state.StateTable, lvl1: DataFrame, top: DataFrame,
      stepTouched: Seq[DataFrame], prePurgeTop: DataFrame,
      victimGroup: String, victimProduct: String)

  /** q170's construction: the q169 streamed flow with a REAL DELETION
    * landed mid-loop and folded through the same [[TopFoldState]] —
    * after the second drain's fold, the maintained top's leader of the
    * FIRST channel group (one bounded single-row read off the pinned
    * 3-row artifact) is purged from the store (q158's deletion-slice
    * convention: `overwrite` of the filtered current version, the
    * GDPR-shaped path), and a third fold absorbs the purge transition
    * via the CDC delete arm. The victim predicate is
    * (channel_group, product_id) — whole keys by construction (a key's
    * copies are byte-identical, so every copy matches or none does),
    * and scoped to ONE group so the touched-group pruning is a proper
    * subset the guards and the judged count can SEE.
    */
  private[graft] def q170BuildPurgedTop(
      s: SparkSession, dir: String): PurgedTopStream = {
    val keyCols = graft.core.Schemas.ordersKey
    val fold = new TopFoldState(keyCols)
    var drains = 0
    var prePurgeTop: DataFrame = null
    var victimGroup: String = null
    var victimProduct: String = null
    val flow = buildStreamedFlowStore(s, dir, "graft_q170", "q170", st => {
      fold.step(st)
      drains += 1
      if (drains == 2) {
        // the purge victim: the pre-purge leader of the first channel
        // group, read off the maintained top (pinned, 3 rows — one
        // bounded single-row read, the sanctioned shape)
        val leader = fold.top.orderBy(col("channel_group")).limit(1).head()
        victimGroup = leader.getAs[String]("channel_group")
        victimProduct = leader.getAs[String]("top_product_id")
        prePurgeTop = fold.top
        // non-degeneracy: a runner-up must exist, else the purge would
        // EMPTY the group instead of dethroning its leader and the
        // judged 3-row shape would silently change
        require(fold.lvl1.filter(col("channel_group") === victimGroup)
            .limit(2).count() == 2L,
          s"q170 precondition: group $victimGroup has no runner-up — " +
            "the dethronement certificate would be vacuous")
        st.overwrite(st.read().get.filter(
          !(col("channel_group") === victimGroup &&
            col("product_id") === victimProduct)))
        fold.step(st)
      }
    }, finalVersions = 4)
    PurgedTopStream(flow.st, fold.lvl1, fold.top, fold.touchedSteps.toSeq,
      prePurgeTop, victimGroup, victimProduct)
  }

  /** q170: the maintained top-seller report under DATA DELETION — the
    * judged row for q169's retraction fallback, previously reachable
    * only in a hand-built spec pair (the r16 verdict's #1). q169
    * certifies the two-level design under an upsert-only flow, where
    * level 2's recompute never faces the one event it exists for: a
    * retraction that DETHRONES a leader (no ± algebra on the top row
    * recovers the runner-up). q170 composes machinery the repo already
    * owns — the q169 maintained top ([[TopFoldState]], the same fold)
    * over the streamed flow, plus a real deletion landed mid-loop
    * (q136/q158's purge convention): after both drains, the leader of
    * the first channel group is purged from the store and a THIRD fold
    * absorbs the transition through the CDC delete arm. The judged
    * rows are the post-purge maintained top per channel group — the
    * dethroned group MUST show the runner-up, which the oracle
    * re-derives by replaying the purge (victim = the pre-purge argmax
    * of the first group, removed from the weighted replay) — plus the
    * per-group product count (the victim's lvl1 row is GONE, a zero
    * shell would off-by-one it), the step count (3), the count of
    * groups the purge fold recomputed (1 — the touched-group pruning
    * judged visible: 1 < the 3 judged rows), and BOTH level
    * equivalence certificates against the recompute off the purged
    * store. A delete the CDC missed, a stale carried top surviving the
    * touched step, a zero shell escaping the fold's n_rows filter, or
    * a recompute that read untouched groups all break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * purged product really LED its group pre-purge (and its rows
    * really left the store), the untouched groups' top rows carried
    * VERBATIM across the purge fold (never recomputed), and the purge
    * step's touched set is exactly the victim group.
    *
    * Reference leg: A5's best-seller report (`README.md:132–148`)
    * under data deletion — the right-to-be-forgotten path a 100 TB
    * curation store cannot avoid.
    *
    * Scale: the purge is one store-version rewrite (q158's class); the
    * purge fold's arms are CDC-pruned to the deleted keys and the
    * level-2 recompute reads ONE touched group's AGGREGATED rows — the
    * change-volume-proportional property, now judged under retraction.
    * The judged plan is q169's consumer shape exactly (two pinned
    * artifact scans, the recompute certificate legs, two ±1-weighted
    * union-groupBy pairs, the 3-row sort).
    */
  val q170PurgedTopSellers: QuerySpec = QuerySpec(
    (s, dir) => {
      val m = q170BuildPurgedTop(s, dir)
      val lvl1Re = categoryShape.report(m.st.current().get)
      val lvl1Equiv = multisetEquivDiff(m.lvl1, lvl1Re, "channel_group")
        .withColumnRenamed("equiv_diff", "lvl1_equiv_diff")
      val topEquiv = multisetEquivDiff(m.top, topSellers(lvl1Re), "channel_group")
        .withColumnRenamed("equiv_diff", "top_equiv_diff")
      val nProducts = m.lvl1.groupBy(col("channel_group"))
        .agg(count(lit(1)).as("n_products"))
      m.top
        .join(nProducts, Seq("channel_group"))
        .withColumn("n_steps", lit(m.stepTouched.size.toLong))
        // the purge fold's recomputed-group count: a single-row
        // aggregate read on the pinned ≤3-row touched frame
        .withColumn("n_purge_touched", lit(m.stepTouched.last.count()))
        .join(lvl1Equiv, Seq("channel_group"))
        .join(topEquiv, Seq("channel_group"))
        .orderBy(col("channel_group"))
    },
    s"""$flowStoreReplaySql,
       |-- pre-purge level-1 off the FULL flow (both drains); the
       |-- zero-net filter mirrors the fold's n_rows > 0 shell filter
       |lvl1_pre AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |-- the purge victim: the pre-purge leader (q169's tie-break) of
       |-- the first channel group
       |victim AS (
       |  SELECT channel_group, product_id FROM lvl1_pre
       |  WHERE channel_group = (SELECT min(channel_group) FROM lvl1_pre)
       |  ORDER BY revenue_cents DESC, product_id DESC LIMIT 1),
       |fin2 AS (
       |  SELECT f.* FROM fin f
       |  WHERE NOT (f.o_orderstatus = (SELECT channel_group FROM victim)
       |    AND cast(f.o_custkey AS varchar) = (SELECT product_id FROM victim))),
       |lvl1 AS (
       |  SELECT o_orderstatus AS channel_group,
       |    cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS revenue_cents
       |  FROM fin2 GROUP BY 1, 2 HAVING cast(sum(w) AS bigint) > 0),
       |ranked AS (
       |  SELECT channel_group, product_id, revenue_cents,
       |    row_number() OVER (PARTITION BY channel_group
       |      ORDER BY revenue_cents DESC, product_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY channel_group) AS n_products
       |  FROM lvl1)
       |SELECT channel_group, product_id AS top_product_id,
       |  revenue_cents AS top_revenue_cents,
       |  cast(n_products AS bigint) AS n_products,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(1 AS bigint) AS n_purge_touched,
       |  cast(0 AS bigint) AS lvl1_equiv_diff,
       |  cast(0 AS bigint) AS top_equiv_diff
       |FROM ranked WHERE rn = 1 ORDER BY channel_group""".stripMargin)

  // ------------------------------------------------------------------
  // q171: MULTI-CONSUMER retention — the laggard holds the vacuum,
  // catching up releases exactly the absorbed history (judged)
  // ------------------------------------------------------------------

  /** q171's durable state plus the per-phase evidence: consumer A's
    * per-drain fold counts, consumer B's one catch-up count, and the
    * version names each phase's bounded vacuum reclaimed.
    */
  private[graft] final case class MultiConsumerFlow(
      ordersRoot: String, aRoot: String, bRoot: String,
      aSteps: Seq[Int], bCatchupSteps: Int, reclaimed: Seq[Seq[String]])

  /** q168's retained flow with TWO durable consumers at STAGGERED
    * paces over one orders store: consumer A (the [[productShape]]
    * report) folds after every drain; consumer B (the
    * [[categoryShape]] report — a genuinely different maintained
    * aggregate, not a copy) is a LAGGARD that does not run at all in
    * phase 1 and catches up over both pending versions in phase 2.
    * Retention runs after each phase bounded by the MINIMUM consumer
    * watermark — [[reportWatermark]]'s empty-report fallback makes the
    * un-started laggard hold the vacuum at the store's oldest version.
    */
  private[graft] def q171BuildMultiConsumerFlow(
      s: SparkSession, dir: String): MultiConsumerFlow = {
    val keyCols = graft.core.Schemas.ordersKey
    val aRoot = graft.core.Staging.invocationDir("graft_q171_rep_a", dir)
    val bRoot = graft.core.Staging.invocationDir("graft_q171_rep_b", dir)
    val aSteps = scala.collection.mutable.ArrayBuffer.empty[Int]
    var bCatchup = -1
    val reclaimed = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var drains = 0
    val flow = buildStreamedFlowStore(s, dir, "graft_q171", "q171", st => {
      drains += 1
      // fresh handles per phase (q167's restart realism)
      val orders = new graft.state.StateTable(s, st.root, keyCols)
      val repA = reportStoreHandle(s, aRoot, productShape)
      val repB = reportStoreHandle(s, bRoot, categoryShape)
      // the laggard: no phase-1 fold at all — its durable watermark
      // stays the empty-report fallback until the phase-2 catch-up;
      // the two consumers' resumes touch disjoint report roots over
      // the same read-only orders history, so the phase-2 pair
      // overlaps (guide §2.6)
      if (drains == 2) {
        val (a, b) = graft.core.Par.both(
          resumeReportMaintenance(orders, repA, keyCols, productShape),
          resumeReportMaintenance(orders, repB, keyCols, categoryShape))
        aSteps += a
        bCatchup = b
      } else
        aSteps += resumeReportMaintenance(orders, repA, keyCols, productShape)
      val oldest = orders.history().head
      // the two consumers' watermark reads are independent single-row
      // aggregates over disjoint report stores — overlap them (§2.6)
      val (wmA, wmB) = graft.core.Par.both(
        reportWatermark(repA, oldest), reportWatermark(repB, oldest))
      reclaimed += orders.vacuumBefore(Seq(wmA, wmB).min)
    },
      // phase 2's vacuum (both consumers caught up) converges the store
      // to the single current version; phase 1's reclaims nothing
      finalVersions = 1)
    MultiConsumerFlow(flow.st.root, aRoot, bRoot, aSteps.toSeq, bCatchup,
      reclaimed.toSeq)
  }

  /** q171: multi-consumer retention judged — the policy q168 certifies
    * with ONE consumer (where min(consumer watermarks) is trivial) run
    * with TWO, at staggered paces, so the min actually DECIDES (the
    * r16 verdict's #2; the strong laggard spec in IngestCertSpec
    * becomes this row's guard layer). The streamed flow drains twice;
    * consumer A (per-product report) folds after every drain, consumer
    * B (the per-(group, product) category report — a different
    * maintained shape, so the policy is judged across heterogeneous
    * consumers) skips phase 1 entirely and catches up in phase 2; each
    * phase ends with `vacuumBefore(min(watermarks))`. Judged (metric,
    * value) rows: the per-phase reclaim counts — 0 while the laggard
    * is behind (an un-started consumer's empty-report watermark holds
    * the vacuum at the oldest version), then EXACTLY the 2 absorbed
    * versions once it catches up — the retained version count (1),
    * both consumers' fold counts (A: 1 per drain; B: one 2-step
    * catch-up), both consumers' post-reclaim resumability (a fresh
    * handle applies 0 steps — run INSIDE the judged query, after the
    * reclaim), both content totals off the durable rows (row counts
    * and cent sums, replayed by the oracle from the flow arithmetic),
    * and both equiv_diff = 0 against the recomputes off the drained
    * store. A vacuum that ignored the laggard would fail its catch-up
    * resume loudly BEFORE the judged rows could even form (q167's
    * require); a laggard watermark misread as caught-up flips
    * phase1_reclaimed; a fold the laggard missed breaks b_equiv_diff.
    *
    * Reference leg: the reference's reports are INDEPENDENT consumers
    * of one ingested store (`README.md:79–148` — each psql report
    * reads the tables at its own cadence); retention that respects the
    * slowest reader is what Postgres gives them via MVCC horizon +
    * autovacuum (SURVEY §2.9), judged here over versioned parquet.
    *
    * Scale: maintenance cost per consumer tracks ITS change volume
    * (the q167 algebra); the vacuum is a driver-side directory delete;
    * adding consumers adds one watermark read each — a single-row
    * aggregate — so the policy's cost is O(consumers) driver reads per
    * cycle, zero executor work. The judged plan is two q167-shaped
    * certificate legs (one per consumer: report scan ⋈ recompute via
    * the ±1-weighted union-groupBy) collapsed to 1-row aggregates,
    * plus the metric explode union and the 14-row sort.
    */
  val q171MultiConsumerRetention: QuerySpec = QuerySpec(
    (s, dir) => {
      val keyCols = graft.core.Schemas.ordersKey
      val flow = q171BuildMultiConsumerFlow(s, dir)
      val orders = new graft.state.StateTable(s, flow.ordersRoot, keyCols)
      val repA = reportStoreHandle(s, flow.aRoot, productShape)
      val repB = reportStoreHandle(s, flow.bRoot, categoryShape)
      // post-reclaim resumability: fresh handles against the vacuumed
      // store apply ZERO steps (idempotence judged, not just spec'd);
      // disjoint report roots — overlapped (guide §2.6)
      val (aResume, bResume) = graft.core.Par.both(
        resumeReportMaintenance(orders, repA, keyCols, productShape),
        resumeReportMaintenance(orders, repB, keyCols, categoryShape))
      val current = orders.current().get
      def kv(pairs: (String, Column)*) : Column =
        explode(map(pairs.flatMap { case (k, v) =>
          Seq(lit(k), v.cast("long")) }: _*))
      val aRows = repA.current().get
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("cents"))
        .select(kv("a_n_products" -> col("n"),
          "a_amount_cents_total" -> col("cents")).as(Seq("metric", "value")))
      val bRows = repB.current().get
        .agg(count(lit(1)).as("n"), sum(col("revenue_cents")).as("cents"))
        .select(kv("b_n_rows" -> col("n"),
          "b_revenue_cents_total" -> col("cents")).as(Seq("metric", "value")))
      val aEquiv = multisetEquivDiff(repA.current().get.drop("as_of"),
          productShape.report(current), "product_id")
        .agg(sum(col("equiv_diff")).as("d"))
        .select(kv("a_equiv_diff" -> col("d")).as(Seq("metric", "value")))
      val bEquiv = multisetEquivDiff(repB.current().get.drop("as_of"),
          categoryShape.report(current), "channel_group")
        .agg(sum(col("equiv_diff")).as("d"))
        .select(kv("b_equiv_diff" -> col("d")).as(Seq("metric", "value")))
      val consts = s.range(1).select(kv(
        "phase1_reclaimed" -> lit(flow.reclaimed(0).size),
        "phase2_reclaimed" -> lit(flow.reclaimed(1).size),
        "retained_versions" -> lit(orders.history().size),
        "a_steps_drain1" -> lit(flow.aSteps(0)),
        "a_steps_drain2" -> lit(flow.aSteps(1)),
        "b_catchup_steps" -> lit(flow.bCatchupSteps),
        "a_resume_steps" -> lit(aResume),
        "b_resume_steps" -> lit(bResume)).as(Seq("metric", "value")))
      aRows.unionByName(bRows).unionByName(aEquiv).unionByName(bEquiv)
        .unionByName(consts).orderBy(col("metric"))
    },
    s"""$flowStoreReplaySql,
       |prodrep AS (
       |  SELECT cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS cents
       |  FROM fin GROUP BY 1),
       |catrep AS (
       |  SELECT o_orderstatus, cast(o_custkey AS varchar) AS product_id,
       |    cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS cents
       |  FROM fin GROUP BY 1, 2)
       |SELECT metric, value FROM (
       |  SELECT 'a_n_products' AS metric, cast(count(*) AS bigint) AS value FROM prodrep
       |  UNION ALL SELECT 'a_amount_cents_total', cast(sum(cents) AS bigint) FROM prodrep
       |  UNION ALL SELECT 'b_n_rows', cast(count(*) AS bigint) FROM catrep
       |  UNION ALL SELECT 'b_revenue_cents_total', cast(sum(cents) AS bigint) FROM catrep
       |  UNION ALL SELECT 'a_equiv_diff', cast(0 AS bigint)
       |  UNION ALL SELECT 'b_equiv_diff', cast(0 AS bigint)
       |  UNION ALL SELECT 'phase1_reclaimed', cast(0 AS bigint)
       |  UNION ALL SELECT 'phase2_reclaimed', cast(2 AS bigint)
       |  UNION ALL SELECT 'retained_versions', cast(1 AS bigint)
       |  UNION ALL SELECT 'a_steps_drain1', cast(1 AS bigint)
       |  UNION ALL SELECT 'a_steps_drain2', cast(1 AS bigint)
       |  UNION ALL SELECT 'b_catchup_steps', cast(2 AS bigint)
       |  UNION ALL SELECT 'a_resume_steps', cast(0 AS bigint)
       |  UNION ALL SELECT 'b_resume_steps', cast(0 AS bigint)
       |) ORDER BY metric""".stripMargin)

  // ------------------------------------------------------------------
  // q172: a NEW consumer joins a retention-managed store — the
  // bootstrap path judged, then both consumers fold a real purge
  // ------------------------------------------------------------------

  /** q172's durable state plus the lifecycle evidence: the newcomer's
    * bootstrap step count (0 — the base is materialized, not folded),
    * both consumers' purge-fold counts, and the final retention
    * accounting.
    */
  private[graft] final case class BootstrapFlow(
      ordersRoot: String, aRoot: String, bRoot: String,
      bootstrapSteps: Int, aPurgeSteps: Int, bPurgeSteps: Int,
      nReclaimed: Int)

  /** q172's construction: the q168 retained flow (store converged to
    * ONE non-empty version — retention already reclaimed the empty
    * CreateTable bootstrap version, the exact precondition the
    * round-17 advice hazard names), then
    *
    *  1. a NEW consumer joins: a fresh [[productShape]] report store
    *     resumes against the vacuumed single-version history —
    *     [[resumeReportMaintenance]]'s bootstrap materializes its base
    *     from the current version's CONTENTS (0 pairs to fold);
    *  2. a real purge lands: every product ≡ 0 (mod 17) is forgotten
    *     (q136/q158's right-to-be-forgotten convention; whole keys by
    *     construction — product_id is part of the composite key);
    *  3. BOTH consumers resume one purge fold each — the veteran off
    *     its drain watermark, the newcomer off its bootstrap stamp —
    *     driving the fold's delete arm (retraction +
    *     whole-group zero-shell filtering) through a REAL store
    *     transition;
    *  4. retention reclaims exactly the absorbed pre-purge version.
    */
  private[graft] def q172BuildBootstrapFlow(
      s: SparkSession, dir: String): BootstrapFlow = {
    val keyCols = graft.core.Schemas.ordersKey
    val base = q168BuildRetainedFlow(s, dir)
    val orders = new graft.state.StateTable(s, base.ordersRoot, keyCols)
    val bRoot = graft.core.Staging.invocationDir("graft_q172_rep_b", dir)
    val repB = reportStoreHandle(s, bRoot, productShape)
    val bootstrapSteps = resumeReportMaintenance(orders, repB, keyCols)
    orders.overwrite(orders.read().get
      .filter(col("product_id").cast("long") % 17 =!= 0))
    val repA = reportStoreHandle(s, base.reportRoot, productShape)
    // both consumers fold the same purge transition into disjoint
    // report roots over the read-only orders history — overlapped
    // (guide §2.6)
    val (aPurgeSteps, bPurgeSteps) = graft.core.Par.both(
      resumeReportMaintenance(orders, repA, keyCols),
      resumeReportMaintenance(orders, repB, keyCols))
    val oldest = orders.history().head
    // two independent single-row watermark reads — overlapped (§2.6)
    val (wmA, wmB) = graft.core.Par.both(
      reportWatermark(repA, oldest), reportWatermark(repB, oldest))
    val nReclaimed = orders.vacuumBefore(Seq(wmA, wmB).min).size
    BootstrapFlow(base.ordersRoot, base.reportRoot, bRoot,
      bootstrapSteps, aPurgeSteps, bPurgeSteps, nReclaimed)
  }

  /** q172: consumer ONBOARDING on a retention-managed store, judged —
    * the round-17 advice hazard promoted from spec to CORRECTNESS row,
    * composed with the one maintained-product-report branch no judged
    * flow had driven: the delete arm. q168 proves retention next to
    * maintenance; its converged store has ALREADY reclaimed the empty
    * CreateTable version — so a new consumer joining later (teams add
    * report consumers to a years-old 100 TB store all the time) cannot
    * fold from the beginning of history: it must materialize its base
    * from the oldest RETAINED version's contents, or silently maintain
    * an empty report that reads as caught up (the pre-fix behavior).
    * q172 judges that bootstrap end to end, then lands a real
    * forget-these-products purge and has BOTH consumers — the veteran
    * and the newcomer — fold it incrementally: the CDC delete arm
    * retracts the purged products' contributions and their
    * fully-retracted groups vanish through the zero-shell filter
    * (q164's spec-only delete claim, now judged through a real store
    * transition). The judged rows are the veteran's post-purge report
    * (values meet the weighted-arms replay restricted to surviving
    * products — a purged group leaving a zero shell, a retraction
    * applied to the wrong group, or a bootstrap that missed base
    * contents all break it), the newcomer's per-product equiv_diff
    * against it (0 — two consumers at different join times converge on
    * identical durable rows), the recompute equiv_diff (0), the
    * bootstrap step count (0 — materialized, not folded), both purge
    * fold counts (1 each), and the retention accounting (1 reclaimed,
    * 1 retained).
    *
    * What the replay cannot see, IngestCertSpec pins: the newcomer's
    * pre-purge base really carried the FULL report (bootstrap
    * non-degenerate), the purge transition's CDC is pure deletes, and
    * report groups really VANISHED across the purge fold.
    *
    * Scale: the bootstrap is one aggregation over the store's current
    * version — the unavoidable one-time cost of joining late, after
    * which the newcomer pays change-volume prices like everyone else;
    * the purge folds are CDC-pruned to the deleted keys; retention
    * stays a driver-side directory delete. The judged plan is the
    * veteran's report scan joined to the newcomer-equiv and
    * recompute-equiv certificate legs (±1-weighted union-groupBy
    * pairs) plus the output sort.
    */
  val q172ConsumerBootstrap: QuerySpec = QuerySpec(
    (s, dir) => {
      val flow = q172BuildBootstrapFlow(s, dir)
      val keyCols = graft.core.Schemas.ordersKey
      val orders = new graft.state.StateTable(s, flow.ordersRoot, keyCols)
      val repA = reportStoreHandle(s, flow.aRoot, productShape)
      val repB = reportStoreHandle(s, flow.bRoot, productShape)
      val a = repA.current().get.drop("as_of")
      val b = repB.current().get.drop("as_of")
      val bEquiv = multisetEquivDiff(a, b, "product_id")
        .withColumnRenamed("equiv_diff", "b_equiv_diff")
      val reEquiv = multisetEquivDiff(a, productShape.report(orders.current().get),
          "product_id")
        .withColumnRenamed("equiv_diff", "recompute_equiv_diff")
      a.withColumn("bootstrap_steps", lit(flow.bootstrapSteps.toLong))
        .withColumn("a_purge_steps", lit(flow.aPurgeSteps.toLong))
        .withColumn("b_purge_steps", lit(flow.bPurgeSteps.toLong))
        .withColumn("n_reclaimed", lit(flow.nReclaimed.toLong))
        .withColumn("n_retained", lit(orders.history().size.toLong))
        .join(bEquiv, Seq("product_id"))
        .join(reEquiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(0 AS bigint) AS bootstrap_steps,
       |  cast(1 AS bigint) AS a_purge_steps,
       |  cast(1 AS bigint) AS b_purge_steps,
       |  cast(1 AS bigint) AS n_reclaimed,
       |  cast(1 AS bigint) AS n_retained,
       |  cast(0 AS bigint) AS b_equiv_diff,
       |  cast(0 AS bigint) AS recompute_equiv_diff
       |-- the purge: every product ≡ 0 (mod 17) forgotten — surviving
       |-- rows only (whole keys; product_id is part of the upsert key)
       |FROM fin WHERE o_custkey % 17 <> 0
       |GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q173: COMPACTION under a live maintained consumer — the layout
  // rewrite is CDC-invisible, the consumer absorbs it, retention
  // reclaims the pre-compact history
  // ------------------------------------------------------------------

  /** q173's durable state plus the lifecycle evidence: the flow-fold
    * and compaction-fold step counts, the MEASURED row count of the
    * compaction transition's CDC (pinned before retention reclaims the
    * pre-compact version — the q158 ordering), the pre-compact file
    * count (the fragmentation precondition), and the reclaim count.
    */
  private[graft] final case class CompactionFlow(
      ordersRoot: String, reportRoot: String,
      flowSteps: Int, compactSteps: Int, compactCdcRows: Long,
      nReclaimed: Int)

  private[graft] def q173BuildCompactionFlow(
      s: SparkSession, dir: String): CompactionFlow = {
    val keyCols = graft.core.Schemas.ordersKey
    val orders = q161BuildStore(s, dir)
    val reportRoot = graft.core.Staging.invocationDir("graft_q173_report", dir)
    val report = reportStoreHandle(s, reportRoot, productShape)
    val flowSteps = resumeReportMaintenance(orders, report, keyCols)
    // fragmentation precondition (q156's convention): the compaction
    // must have real work, or the transparency certificate is vacuous
    val preFiles = orders.read().get
      .select(countDistinct(col("_metadata.file_path"))).head().getLong(0)
    require(preFiles >= 2,
      s"q173 precondition: pre-compact version has $preFiles file(s); " +
        "the upsert writer no longer fragments and the compaction " +
        "certificate would be vacuous")
    val preCompact = orders.currentVersion.get
    orders.compact(targetFiles = 1)
    val postCompact = orders.currentVersion.get
    // the transition's CDC row count — a single-row aggregate read,
    // taken BEFORE the vacuum below deletes the pre-compact dir the
    // lazy diff plan reads (the q158 drain-before-retention contract).
    // The count and the consumer's compaction fold both read only the
    // (immutable, still-retained) version pair; the fold writes only
    // the report store — disjoint effects, overlapped (§2.6), and the
    // vacuum waits for both
    val (compactCdcRows, compactSteps) = graft.core.Par.both(
      orders.diff(preCompact, postCompact).count(),
      resumeReportMaintenance(orders, report, keyCols))
    val nReclaimed = orders.vacuumBefore(
      reportWatermark(report, orders.history().head)).size
    CompactionFlow(orders.root, reportRoot, flowSteps, compactSteps,
      compactCdcRows, nReclaimed)
  }

  /** q173: small-files COMPACTION under a live maintained consumer —
    * the one store-lifecycle op (q156) that had never met the
    * maintenance loop (q167) in a judged row, though at 100 TB the two
    * run concurrently by construction: every upsert writes a full new
    * version whose union plan fragments the layout, so compaction runs
    * CONTINUOUSLY next to maintenance, and it must be invisible to CDC
    * consumers — a pure layout rewrite, never a data change. q173
    * certifies the composition end to end: the q161 flow store with a
    * caught-up durable report (2 folds), then `compact(targetFiles=1)`
    * lands a new version, the consumer resumes ONE more fold over the
    * compaction transition whose CDC is EMPTY (the judged
    * `compact_cdc_rows = 0` — a compaction that perturbed any latest
    * row, e.g. by breaking `_seq` preservation, would surface here and
    * in the report values), the fold is a value no-op that still
    * ADVANCES the consumer watermark, and retention bounded by that
    * watermark reclaims ALL pre-compact history (3 versions) — the
    * full point of absorbing the compaction: without the fold, the
    * min-watermark vacuum could never reclaim the fragmented versions
    * behind a live consumer. Judged rows: the maintained report
    * (values meet the weighted-arms replay — unchanged across the
    * compaction fold), the fold counts (2 flow + 1 compaction), the
    * measured compaction-CDC row count (0), the retention accounting
    * (3 reclaimed / 1 retained), the post-compact file count (1 — the
    * layout really changed, so the no-op claim is non-vacuous), and
    * `equiv_diff = 0` against the recompute off the compacted store.
    *
    * What the replay cannot see, IngestCertSpec pins: the report
    * VERSION the compaction fold wrote is value-identical to its
    * predecessor (modulo `as_of`), a further restart applies zero
    * steps, and the report lifecycle is CreateTable + exactly 3 folds.
    *
    * Reference leg: the reference delegates layout maintenance to
    * Postgres (autovacuum/CLUSTER, SURVEY §2.9) while its reports keep
    * reading — the same transparency contract over versioned parquet.
    *
    * Scale: compaction cost is the one-version rewrite (q156's class,
    * `targetFiles` sized to the table); the consumer's extra fold
    * costs one EMPTY-delta pass (semi-joins against an empty key
    * frame); retention stays a driver-side delete. The judged plan is
    * q167's consumer shape: the report scan joined to the recompute
    * certificate leg via the ±1-weighted union-groupBy, plus the
    * output sort.
    */
  val q173CompactionMaintenance: QuerySpec = QuerySpec(
    (s, dir) => {
      val keyCols = graft.core.Schemas.ordersKey
      val flow = q173BuildCompactionFlow(s, dir)
      val orders = new graft.state.StateTable(s, flow.ordersRoot, keyCols)
      val report = reportStoreHandle(s, flow.reportRoot, productShape)
      val maintained = report.current().get.drop("as_of")
      val equiv = multisetEquivDiff(maintained,
        productShape.report(orders.current().get), "product_id")
      // post-compact layout: a single-row aggregate read off the
      // writer's actual file metadata (q156's accounting convention)
      val nFiles = orders.read().get
        .select(countDistinct(col("_metadata.file_path"))).head().getLong(0)
      maintained
        .withColumn("n_steps_flow", lit(flow.flowSteps.toLong))
        .withColumn("n_steps_compact", lit(flow.compactSteps.toLong))
        .withColumn("compact_cdc_rows", lit(flow.compactCdcRows))
        .withColumn("n_reclaimed", lit(flow.nReclaimed.toLong))
        .withColumn("n_retained", lit(orders.history().size.toLong))
        .withColumn("n_files", lit(nFiles))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(2 AS bigint) AS n_steps_flow,
       |  cast(1 AS bigint) AS n_steps_compact,
       |  cast(0 AS bigint) AS compact_cdc_rows,
       |  cast(3 AS bigint) AS n_reclaimed,
       |  cast(1 AS bigint) AS n_retained,
       |  cast(1 AS bigint) AS n_files,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q174: SCHEMA EVOLUTION under a live maintained consumer — the
  // evolution rewrite is CDC-invisible, later folds cross the
  // schema boundary correctly
  // ------------------------------------------------------------------

  /** q174's durable state plus the lifecycle evidence: per-phase fold
    * counts (first load / evolution / evolved re-run), the MEASURED
    * CDC row count of the evolution transition (pinned before
    * retention reclaims the pre-evolution version), and the retention
    * accounting.
    */
  private[graft] final case class EvolutionFlow(
      ordersRoot: String, reportRoot: String,
      loadSteps: Int, evoSteps: Int, rerunSteps: Int,
      evoCdcRows: Long, nReclaimed: Int)

  /** The evolved orders schema: the declared base plus a `discount`
    * column the CSV sources don't carry yet — the reference's
    * declare-first, ingest-later evolution order (`main.py:20–24`
    * syncs before every ingest run).
    */
  private[graft] val evolvedOrdersSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      graft.core.Schemas.orders.fields :+
        org.apache.spark.sql.types.StructField("discount",
          org.apache.spark.sql.types.DoubleType))

  private[graft] def q174BuildEvolutionFlow(
      s: SparkSession, dir: String): EvolutionFlow = {
    val keyCols = graft.core.Schemas.ordersKey
    val (dirA, dirB) = stageFlowBatches(s, dir, "graft_q174")
    val orders = freshSyncedStore(s, dir, "graft_q174_state", "q174")
    val reportRoot = graft.core.Staging.invocationDir("graft_q174_report", dir)
    val report = reportStoreHandle(s, reportRoot, productShape)
    // phase 1: first load, consumer catches up (CreateTable + load)
    orders.upsert(Ingest.readOrdersCsv(s, dirA))
    val loadSteps = resumeReportMaintenance(orders, report, keyCols)
    // phase 2: the declared schema evolves — sync rewrites the store
    // with the new column as typed nulls (q160's AddColumn branch),
    // landing a version the consumer must fold OVER
    val preEvo = orders.currentVersion.get
    val changes = graft.schemasync.SchemaSync.sync(s, orders, evolvedOrdersSchema)
    require(changes == Seq(graft.schemasync.SchemaSync.AddColumn(
        evolvedOrdersSchema("discount"))),
      s"q174 precondition: evolution sync applied $changes")
    val postEvo = orders.currentVersion.get
    // the transition's CDC row count — a single-row aggregate read,
    // taken BEFORE retention reclaims the pre-evolution dir the lazy
    // diff plan reads (the q158 ordering). diff aligns the schemas
    // (typed nulls on the missing side), so an all-null added column
    // must produce ZERO change rows — a naive differ would mark EVERY
    // key updated here and the "incremental" fold would recompute the
    // world on each evolution. The count and the consumer's evolution
    // fold read the same immutable version pair; the fold writes only
    // the report store — disjoint effects, overlapped (§2.6), and the
    // vacuum below waits for both (q173's convention)
    val (evoCdcRows, evoSteps) = graft.core.Par.both(
      orders.diff(preEvo, postEvo).count(),
      resumeReportMaintenance(orders, report, keyCols))
    // phase 3: the re-run batch lands through the UNCHANGED reader —
    // the source doesn't carry `discount` yet; upsert aligns it as
    // typed nulls (the evolve-then-ingest path) — and the fold crosses
    // the schema boundary (before arm reads the evolved version, the
    // walk's earlier pairs read pre-evolution versions)
    orders.upsert(Ingest.readOrdersCsv(s, dirB))
    val rerunSteps = resumeReportMaintenance(orders, report, keyCols)
    val nReclaimed = orders.vacuumBefore(
      reportWatermark(report, orders.history().head)).size
    EvolutionFlow(orders.root, reportRoot, loadSteps, evoSteps, rerunSteps,
      evoCdcRows, nReclaimed)
  }

  /** q174: schema EVOLUTION under a live maintained consumer — the
    * last store-lifecycle transition (q160) that had never met the
    * maintenance loop (q167) in a judged row. Long-lived stores evolve
    * while their report consumers keep folding; the production
    * contract has three parts, all judged here on the reference flow
    * with the evolution landed BETWEEN the two loads:
    *
    *  1. the evolution rewrite is CDC-INVISIBLE (`evo_cdc_rows = 0`):
    *     [[graft.state.StateTable.diff]] aligns schemas with typed
    *     nulls, so adding an all-null column changes no key — a naive
    *     differ would mark EVERY key updated and turn each evolution
    *     into a full-store maintenance step;
    *  2. the consumer's fold over the evolution version is a value
    *     no-op that still ADVANCES the watermark, so retention can
    *     reclaim pre-evolution history behind the live consumer;
    *  3. later folds CROSS the schema boundary correctly: the re-run
    *     batch arrives through the unchanged reader (no `discount`
    *     yet — upsert lands it as typed nulls, the evolve-then-ingest
    *     path), and its fold's delta arms read versions of DIFFERENT
    *     schemas (before = evolved, walk start = pre-evolution).
    *
    * The judged rows are the maintained report (values meet the SAME
    * weighted-arms replay as the un-evolved flow — the evolution must
    * not move a single cent), the per-phase fold counts (1/1/1), the
    * measured evolution-CDC row count (0), the retention accounting
    * (3 reclaimed / 1 retained), and `equiv_diff = 0` against the
    * recompute off the evolved store. IngestCertSpec pins what the
    * replay can't see: the evolved column physically exists (all-null)
    * in the final store, the evolution-fold report version is
    * value-identical to its predecessor modulo `as_of`, and a restart
    * applies zero steps.
    *
    * Reference leg: `main.py:20–24` — schema sync runs BEFORE every
    * ingest, so evolution-between-runs is the reference's normal
    * cadence, not an edge case; its reports (psql views) keep reading
    * across it via Postgres's relaxed-nullability ALTER. Same contract
    * over versioned parquet.
    *
    * Scale: the evolution rewrite is one column-pruned scan→write pass
    * (no shuffle, SchemaSync's doc); the consumer's extra fold costs
    * one empty-delta pass; everything else is the standard
    * change-volume maintenance algebra. The judged plan is q167's
    * consumer shape (report scan ⋈ recompute certificate leg via the
    * ±1-weighted union-groupBy, plus the output sort).
    */
  val q174EvolutionMaintenance: QuerySpec = QuerySpec(
    (s, dir) => {
      val keyCols = graft.core.Schemas.ordersKey
      val flow = q174BuildEvolutionFlow(s, dir)
      val orders = new graft.state.StateTable(s, flow.ordersRoot, keyCols)
      val report = reportStoreHandle(s, flow.reportRoot, productShape)
      val maintained = report.current().get.drop("as_of")
      val equiv = multisetEquivDiff(maintained,
        productShape.report(orders.current().get), "product_id")
      maintained
        .withColumn("n_steps_load", lit(flow.loadSteps.toLong))
        .withColumn("n_steps_evo", lit(flow.evoSteps.toLong))
        .withColumn("n_steps_rerun", lit(flow.rerunSteps.toLong))
        .withColumn("evo_cdc_rows", lit(flow.evoCdcRows))
        .withColumn("n_reclaimed", lit(flow.nReclaimed.toLong))
        .withColumn("n_retained", lit(orders.history().size.toLong))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"))
    },
    s"""$flowStoreReplaySql
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cast(floor(amount * 100) AS bigint)) AS bigint) AS amount_cents,
       |  cast(1 AS bigint) AS n_steps_load,
       |  cast(1 AS bigint) AS n_steps_evo,
       |  cast(1 AS bigint) AS n_steps_rerun,
       |  cast(0 AS bigint) AS evo_cdc_rows,
       |  cast(3 AS bigint) AS n_reclaimed,
       |  cast(1 AS bigint) AS n_retained,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM fin GROUP BY product_id ORDER BY product_id""".stripMargin)

  // ------------------------------------------------------------------
  // q175: maintained JOIN report — incremental view maintenance of a
  // TWO-table joined report (orders ⋈ inventories) under changes to
  // BOTH stores, including a mid-loop dimension move
  // ------------------------------------------------------------------

  /** The joined fact⋈dimension view behind A3's revenue-per-category
    * report (`README.md:103–106`) read off the TWO flow-built stores:
    * orders rows inner-joined to their catalog row's category. The
    * dimension side is projected to (product_id, category) before the
    * join — at 100 TB the catalog's payload columns must never ride
    * the fact shuffle.
    */
  private[graft] def joinedView(orders: DataFrame, inv: DataFrame): DataFrame =
    orders.join(inv.select(col("product_id"), col("category")),
      Seq("product_id"))

  /** Revenue per category off the joined view of (orders, inventories)
    * slices — SUM-shaped, so the ± delta algebra maintains it
    * ([[MaintainedShape.fold]]); one definition for the base snapshot,
    * both delta arms, and the recompute certificate leg.
    */
  private def joinedContrib(slices: Seq[DataFrame]): DataFrame =
    joinedView(slices(0), slices(1)).select(col("category"),
      lit(1L).as("n_rows"),
      floor(col("amount") * 100).cast("long").as("revenue_cents"))

  /** The two-source shape: orders stamped `as_of`, inventories
    * `as_of_dim` — a maintained view of N sources needs N watermarks,
    * one per change feed. Both feeds prune on `product_id`, the
    * combined-arm form of the textbook two-table IVM expansion
    * `Δ(O⋈I) = ΔO⋈I ∪ O⋈ΔI ∪ ΔO⋈ΔI`: with P the products a step
    * changed, the fold applies `report(σ_P O_after ⋈ σ_P I_after) ⊖
    * report(σ_P O_before ⋈ σ_P I_before)` — products outside P
    * contribute identically to both arms and cancel, so restricting to
    * P loses nothing, and each arm reads only the changed products'
    * order slices plus their single catalog rows. An order-side change
    * prices at its changed keys; a dimension move prices at the moved
    * products' fact slices — never the store size, never a full
    * joined-report recompute.
    */
  private[graft] val joinedShape: MaintainedShape =
    MaintainedShape(joinedContrib, Seq("category"),
      Seq("n_rows", "revenue_cents"),
      sources = Seq(Source("as_of", Seq("product_id")),
        Source("as_of_dim", Seq("product_id"))))

  /** q175's dimension-move batch: every real catalog product with
    * k ≡ 0 (mod 3) is re-listed under a brand-new category with name/
    * stock/sub-category unchanged — a PURE dimension move (the LWW
    * rewrite changes only the grouping attribute). Ghost ids
    * (k ≡ 0 mod 10) and the never-listed k ≡ 0 (mod 7) block are
    * excluded, so the moved set is exactly the products that can
    * influence the joined report, and the judged affected-count
    * replays from the generator.
    */
  private[graft] val q175MoveBatch: DataFrame => DataFrame =
    df => df.filter(col("k") % 3 === 0 && col("k") % 7 =!= 0 &&
        col("k") % 10 =!= 0)
      .withColumn("c_mktsegment", lit("RELOCATED"))

  /** q175's handles: both stores, the carried joined report, the
    * per-step affected-product frames (pinned), the per-resume fold
    * counts per source (orders, inventories), and the pre-move report
    * for the guards.
    */
  private[graft] final case class MaintainedJoinFlow(
      ordersSt: graft.state.StateTable, invSt: graft.state.StateTable,
      report: DataFrame, affectedSteps: Seq[DataFrame],
      steps: Seq[Seq[Int]], preMoveReport: DataFrame)

  /** q175's construction: the inventories store loads its catalog
    * (q163's batch-1 leg), then the q169-convention streamed orders
    * flow runs with one [[maintain]] walk of a [[CarriedReport]] per
    * drained micro-batch — and MID-LOOP, after the second drain's
    * fold, the dimension update lands: [[q175MoveBatch]] re-lists every
    * k ≡ 0 (mod 3) real product under a new category through the same
    * CSV→LWW-upsert leg, and a third walk absorbs the move with the
    * ORDERS side unchanged (the pure-dimension-change path). The walk
    * starts at the orders store's oldest version and the inventories
    * store's CURRENT one: earlier dimension history belongs to the
    * base report, not to any change step.
    */
  private[graft] def q175BuildJoinedFlow(
      s: SparkSession, dir: String): MaintainedJoinFlow = {
    val invB1 = graft.core.Staging.invocationDir("graft_q175_inv_b1", dir)
    val invMove = graft.core.Staging.invocationDir("graft_q175_inv_move", dir)
    // disjoint staging dirs + a disjoint store root: overlap the two
    // inventory stagings AND the sync (guide §2.6); the first upsert
    // needs invB1 staged and the store synced, so it joins them
    val (_, invSt) = graft.core.Par.both(
      graft.core.Par.both(
        stageInventoriesCsv(s, dir, invB1, q163InvBatch1),
        stageInventoriesCsv(s, dir, invMove, q175MoveBatch)),
      freshSyncedStore(s, dir, "graft_q175_inv_state", "q175",
        graft.core.Schemas.inventories, graft.core.Schemas.inventoriesKey))
    invSt.upsert(Ingest.readInventoriesCsv(s, invB1))
    val state = new CarriedReport(joinedShape, hs => Seq(hs(0).head, hs(1).last))
    val steps = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var preMove: DataFrame = null
    val flow = buildStreamedFlowStore(s, dir, "graft_q175", "q175", st => {
      steps += maintain(Seq(st, invSt), state)
      if (steps.size == 2) {
        preMove = state.report()
        invSt.upsert(Ingest.readInventoriesCsv(s, invMove))
        steps += maintain(Seq(st, invSt), state)
      }
    })
    MaintainedJoinFlow(flow.st, invSt, state.report(), state.stepKeys.toSeq,
      steps.toSeq, preMove)
  }

  /** q175: the maintained JOIN report — incremental view maintenance
    * of a TWO-table joined report, the one IVM step no judged row had
    * taken (every maintained report q164–q174 folds changes of the
    * orders store alone, while the reference's reports 1, 3, 4, 5 all
    * JOIN orders ⋈ inventories — `README.md:47–50, 103–106, 122–125,
    * 141–148`). At 100 TB the gap bites from the dimension side: an
    * inventory recategorization is a tiny update to a small table, but
    * without join maintenance it forces a full joined-report recompute
    * over the fact store. q175 certifies the production answer: A3's
    * revenue-per-category (category sourced from the inventories
    * STORE, not the fact rows) maintained under changes to BOTH stores
    * via [[joinedShape]]'s combined-arm delta — two order-side folds
    * (the streamed drains) and one dimension-side fold (a real
    * mid-loop category move through the CSV→LWW leg). The judged rows
    * are the final maintained report per category — the moved
    * products' revenue must sit under the NEW category, which the
    * oracle re-derives by replaying the move against the weighted-arms
    * flow replay — plus the step counts per side (2 order + 1 dim),
    * the dimension fold's affected-product count (mod-3 of the real
    * catalog — judged PROPER subset: n_dim_affected < n_catalog, the
    * change-volume pruning made visible, q170's convention), the
    * catalog size, and `equiv_diff = 0` against the full joined
    * recompute off both stores' current versions. A dimension change
    * the fold missed, a retraction left under the old category, a
    * double-counted ΔO⋈ΔI overlap, or an affected set that silently
    * widened to the whole catalog all break it.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * moved products' category really CHANGED between the inventory
    * versions (the move is physically in the store), the dim step's
    * affected set is EXACTLY the moved products, the order-side steps
    * each touched a nonempty product set, and the report really MOVED
    * across the dimension fold (retraction + addition, not a no-op).
    *
    * Reference leg: `flows/data_ingestion.py:250–272` ingests both
    * datasets; reports 1/3/4/5 join them (`README.md:47–148`). The
    * reference recomputes each report per run — the maintained form is
    * the 100 TB answer to the same surface.
    *
    * Scale: each fold arm reads |P| products' fact slices (semi-join-
    * pruned on the key the store partitions by) joined to |P| catalog
    * rows — change-volume cost on either side's update; the carried
    * report is pinned per step (O(1) plan depth in step count). The
    * judged plan is the pinned report scan, the recompute certificate
    * leg (both store scans → projected join → category rollup — the
    * honest price, q141/q162 convention), the ±1-weighted
    * union-groupBy pair, and the ≤6-row output sort.
    */
  val q175MaintainedJoinReport: QuerySpec = QuerySpec(
    (s, dir) => {
      val m = q175BuildJoinedFlow(s, dir)
      val recompute = joinedShape.report(
        m.ordersSt.current().get, m.invSt.current().get)
      val equiv = multisetEquivDiff(m.report, recompute, "category")
      // the dimension fold's affected-product count (a single-row
      // aggregate read on the pinned affected frame) and the catalog
      // row count it must stay a proper subset of: two independent
      // read-only driver actions — overlapped (guide §2.6)
      val (nDimAffected, nCatalog) = graft.core.Par.both(
        m.affectedSteps.last.count(), m.invSt.current().get.count())
      m.report
        .withColumn("n_steps", lit(m.affectedSteps.size.toLong))
        .withColumn("n_order_steps", lit(m.steps.map(_(0)).sum.toLong))
        .withColumn("n_dim_steps", lit(m.steps.map(_(1)).sum.toLong))
        .withColumn("n_dim_affected", lit(nDimAffected))
        .withColumn("n_catalog", lit(nCatalog))
        .join(equiv, Seq("category"))
        .orderBy(col("category"))
    },
    s"""$flowStoreReplaySql,
       |-- the final catalog replay: batch-1 rows (k % 7 <> 0) with the
       |-- move batch's LWW category rewrite on k % 3 = 0 real keys;
       |-- ghost rows (k % 10 = 0 carry disjoint 'new_' ids) never match
       |-- a numeric o_custkey, so they are omitted from the join replay
       |inv AS (
       |  SELECT cast(c_custkey AS varchar) AS product_id,
       |         CASE WHEN c_custkey % 3 = 0 THEN 'RELOCATED'
       |              ELSE c_mktsegment END AS category
       |  FROM customer
       |  WHERE c_custkey % 7 <> 0 AND c_custkey % 10 <> 0),
       |joined AS (
       |  SELECT i.category, f.w,
       |         cast(floor(f.amount * 100) AS bigint) AS cents
       |  FROM fin f JOIN inv i ON cast(f.o_custkey AS varchar) = i.product_id)
       |SELECT category,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cents) AS bigint) AS revenue_cents,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(2 AS bigint) AS n_order_steps,
       |  cast(1 AS bigint) AS n_dim_steps,
       |  (SELECT cast(count(*) AS bigint) FROM customer
       |   WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
       |     AND c_custkey % 10 <> 0) AS n_dim_affected,
       |  (SELECT cast(count(*) AS bigint) FROM customer
       |   WHERE c_custkey % 7 <> 0) AS n_catalog,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM joined GROUP BY category ORDER BY category""".stripMargin)

  // ------------------------------------------------------------------
  // q177: DURABLE two-store join maintenance — the q167/q168/q172
  // lifecycle story (watermark resume, bounded retention, consumer
  // onboarding) for the JOINED report family
  // ------------------------------------------------------------------

  /** q177's durable state plus the lifecycle evidence: per-cycle
    * (orders, dim) fold counts and the per-store retention accounting.
    */
  private[graft] final case class DurableJoinFlow(
      ordersRoot: String, invRoot: String, reportRoot: String,
      steps1: Seq[Int], steps2: Seq[Int],
      oReclaimed: Int, iReclaimed: Int)

  /** q177's construction: the reference flow on BOTH stores (orders
    * q161 batches; inventories catalog + [[q175MoveBatch]] category
    * move) with a durable joined-report consumer resuming from disk
    * after each load cycle (fresh handles — q167's restart realism),
    * then retention bounded PER STORE by its component of the durable
    * watermark pair.
    */
  private[graft] def q177BuildDurableJoinFlow(
      s: SparkSession, dir: String): DurableJoinFlow = {
    val iB1 = graft.core.Staging.invocationDir("graft_q177_inv_b1", dir)
    val iMv = graft.core.Staging.invocationDir("graft_q177_inv_move", dir)
    // all four staging dirs are disjoint over immutable sources, and
    // the two store syncs touch disjoint roots — overlap each
    // orders/inventories pair (guide §2.6)
    val ((oA, oB), _) = graft.core.Par.both(
      stageFlowBatches(s, dir, "graft_q177_o"),
      graft.core.Par.both(
        stageInventoriesCsv(s, dir, iB1, q163InvBatch1),
        stageInventoriesCsv(s, dir, iMv, q175MoveBatch)))
    val (ordersSt, invSt) = graft.core.Par.both(
      freshSyncedStore(s, dir, "graft_q177_o_state", "q177"),
      freshSyncedStore(s, dir, "graft_q177_i_state", "q177",
        graft.core.Schemas.inventories, graft.core.Schemas.inventoriesKey))
    val reportRoot = graft.core.Staging.invocationDir("graft_q177_report", dir)
    def report() =
      new DurableReport(reportStoreHandle(s, reportRoot, joinedShape), joinedShape)
    def resume(): Seq[Int] = {
      val o = new graft.state.StateTable(s, ordersSt.root,
        graft.core.Schemas.ordersKey)
      val i = new graft.state.StateTable(s, invSt.root,
        graft.core.Schemas.inventoriesKey)
      maintain(Seq(o, i), report())
    }
    // cycle 1: first loads on both stores (disjoint roots — the
    // single-writer-per-store guarantee holds; overlapped per §2.6),
    // one resume
    graft.core.Par.both(
      ordersSt.upsert(Ingest.readOrdersCsv(s, oA)),
      invSt.upsert(Ingest.readInventoriesCsv(s, iB1))): Unit
    val steps1 = resume()
    // cycle 2: the orders re-run AND the dimension category move land,
    // one resume absorbs both feeds
    graft.core.Par.both(
      ordersSt.upsert(Ingest.readOrdersCsv(s, oB)),
      invSt.upsert(Ingest.readInventoriesCsv(s, iMv))): Unit
    val steps2 = resume()
    // retention: each store vacuums bounded by ITS durable watermark
    val Seq(wmO, wmI) = report().watermarks().get
    val oReclaimed = ordersSt.vacuumBefore(wmO).size
    val iReclaimed = invSt.vacuumBefore(wmI).size
    DurableJoinFlow(ordersSt.root, invSt.root, reportRoot,
      steps1, steps2, oReclaimed, iReclaimed)
  }

  /** q177: the DURABLE two-store joined-report consumer — q175 proves
    * the join-maintenance algebra as a carried in-memory fold; the
    * production consumer of a years-long 100 TB store pair is durable,
    * resumable, retention-compatible, and joinable late, and every one
    * of those properties needs the TWO-watermark generalization judged
    * here: the report table stamps (`as_of`, `as_of_dim`), a restarted
    * process recovers the pair off the durable rows and absorbs each
    * feed's pending versions in telescoping phases
    * ([[maintain]] — no cross-store version ordering
    * assumed, because none exists), retention runs PER STORE bounded
    * by that store's watermark component, and a NEW consumer joining
    * the already-vacuumed stores bootstraps its base from both current
    * versions (q172's onboarding certificate, two-store form). The
    * judged flow is the reference cadence on both datasets
    * (`flows/data_ingestion.py:250–272`): first loads + resume, then
    * the orders LWW re-run AND the category move land together +
    * resume, then per-store vacuums; the judged query itself runs the
    * post-reclaim restart (0, 0 steps) and the newcomer onboarding.
    * Judged rows: the veteran's per-category report (values meet
    * q175's joined replay — the dimension move folded durably), fold
    * counts per side per cycle (2 orders + 2 dim), per-store retention
    * accounting (2 reclaimed / 1 retained each), the restart and
    * bootstrap step counts (0), the newcomer equivalence
    * (`b_equiv_diff = 0` — two consumers at different join times
    * converge on identical durable rows), and `equiv_diff = 0` against
    * the recompute off both current versions. A watermark component
    * misread, a phase folded against the wrong pinned version, a
    * vacuum that outran its store's consumer, or a bootstrap that
    * missed either side's contents all break it.
    *
    * What the replay cannot see, IngestCertSpec pins: the durable
    * stamps equal the stores' current versions, the report lifecycle
    * is CreateTable + exactly 4 folds, the newcomer REALLY took the
    * materialize path (2 report versions, stamps = the vacuumed
    * stores' single retained versions), and a dimension-only change
    * resumes as (0, 1) with the report still meeting the recompute.
    *
    * Scale: phase cost tracks each feed's change volume (the q175
    * arms); the durable write per fold truncates lineage; retention
    * stays a driver-side delete per store; the watermark pair costs
    * one two-column single-row read. The judged plan is the veteran's
    * report scan joined to the newcomer-equiv and recompute-equiv
    * certificate legs (the recompute leg is the honest two-store
    * scan ⋈ scan → rollup price) plus the ≤6-row sort.
    */
  val q177DurableJoinResume: QuerySpec = QuerySpec(
    (s, dir) => {
      val flow = q177BuildDurableJoinFlow(s, dir)
      val orders = new graft.state.StateTable(s, flow.ordersRoot,
        graft.core.Schemas.ordersKey)
      val inv = new graft.state.StateTable(s, flow.invRoot,
        graft.core.Schemas.inventoriesKey)
      val rep = new DurableReport(
        reportStoreHandle(s, flow.reportRoot, joinedShape), joinedShape)
      // post-reclaim restart (a fresh handle applies ZERO steps on
      // both feeds — idempotence judged, q171's convention) and the
      // newcomer onboarding (a NEW joined consumer bootstraps from
      // both current versions): disjoint report roots over read-only
      // stores — overlapped (guide §2.6)
      val bRoot = graft.core.Staging.invocationDir("graft_q177_rep_b", dir)
      val repB = new DurableReport(
        reportStoreHandle(s, bRoot, joinedShape), joinedShape)
      val (restart, bSteps) = graft.core.Par.both(
        maintain(Seq(orders, inv), rep), maintain(Seq(orders, inv), repB))
      val a = rep.report()
      val b = repB.report()
      val bEquiv = multisetEquivDiff(a, b, "category")
        .withColumnRenamed("equiv_diff", "b_equiv_diff")
      val reEquiv = multisetEquivDiff(a, joinedShape.report(
          orders.current().get, inv.current().get), "category")
        .withColumnRenamed("equiv_diff", "recompute_equiv_diff")
      a.withColumn("n_order_steps",
          lit((flow.steps1(0) + flow.steps2(0)).toLong))
        .withColumn("n_dim_steps",
          lit((flow.steps1(1) + flow.steps2(1)).toLong))
        .withColumn("o_reclaimed", lit(flow.oReclaimed.toLong))
        .withColumn("i_reclaimed", lit(flow.iReclaimed.toLong))
        .withColumn("o_retained", lit(orders.history().size.toLong))
        .withColumn("i_retained", lit(inv.history().size.toLong))
        .withColumn("restart_steps", lit(restart.sum.toLong))
        .withColumn("bootstrap_steps", lit(bSteps.sum.toLong))
        .join(bEquiv, Seq("category"))
        .join(reEquiv, Seq("category"))
        .orderBy(col("category"))
    },
    s"""$flowStoreReplaySql,
       |-- q175's final-catalog replay: batch-1 rows with the LWW
       |-- category rewrite on moved keys; ghost rows never join
       |inv AS (
       |  SELECT cast(c_custkey AS varchar) AS product_id,
       |         CASE WHEN c_custkey % 3 = 0 THEN 'RELOCATED'
       |              ELSE c_mktsegment END AS category
       |  FROM customer
       |  WHERE c_custkey % 7 <> 0 AND c_custkey % 10 <> 0),
       |joined AS (
       |  SELECT i.category, f.w,
       |         cast(floor(f.amount * 100) AS bigint) AS cents
       |  FROM fin f JOIN inv i ON cast(f.o_custkey AS varchar) = i.product_id)
       |SELECT category,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * cents) AS bigint) AS revenue_cents,
       |  cast(2 AS bigint) AS n_order_steps,
       |  cast(2 AS bigint) AS n_dim_steps,
       |  cast(2 AS bigint) AS o_reclaimed,
       |  cast(2 AS bigint) AS i_reclaimed,
       |  cast(1 AS bigint) AS o_retained,
       |  cast(1 AS bigint) AS i_retained,
       |  cast(0 AS bigint) AS restart_steps,
       |  cast(0 AS bigint) AS bootstrap_steps,
       |  cast(0 AS bigint) AS b_equiv_diff,
       |  cast(0 AS bigint) AS recompute_equiv_diff
       |FROM joined GROUP BY category ORDER BY category""".stripMargin)

  // ------------------------------------------------------------------
  // q176: maintained TIME-BUCKETED report — derived (year, month)
  // group keys, judged with a LATE-arriving batch folding into
  // already-reported months
  // ------------------------------------------------------------------

  /** A2's orders-per-product-per-month rollup (`README.md:79–92`,
    * q166's shape) as a maintainable report: the group keys are
    * DERIVED (`year(date_time)`, `month(date_time)`), not stored
    * columns — the ± fold's arms recompute them per slice, so a row's
    * bucket is always derived from its own event time and a
    * boundary-crossing late row lands in ITS month, never the
    * processing-time one. One definition for the base snapshot, both
    * delta arms, and the recompute certificate leg.
    */
  private def monthlyContrib(slices: Seq[DataFrame]): DataFrame =
    slices.head.select(col("product_id"),
      year(col("date_time")).as("sale_year"),
      month(col("date_time")).as("sale_month"),
      lit(1L).as("n_rows"), col("quantity").cast("long").as("qty_sum"))

  private[graft] val monthlyShape: MaintainedShape =
    MaintainedShape(monthlyContrib,
      Seq("product_id", "sale_year", "sale_month"),
      Seq("n_rows", "qty_sum"),
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))

  /** q176's late-arriving batch: every k ≡ 0 (mod 5) source row
    * re-landed under a DISJOINT order-id space (k + 10⁷ — far above
    * any corpus orderkey at every judged SF, so the upsert's insert
    * arm appends all copies), with `o_orderdate` untouched: the
    * derived event times fall in the months the report has ALREADY
    * folded — late data in the event-time sense, arriving after its
    * month was reported. The shift preserves k's parity (10⁷ is
    * even), so each line keeps its original timestamp FORMAT arm; all
    * other hazard columns re-derive from the shifted k, which the
    * oracle replays.
    */
  private[graft] val q176LateBatch: DataFrame => DataFrame =
    df => df.filter(col("k") % 5 === 0)
      .withColumn("k", col("k") + lit(10000000L))

  /** q176's durable state plus the evidence the guards need: per-fold
    * applied-step counts, the late transition's changed keys, and the
    * (product, year, month) groups the late fold touched (both
    * pinned).
    */
  private[graft] final case class MonthlyFlow(
      ordersRoot: String, reportRoot: String, foldSteps: Seq[Int],
      lateKeys: DataFrame, lateTouched: DataFrame)

  /** q176's construction: the q167 durable-consumer loop run with
    * [[monthlyShape]] (fresh handles per fold — restart realism), then
    * the LATE batch lands in the SAME landing directory and a third
    * `AvailableNow` drain under the SAME checkpoint absorbs it (the
    * file-source log must skip every already-processed file), followed
    * by one more durable fold over the late transition.
    */
  private[graft] def q176BuildMonthlyFlow(
      s: SparkSession, dir: String): MonthlyFlow = {
    val keyCols = graft.core.Schemas.ordersKey
    val reportRoot = graft.core.Staging.invocationDir("graft_q176_report", dir)
    val steps = scala.collection.mutable.ArrayBuffer.empty[Int]
    def foldOnce(root: String): Int = {
      val orders = new graft.state.StateTable(s, root, keyCols)
      val report = reportStoreHandle(s, reportRoot, monthlyShape)
      resumeReportMaintenance(orders, report, keyCols, monthlyShape)
    }
    // the late batch's STAGING touches only its own side dir — it can
    // overlap the whole flow build (guide §2.6); only the LANDING must
    // wait for drain 2 (the files must arrive late, and landStagedFiles
    // runs strictly after both)
    val lateDir = graft.core.Staging.invocationDir("graft_q176_late", dir)
    val (flow, _) = graft.core.Par.both(
      buildStreamedFlowStore(s, dir, "graft_q176", "q176",
        st => steps += foldOnce(st.root)),
      stageOrdersCsv(s, dir, lateDir, q176LateBatch))
    landStagedFiles(lateDir, flow.landing, "late")
    flow.drain()
    val orders = new graft.state.StateTable(s, flow.st.root, keyCols)
    val h = orders.history()
    require(h.size == 4,
      s"q176: expected 4 retained versions after the late drain, got ${h.size}")
    val lateKeys = graft.core.Checkpoints.pin(
      orders.diff(h(2), h(3)).select(keyCols.map(col): _*))
    // the groups the late fold touched: the changed keys' rows exist
    // only on the after side (pure inserts), so their derived
    // (product, year, month) buckets off the current version ARE the
    // fold's touched set. The late FOLD writes only the report store
    // while this derivation reads only the (now immutable) orders
    // versions + the pinned lateKeys — disjoint effects, so the two
    // overlap (guide §2.6) instead of serializing
    val (lateStep, lateTouched) = graft.core.Par.both(
      foldOnce(flow.st.root),
      graft.core.Checkpoints.pin(
        monthlyShape.report(orders.current().get.join(lateKeys, keyCols, "left_semi"))
          .select(col("product_id"), col("sale_year"), col("sale_month"))))
    steps += lateStep
    MonthlyFlow(flow.st.root, reportRoot, steps.toSeq, lateKeys, lateTouched)
  }

  /** q176: the maintained TIME-BUCKETED report — A2 was the one
    * reference report with no maintained judged row (q166 recomputes
    * it off the store). The new surface is DERIVED group keys: every
    * prior maintained family groups by stored string columns, while
    * A2's buckets are `year(date_time)`/`month(date_time)` expressions
    * — and the late-data hazard that comes with them: rows can arrive
    * AFTER their month was folded and reported, and must fold into the
    * OLD month's groups (event-time bucketing), touching only those.
    * q176 judges both on the production path: the q167 durable
    * consumer loop (fresh handles, watermark resume, one report
    * version per fold) running [[monthlyShape]] over the streamed
    * flow's two drains, then a LATE batch — new order ids whose event
    * times sit in already-folded months ([[q176LateBatch]]) — lands in
    * the same landing dir, drains through the same checkpoint, and a
    * third durable fold absorbs it. The judged rows are the final
    * maintained monthly report (values meet the weighted-arms replay
    * plus the late arm — a late row bucketed by fold time instead of
    * event time, a double-folded late file, or a derived-key drift in
    * the durable round-trip all break it), the fold-step count (3),
    * the report version count (4), the count of groups the late fold
    * touched (judged visibly smaller than the report's group set — the
    * judged output itself is the group set), and `equiv_diff = 0`
    * against the recompute off the drained store.
    *
    * What the replayed oracle cannot see, IngestCertSpec pins: the
    * late keys are disjoint inserts whose months were ALREADY in the
    * pre-late report (really late, not just new), and the late fold's
    * durable report version differs from its predecessor ONLY within
    * the touched groups — every other (product, year, month) row
    * carried byte-identical (the expression-key pruning, q170's
    * convention).
    *
    * Scale: the fold arms derive buckets from the changed keys' rows
    * only (semi-join-pruned on the store key), so a late batch prices
    * at its own row count regardless of how many historical months the
    * report holds; the durable write truncates lineage per fold. The
    * judged plan is q167's consumer shape at the finer group key — the
    * report table's parquet scan joined to the recompute certificate
    * leg via the ±1-weighted union-groupBy pair, plus the output sort.
    */
  val q176MaintainedMonthly: QuerySpec = QuerySpec(
    (s, dir) => {
      val keyCols = graft.core.Schemas.ordersKey
      val flow = q176BuildMonthlyFlow(s, dir)
      val orders = new graft.state.StateTable(s, flow.ordersRoot, keyCols)
      val reportSt = reportStoreHandle(s, flow.reportRoot, monthlyShape)
      val maintained = reportSt.current().get.drop("as_of")
      val recompute = monthlyShape.report(orders.current().get)
      val equiv = multisetEquivDiff(maintained, recompute, "product_id")
      maintained
        .withColumn("n_steps", lit(flow.foldSteps.sum.toLong))
        .withColumn("n_report_versions", lit(reportSt.history().size.toLong))
        // a single-row aggregate read on the pinned touched frame
        .withColumn("n_late_touched", lit(flow.lateTouched.count()))
        .join(equiv, Seq("product_id"))
        .orderBy(col("product_id"), col("sale_year"), col("sale_month"))
    },
    s"""$flowStoreReplaySql,
       |-- the late batch replay: k ≡ 0 (mod 5) source rows re-landed
       |-- under the shifted (disjoint) order-id space; the verbatim
       |-- duplicate convention (k % 11, on the ORIGINAL key) rides
       |-- along, and every late row inserts with weight 1 per line
       |late AS (
       |  SELECT o_orderkey + 10000000 AS k, o_custkey, o_totalprice,
       |         o_orderdate, o_orderpriority, o_orderstatus
       |  FROM orders WHERE o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
       |         o_orderdate, o_orderpriority, o_orderstatus
       |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 11 = 0),
       |lkeyed AS (
       |  SELECT *, $hazardColsSql
       |  FROM late),
       |mfin AS (
       |  SELECT o_custkey, quantity, date_time, w FROM fin
       |  UNION ALL
       |  SELECT o_custkey, quantity, date_time, 1 AS w FROM lkeyed),
       |lgroups AS (
       |  SELECT DISTINCT o_custkey, year(date_time) AS y,
       |         month(date_time) AS m
       |  FROM lkeyed)
       |SELECT cast(o_custkey AS varchar) AS product_id,
       |  cast(year(date_time) AS integer) AS sale_year,
       |  cast(month(date_time) AS integer) AS sale_month,
       |  cast(sum(w) AS bigint) AS n_rows,
       |  cast(sum(w * quantity) AS bigint) AS qty_sum,
       |  cast(3 AS bigint) AS n_steps,
       |  cast(4 AS bigint) AS n_report_versions,
       |  (SELECT cast(count(*) AS bigint) FROM lgroups) AS n_late_touched,
       |  cast(0 AS bigint) AS equiv_diff
       |FROM mfin GROUP BY 1, 2, 3
       |ORDER BY product_id, sale_year, sale_month""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q159_csv_ingest_cert" -> q159CsvIngestCert,
    "q161_reference_flow_e2e" -> q161ReferenceFlowE2e,
    "q162_streaming_flow_e2e" -> q162StreamingFlowE2e,
    "q163_store_report_cert" -> q163StoreReportCert,
    "q164_incremental_report_cert" -> q164IncrementalReportCert,
    "q165_streaming_report_maint" -> q165StreamingReportMaintCert,
    "q166_store_monthly_cert" -> q166StoreMonthlyCert,
    "q167_durable_report_resume" -> q167DurableReportResume,
    "q168_retention_safe_resume" -> q168RetentionSafeResume,
    "q169_maintained_top_sellers" -> q169MaintainedTopSellers,
    "q170_purged_top_sellers" -> q170PurgedTopSellers,
    "q171_multi_consumer_retention" -> q171MultiConsumerRetention,
    "q172_consumer_bootstrap" -> q172ConsumerBootstrap,
    "q173_compaction_maintenance" -> q173CompactionMaintenance,
    "q174_evolution_maintenance" -> q174EvolutionMaintenance,
    "q175_maintained_join_report" -> q175MaintainedJoinReport,
    "q176_maintained_monthly" -> q176MaintainedMonthly,
    "q177_durable_join_resume" -> q177DurableJoinResume)
}
