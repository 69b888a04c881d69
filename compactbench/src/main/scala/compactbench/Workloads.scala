package compactbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.compaction._
import graft.exec.{Mor, RewriteResult, RewriteStats}
import graft.meta._
import graft.selection._

/** Samples of one run, keyed by metric name. */
final class Samples {
  val values: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  def add(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val gen: Gen, val work: File,
    val cores: Int, val smoke: Boolean) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val problems = mutable.ArrayBuffer.empty[String]

  def problem(msg: String): Unit = synchronized {
    failed.incrementAndGet()
    problems += msg
    System.err.println(s"[compactbench] FAIL $msg")
  }

  /** Runs one operation: counts it as attempted, and as failed if it throws. */
  def op[A](what: String)(body: => A): A = {
    attempted.incrementAndGet()
    try body
    catch { case e: Throwable => problem(s"$what threw $e"); throw e }
  }
}

/** Outcome of one compaction, as seen from outside the engine. */
final case class CompactionOutcome(
    planS: Double, commitS: Double, validateS: Double,
    stats: Seq[RewriteStats], plans: Seq[CompactionPlan], rewriteWallS: Double)

/** A closed-loop workload: one client that waits for every call before the
  * next. Each repetition registers the fixture's metadata in a fresh
  * warehouse, then appends a micro-batch, upserts 1% of the fixture's
  * orders, runs the fixed read, compacts, and runs the fixed read again.
  * Data files written once into the fixture are shared by every
  * repetition, so every repetition starts from the same table state. */
abstract class Workload(val ctx: Ctx) {
  import ctx.{gen, spark}

  def name: String
  val Table = "t"
  /** Rows in the fixture's generated id range [0, baseRows). */
  def baseRows: Long
  /** Rows in the appended micro-batch. */
  def appendRows: Long

  /** Builds the fixture table in `cat` and returns its metadata. */
  def buildFixture(cat: LocalCatalog): TableMetadata
  /** True for fixture ids whose row is live in the fixture's MOR view. */
  def fixtureAlive(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = lit(true)
  /** Extra columns a workload's table carries beyond lineitem. */
  def decorate(df: DataFrame): DataFrame = df
  def read(cat: Catalog): DataFrame = IceRead.table(spark, cat, Table)
  def compaction(cat: Catalog, metrics: Metrics, onProgress: CompactionProgress => Unit): Compaction
  /** Runs one compaction; traced repetitions go through the stage API. */
  def compact(cat: Catalog, tracer: Tracer, metrics: Metrics): CompactionOutcome =
    if (tracer.enabled) stagedCompact(cat, tracer, metrics) else managedCompact(cat, metrics)

  private def now(): Long = System.nanoTime()

  /** `Compaction.compact()`; plan and commit times come from its progress
    * ticks ("planned" after planning, "committed" after the commit). */
  private def managedCompact(cat: Catalog, metrics: Metrics): CompactionOutcome = {
    val planned = new AtomicLong; val lastRewrite = new AtomicLong; val committed = new AtomicLong
    val c = compaction(cat, metrics, p => p.phase match {
      case "planned"   => planned.set(now())
      case "rewriting" => lastRewrite.accumulateAndGet(now(), math.max)
      case "committed" => committed.set(now())
      case _           => ()
    })
    val t0 = now()
    val res = c.compact()
    val t1 = now()
    CompactionOutcome((planned.get - t0) / 1e9, (committed.get - lastRewrite.get) / 1e9,
      (t1 - committed.get) / 1e9, res.stats, Nil, (lastRewrite.get - planned.get) / 1e9)
  }

  /** The same calls `compact()` makes, in its order, one span each. */
  protected def stagedCompact(cat: Catalog, tracer: Tracer, metrics: Metrics): CompactionOutcome = {
    val c = compaction(cat, metrics, _ => ())
    val t0 = now()
    val table = tracer.span("meta.load")(cat.loadTable(Table))
    val snap = table.currentSnapshot.get
    val tasks = tracer.span("meta.scan_tasks")(table.scanTasks(snap))
    val plans = tracer.span("selection.plan") {
      val byPath = snap.manifest.map(f => f.resolutionKey -> f).toMap
      PlanStrategy.fromConfig(c.config).execute(tasks, c.config.params, byPath.get)
        .filterNot(_.isEmpty).map(g => CompactionPlan(g, "main", snap.snapshotId))
    }
    val t1 = now()
    val outcomes = tracer.span("exec.rewrite")(rewrite(c, plans))
    val t2 = now()
    val committed = tracer.span("compaction.commit")(c.commitRewriteResults(outcomes))
    val t3 = now()
    if (c.enableValidate) tracer.span("compaction.validate")(validate(committed, outcomes))
    val t4 = now()
    CompactionOutcome((t1 - t0) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
      outcomes.filter(measured).map(_.result.stats), plans, (t2 - t1) / 1e9)
  }

  /** Rewrites whose stats feed the exec metrics. */
  protected def measured(o: RewriteOutcome): Boolean = true

  protected def rewrite(c: Compaction, plans: Seq[CompactionPlan]): Seq[RewriteOutcome] =
    c.concurrentRewritePlans(plans)

  private def validate(committed: TableMetadata, outcomes: Seq[RewriteOutcome]): Unit =
    outcomes.foreach { o =>
      Validator.validate(spark, o.plan.fileGroup, o.result.addedFiles,
        committed.schemaColumns, committed.formatVersion, committed.schema)
    }

  // ---- inputs, derived from the seed only ----

  /** The upsert replaces 1% of orders, picked from the fixture range only so
    * appended ids never collide with an upserted key. */
  private def upserted(orderkey: org.apache.spark.sql.Column) =
    gen.orderSelected(orderkey, 1000, 1) && orderkey < lit(baseRows / gen.LinesPerOrder)

  /** One micro-batch in a single Spark partition, as a streaming writer
    * hands it over. */
  def appendBatch: DataFrame =
    decorate(gen.withValues(spark.range(baseRows, baseRows + appendRows, 1, 1)
      .withColumn("v", lit(0))))

  def upsertBatch: DataFrame =
    decorate(gen.withValues(spark.range(0, baseRows, 1, 1)
      .filter(upserted(gen.orderOf(col("id")))).withColumn("v", lit(1))))

  /** The table's rows after the append and the upsert, built in plain Spark
    * from the generator: upserted orders carry version 1; other fixture rows
    * keep version 0 if the fixture left them live. */
  def expectedRows: DataFrame = {
    val inFixture = col("id") < lit(baseRows)
    val v = when(inFixture && upserted(gen.orderOf(col("id"))), lit(1)).otherwise(lit(0))
    decorate(gen.withValues(spark.range(0, baseRows + appendRows).withColumn("v", v)
      .filter(col("v") > 0 || !inFixture || fixtureAlive(col("id")))))
  }

  lazy val expectedRead: Seq[Row] =
    Tracer.tagged(spark.sparkContext, "check")(gen.fixedRead(expectedRows))

  // ---- one repetition ----

  private def dirBytes(d: File): Long =
    Option(d.listFiles).map(_.toSeq).getOrElse(Nil).map { f =>
      if (f.isDirectory) dirBytes(f) else f.length
    }.sum

  private def liveFiles(m: TableMetadata): Seq[FileEntry] =
    m.currentSnapshot.toSeq.flatMap(_.manifest)

  /** Runs repetition `rep`: e2e samples go to `e2e`; traced repetitions
    * also leave per-layer samples in `layer` and spans in `tracer`. Only the
    * engine calls run inside the repetition; result checks and file
    * accounting run after it. */
  def repetition(rep: Int, fixture: TableMetadata, tracer: Tracer,
      e2e: Samples, layer: Samples): Unit = {
    tracer.rep = rep
    val dir = new File(ctx.work, s"rep-$rep")
    val metrics = new Metrics
    val reads = mutable.ArrayBuffer.empty[(String, Seq[Row], Seq[Row])] // (what, got, want)
    var compaction: CompactionOutcome = null
    var (before, after): (TableMetadata, TableMetadata) = (null, null)
    var ingestSecs = 0.0
    def timed[A](body: => A): (A, Double) = {
      val t0 = now(); val a = body; (a, (now() - t0) / 1e9)
    }
    def fixedRead(cat: Catalog): (Seq[Row], Double) =
      timed(ctx.op("read")(tracer.span("exec.read")(gen.fixedRead(read(cat)))))

    val tRep0 = now()
    val cat = tracer.span("rep") {
      val (cat, setupS) = timed(ctx.op("setup")(tracer.span("setup") {
        new LocalCatalog(dir.getPath).createTable(fixture)
        val fresh = new LocalCatalog(dir.getPath)
        fresh.loadTable(Table)
        fresh
      }))
      e2e.add("setup_s", setupS)
      val (_, appendS) = timed(ctx.op("append")(tracer.span("meta.append") {
        IceWrite.append(spark, cat, Table, appendBatch)
      }))
      val (_, upsertS) = timed(ctx.op("upsert")(tracer.span("meta.upsert") {
        IceWrite.upsert(spark, cat, Table, upsertBatch, Seq("l_orderkey"))
      }))
      e2e.add("append_s", appendS); e2e.add("upsert_s", upsertS)
      layer.add("meta.append_s", appendS); layer.add("meta.upsert_s", upsertS)
      ingestSecs = appendS + upsertS
      val (readBefore, readS) = fixedRead(cat)
      e2e.add("read_before_s", readS); layer.add("exec.read_s", readS)
      reads += (("pre-compaction", readBefore, expectedRead))
      before = cat.loadTable(Table)
      val (out, compactS) = timed(ctx.op("compact")(tracer.span("compaction") {
        compact(cat, tracer, metrics)
      }))
      compaction = out
      after = cat.loadTable(Table)
      e2e.add("compact_s", compactS)
      e2e.add("commit_s", out.commitS)
      val (readAfter, readAfterS) = fixedRead(cat)
      e2e.add("read_after_s", readAfterS); layer.add("exec.read_s", readAfterS)
      reads += (("post-compaction", readAfter, readBefore))
      cat
    }
    e2e.add("rep_s", (now() - tRep0) / 1e9)

    for ((what, got, want) <- reads if got != want)
      ctx.problem(s"$name rep $rep: $what read differs from the expected rows" +
        s" (${gen.rowCount(got)} rows vs ${gen.rowCount(want)})")
    checkCompaction(compaction, before, after, rep)
    recordCompactionLayers(compaction, e2e, layer)
    val end = after // the read after the compaction commits nothing
    e2e.add("files_after", liveFiles(end).size.toDouble)
    // data files the repetition's appends and upserts added: the manifest
    // difference of each non-compaction snapshot it committed
    val fixtureSnaps = fixture.snapshots.map(_.snapshotId).toSet
    val byId = end.snapshots.map(s => s.snapshotId -> s).toMap
    val ingested = end.snapshots.filter(s => !fixtureSnaps(s.snapshotId) &&
        !s.summary.get("rewrite").contains("compaction")).flatMap { s =>
      val old = s.parentId.flatMap(byId.get).toSeq.flatMap(_.manifest).iterator.map(_.path).toSet
      s.manifest.filter(f => f.content == FileContent.Data && !old(f.path))
    }
    val tableDir = new File(dir, Table)
    val v1 = new File(tableDir, "metadata/v1.metadata.json")
    val versions = Option(new File(tableDir, "metadata").listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.matches("v\\d+\\.metadata\\.json") && f.getName != v1.getName)
    // everything the repetition wrote (data, deletes, metadata), without the
    // registration's copy of the fixture metadata
    val written = dirBytes(tableDir) - v1.length
    e2e.add("write_amp", written.toDouble / math.max(1L, ingested.map(_.length).sum))
    e2e.add("ingest_rows_per_s", ingested.map(_.recordCount).sum / ingestSecs)
    layer.add("meta.versions_written", versions.size.toDouble)
    layer.add("meta.version_bytes", versions.map(_.length).sum.toDouble)
    layer.add("exec.read.files_scanned", filesScanned(end).toDouble)
    val snap = metrics.snapshot
    layer.add("compaction.commit_attempts",
      (snap("commit_succeeded") + snap("commit_failed")).toDouble)
    layer.add("compaction.commit_conflicts", snap("commit_failed").toDouble)
    Main.deleteRecursively(dir)
  }

  /** Files the fixed read plans over: live data files and the delete
    * files attached to them. */
  def filesScanned(m: TableMetadata): Long = {
    val tasks = m.scanTasks(m.currentSnapshot.get)
    tasks.size.toLong + tasks.flatMap(_.deletes).distinct.size
  }

  private def recordCompactionLayers(out: CompactionOutcome, e2e: Samples, layer: Samples): Unit = {
    val inBytes = out.stats.map(_.inputBytes).sum
    if (inBytes > 0)
      e2e.add("rewrite_bytes_ratio", out.stats.map(_.outputBytes).sum.toDouble / inBytes)
    val planSecs = out.stats.map(_.durationMs / 1e3)
    layer.add("compaction.plan_s", out.planS)
    layer.add("compaction.commit_s", out.commitS)
    layer.add("compaction.validate_s", out.validateS)
    layer.add("exec.rewrite_s", out.rewriteWallS)
    layer.add("exec.rewrite_plan_max_s", if (planSecs.isEmpty) 0.0 else planSecs.max)
    layer.add("exec.rewrite_plan_sum_s", planSecs.sum)
    layer.add("compaction.plan_parallelism",
      if (out.rewriteWallS > 0) planSecs.sum / out.rewriteWallS else 0.0)
    layer.add("exec.input_bytes", out.stats.map(_.inputBytes).sum.toDouble)
    layer.add("exec.output_bytes", out.stats.map(_.outputBytes).sum.toDouble)
    layer.add("exec.output_files", out.stats.map(_.outputFiles).sum.toDouble)
    layer.add("selection.groups", out.plans.size.toDouble)
    layer.add("selection.files_planned", out.plans.map(_.fileGroup.inputFilesCount).sum.toDouble)
    layer.add("selection.bytes_planned", out.plans.map(_.fileGroup.inputTotalBytes).sum.toDouble)
  }

  /** Post-commit checks beyond the read comparison: the compaction rewrote
    * something and committed a new snapshot that adds files. */
  protected def checkCompaction(out: CompactionOutcome, before: TableMetadata,
      after: TableMetadata, rep: Int): Unit = {
    val beforeData = liveFiles(before).filter(_.content == FileContent.Data).map(_.path).toSet
    val afterData = liveFiles(after).filter(_.content == FileContent.Data)
    if (out.stats.isEmpty) ctx.problem(s"$name rep $rep: compaction planned nothing")
    if (after.currentSnapshotId == before.currentSnapshotId)
      ctx.problem(s"$name rep $rep: compaction committed no snapshot")
    val added = afterData.filterNot(f => beforeData(f.path))
    if (added.isEmpty) ctx.problem(s"$name rep $rep: compaction added no file")
  }
}

/** An unpartitioned lineitem table in ~16 small data files, with position
  * deletes on 2% of rows and equality deletes on 1% of orders, compacted in
  * full with validation. The MOR anti joins, the exchange and the write do
  * nearly all the work; the planner sees a handful of entries. */
final class MorCompact(c: Ctx) extends Workload(c) {
  import c.{gen, spark}
  val name = "mor_compact"
  val baseRows: Long = if (c.smoke) 4000L else 120000L
  val appendRows: Long = if (c.smoke) 400L else 6000L
  private val RowsPerFile = baseRows / 16
  private val TargetBytes = 16L << 20

  private def posDeleted(id: org.apache.spark.sql.Column) = pmod(gen.h(70, id), lit(50L)) === 0
  private def eqDeleted(k: org.apache.spark.sql.Column) = gen.orderSelected(k, 80, 1)
  override def fixtureAlive(id: org.apache.spark.sql.Column) =
    !posDeleted(id) && !eqDeleted(gen.orderOf(id))

  def buildFixture(cat: LocalCatalog): TableMetadata = {
    IceWrite.create(spark, cat, Table, gen.rows(0, baseRows),
      targetFileSizeBytes = RowsPerFile * 256)
    val files = cat.loadTable(Table).currentSnapshot.get.manifest.map(_.path)
    val id = col("l_orderkey") * gen.LinesPerOrder + col("l_linenumber") - 1
    IceWrite.appendPositionDeletes(spark, cat, Table,
      spark.read.parquet(files: _*).filter(posDeleted(id))
        .select(Mor.normalizePath(col("_metadata.file_path")).as("file_path"),
          col("_metadata.row_index").as("pos")))
    IceWrite.appendEqualityDeletes(spark, cat, Table,
      spark.range(0, baseRows / gen.LinesPerOrder).withColumnRenamed("id", "l_orderkey")
        .filter(eqDeleted(col("l_orderkey"))), Seq("l_orderkey"))
    cat.loadTable(Table)
  }

  def compaction(cat: Catalog, metrics: Metrics, onProgress: CompactionProgress => Unit) =
    new Compaction(cat, Table, spark,
      config = FullCompactionConfig(PlanningParams(targetFileSizeBytes = TargetBytes)),
      targetFileSizeBytes = TargetBytes, enableValidate = true, metrics = metrics,
      onProgress = onProgress)
}

/** Metadata at scale: a synthetic snapshot of many small data-file entries
  * and partition-scoped equality deletes over 64 identity partitions, next
  * to one real partition that receives the appends and upserts and answers
  * the fixed read. Compaction plans every partition; the real partition is
  * rewritten, each synthetic group is committed as one synthetic output
  * (no parquet I/O), all in one commit. Planning, metadata load and commit
  * dominate; the MOR path barely runs. */
final class ManifestScale(c: Ctx) extends Workload(c) {
  import c.spark
  val name = "manifest_scale"
  val baseRows: Long = if (c.smoke) 2000L else 20000L
  val appendRows: Long = if (c.smoke) 200L else 4000L
  val Partitions = 64
  val RealPartition = "64"
  val syntheticFiles: Int = if (c.smoke) 2000 else 64000
  val syntheticDeletes: Int = syntheticFiles / 50
  private val SyntheticTag = "/synthetic/"

  override def decorate(df: DataFrame): DataFrame = df.withColumn("p", lit(RealPartition.toInt))
  override def read(cat: Catalog): DataFrame =
    IceRead.tablePartition(spark, cat, Table, Map("p" -> RealPartition))
  override def filesScanned(m: TableMetadata): Long = {
    val tasks = m.scanTasks(m.currentSnapshot.get)
      .filter(_.partitionValues.get("p").contains(RealPartition))
    tasks.size.toLong + tasks.flatMap(_.deletes).distinct.size
  }

  def buildFixture(cat: LocalCatalog): TableMetadata = {
    val real = IceWrite.create(spark, cat, Table, decorate(ctx.gen.rows(0, baseRows)),
      partitionSpec = Seq(PartitionField("p")),
      targetFileSizeBytes = baseRows / 8 * 256)
    val head = real.currentSnapshot.get
    val keyId = real.fieldByName("l_orderkey").get.id
    val dataDir = cat.dataDir(Table)
    val rnd = new scala.util.Random(ctx.gen.seed ^ 0x5eedL)
    val data = (0 until syntheticFiles).map { i =>
      val len = (1L << 20) + rnd.nextInt(15 << 20)
      FileEntry(s"$dataDir$SyntheticTag${i % Partitions}/f$i.parquet", len,
        FileContent.Data, len / 64, head.sequenceNumber + 1,
        partitionValues = Map("p" -> (i % Partitions).toString))
    }
    val deletes = (0 until syntheticDeletes).map { i =>
      FileEntry(s"$dataDir$SyntheticTag${i % Partitions}/eq$i.parquet", 4096L,
        FileContent.EqualityDeletes, 64L, head.sequenceNumber + 2,
        equalityIds = Seq("l_orderkey"), equalityFieldIds = Seq(keyId),
        partitionValues = Map("p" -> (i % Partitions).toString))
    }
    val manifest = head.manifest ++ data ++ deletes
    val seq = head.sequenceNumber + 2
    val snap = Snapshot(head.snapshotId + 1, Some(head.snapshotId), seq,
      System.currentTimeMillis(), manifest,
      TableMetadata.computedSummary(head.manifest, manifest) + ("operation" -> "append"))
    cat.commit(real, real.copy(currentSnapshotId = Some(snap.snapshotId),
      refs = real.refs + ("main" -> snap.snapshotId), snapshots = real.snapshots :+ snap,
      lastSequenceNumber = seq))
  }

  def compaction(cat: Catalog, metrics: Metrics, onProgress: CompactionProgress => Unit) =
    new Compaction(cat, Table, spark, config = SmallFilesConfig(),
      maxConcurrentPlans = math.min(4, ctx.cores), metrics = metrics, onProgress = onProgress)

  private def isSynthetic(p: CompactionPlan) =
    p.fileGroup.dataFiles.exists(_.path.contains(SyntheticTag))

  /** Real groups are rewritten; each synthetic group becomes one synthetic
    * output carrying its input's records and bytes. */
  override protected def rewrite(c: Compaction, plans: Seq[CompactionPlan]): Seq[RewriteOutcome] = {
    val (synthetic, real) = plans.partition(isSynthetic)
    c.concurrentRewritePlans(real) ++ synthetic.zipWithIndex.map { case (p, i) =>
      val g = p.fileGroup
      val out = g.dataFiles.head.copy(
        path = g.dataFiles.head.path.replaceAll("/[^/]+$",
          s"/compacted-${p.snapshotId}-$i.parquet"),
        length = g.totalSize, recordCount = g.dataFiles.map(_.recordCount).sum, deletes = Nil)
      RewriteOutcome(p, RewriteResult(Seq(out),
        RewriteStats(g.inputFilesCount, g.inputTotalBytes, 1, out.length, out.recordCount, 0L)))
    }
  }

  /** compact() would open the synthetic files, so both modes use the stage
    * API; untraced repetitions run it with tracing off. */
  override def compact(cat: Catalog, tracer: Tracer, metrics: Metrics): CompactionOutcome =
    stagedCompact(cat, tracer, metrics)

  override protected def measured(o: RewriteOutcome): Boolean = !isSynthetic(o.plan)

  /** Also: no rewritten path stays live, and synthetic records are
    * conserved. */
  override protected def checkCompaction(out: CompactionOutcome, before: TableMetadata,
      after: TableMetadata, rep: Int): Unit = {
    super.checkCompaction(out, before, after, rep)
    val rewritten = out.plans.flatMap(_.fileGroup.dataFiles.map(_.path)).toSet
    val head = after.currentSnapshot.get.manifest
    if (head.exists(f => rewritten(f.path)))
      ctx.problem(s"$name rep $rep: a rewritten path is still live")
    def syntheticRecords(m: Seq[FileEntry]) =
      m.filter(f => f.content == FileContent.Data && f.path.contains(SyntheticTag))
        .map(_.recordCount).sum
    if (syntheticRecords(head) != syntheticRecords(before.currentSnapshot.get.manifest))
      ctx.problem(s"$name rep $rep: synthetic record count not conserved")
  }
}
