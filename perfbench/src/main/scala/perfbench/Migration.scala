package perfbench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.Main
import graft.core.{Catalog, Ctl, Tables}
import graft.extract.Extract
import graft.load.Loader
import graft.premigration.{Checks, Gates}
import graft.rewrite.{ReloadFixture, Rewriter}
import graft.sources.Jdbc
import graft.transfer.Transfer

/** A migration's source: a parquet tier, optionally served by a live JDBC
  * server (`jdbc`), whose tables are loaded into `target`. */
final case class Source(tier: String, jdbc: Option[String], target: Option[String]) {
  require(jdbc.isDefined == target.isDefined, "a live source needs a load target")
}

/** Files and bytes the transfer copied, the parts it wrote, and how many of
  * the files are per-row LOB files. */
final case class TransferStats(files: Int, parts: Int, bytes: Long, lobFiles: Int, ok: Boolean)

/** What one pass of the migration left behind, for the output checks: the
  * wall of every run of each phase, what the transfer copied, and the
  * tables the reconciliation found unloaded. */
final case class IterationResult(phaseSamples: Map[String, Seq[Double]],
    transfer: TransferStats, unloaded: Long) {
  /** The phase's wall, the median when the pass ran it more than once. */
  def phaseSeconds(p: String): Double = Metrics.median(phaseSamples(p))
}

/** The five phases an operator runs back to back, closed loop:
  * premigration → extraction (schema + data) → transfer → load (with the
  * reconciliation anti-join) → resume of extraction and load.
  *
  * [[untraced]] calls `cli.Main`'s public phase entry points, as the CLI
  * does. [[traced]] calls the public functions of the layers that `Main`
  * calls internally, in `Main`'s order, inside spans; the run compares its
  * control files byte for byte with an untraced pass so the copy cannot
  * drift from `Main` unnoticed. Transfer has no CLI phase, so both passes
  * share [[transfer]]. `settle` runs before the pass and after each phase,
  * outside every timed region.
  */
object Migration {

  val Phases: Seq[String] = Seq("premigration", "extract", "transfer", "load", "resume")

  /** Control files compared between passes (the reference's phase protocol). */
  val ControlFiles: Seq[String] = Seq("pre_migration.out", "AutoUpdated_Reload.sql",
    "Foreign_Key_Constraint.sql", "iq_tables.list", "ExtractedTables.out",
    "HDL_LoadedTables.out", "HDL_FailedTables.out")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def cliExtract(spark: SparkSession, src: Source, out: String): Unit = src.jdbc match {
    case Some(u) => Main.onlySchema(spark, out); Main.onlyDataJdbc(spark, u, out)
    case None => Main.fullExtraction(spark, src.tier, out)
  }

  private def cliLoad(spark: SparkSession, src: Source, out: String): Unit = src.target match {
    case Some(t) => Main.fullLoadJdbc(spark, out, t)
    case None => Main.fullLoad(spark, out)
  }

  /** One pass through the CLI. The two short phases run more than once:
    * the transfer `transfers` times, each into a fresh copy dir, and the
    * no-op resume `resumes` times over the same finished out dir. */
  def untraced(spark: SparkSession, src: Source, out: String, chunkBytes: Long,
      transfers: Int, resumes: Int, settle: () => Unit): IterationResult = {
    def phase[A](body: => A): (A, Double) = { val r = timed(body); settle(); r }
    settle()
    val (_, pre) = phase(Main.premigration(spark, src.tier, out, src.jdbc.getOrElse("")))
    val (_, ext) = phase(cliExtract(spark, src, out))
    val xfers = (1 to transfers).map { i =>
      if (i > 1) Tiers.deleteRecursively(new File(s"$out/Transferred"))
      timed(transfer(spark, out, chunkBytes, Trace.Off))
    }
    settle()
    val (unloaded, ld) = phase { cliLoad(spark, src, out); reconcile(spark, out, Trace.Off) }
    val res = (1 to resumes).map(_ => timed { cliExtract(spark, src, out); cliLoad(spark, src, out) })
    settle()
    IterationResult(Map("premigration" -> Seq(pre), "extract" -> Seq(ext),
      "transfer" -> xfers.map(_._2), "load" -> Seq(ld), "resume" -> res.map(_._2)),
      xfers.head._1.copy(ok = xfers.forall(_._1.ok)), unloaded)
  }

  /** Same pass as [[untraced]] with one run of each phase, spanned per
    * layer; `phase` marks the Spark work of each phase for [[SparkStats]]. */
  def traced(spark: SparkSession, src: Source, out: String, chunkBytes: Long,
      tr: Trace, phase: String => Unit, settle: () => Unit): IterationResult = {
    def root[A](p: String)(body: => A): (A, Double) = {
      phase(p)
      try timed(tr.span(s"cli.$p")(body)) finally { phase(""); settle() }
    }
    settle()
    val (_, pre) = root("premigration")(premigration(spark, src, out, tr))
    val (_, ext) = root("extract")(extract(spark, src, out, tr))
    val (xfer, xs) = root("transfer")(transfer(spark, out, chunkBytes, tr))
    val (unloaded, ld) = root("load") { load(spark, src, out, tr); reconcile(spark, out, tr) }
    val (_, res) = root("resume") { extract(spark, src, out, tr); load(spark, src, out, tr) }
    IterationResult(Map("premigration" -> Seq(pre), "extract" -> Seq(ext),
      "transfer" -> Seq(xs), "load" -> Seq(ld), "resume" -> Seq(res)), xfer, unloaded)
  }

  private def ctl[A](tr: Trace)(body: => A): A = {
    tr.add("ctl.ops")
    tr.span("ctl")(body)
  }

  /** `Main.premigration`, spanned. */
  private def premigration(spark: SparkSession, src: Source, out: String, tr: Trace): Unit = {
    val gates = tr.span("premigration.gates")(Gates.evaluate(spark,
      props = Map("version" -> s"graft/spark ${spark.version}", "readonly" -> "Off"),
      nodes = Seq.empty, connectedServer = "local",
      probeWriteSucceeds = src.jdbc match {
        case Some(u) => () => Jdbc.probeWrite(u)
        case None => () => java.nio.file.Files.isWritable(java.nio.file.Paths.get(src.tier))
      },
      forceWriteMode = true).collect())
    require(gates.forall(_.getBoolean(1)), "environment gates failed")
    val gateReport = gates.map(r =>
      f"gate:${r.getString(0)}%-22s pass=${r.getBoolean(1)}  ${r.getString(2)}")
    val findings = tr.span("premigration.checks")(Checks.findings(spark, src.tier).collect())
    val report = (gateReport ++ findings.map(r =>
      f"${r.getString(0)}%-28s ${r.getLong(1)}%8d  actionRequired=${r.getBoolean(2)}"))
      .mkString("# graft pre-migration report\n", "\n", "\n")
    ctl(tr)(Ctl.write(spark.sparkContext.hadoopConfiguration, s"$out/pre_migration.out", report))
  }

  /** `Main.onlySchema` then `Main.onlyData` / `onlyDataJdbc`, spanned. */
  private def extract(spark: SparkSession, src: Source, out: String, tr: Trace): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (mainDdl, fkDdl) = tr.span("rewrite.schema")(
      Rewriter.serialize(Rewriter.rewrite(spark, ReloadFixture.lines).collect().toSeq))
    ctl(tr)(Ctl.write(conf, s"$out/AutoUpdated_Reload.sql", mainDdl))
    ctl(tr)(Ctl.write(conf, s"$out/Foreign_Key_Constraint.sql", fkDdl))
    val workList: Seq[Extract.WorkItem] = src.jdbc match {
      case Some(u) => tr.span("jdbc.inventory")(Main.jdbcWorkItems(spark, u))
      case None =>
        tr.add("catalog.inventory_calls")
        tr.span("catalog.inventory")(Catalog.tableInventory(spark, src.tier).collect().toSeq)
          .map(r => Extract.WorkItem(r.getString(0).split('.').last,
            r.getLong(1), r.getLong(2), r.getInt(3)))
    }
    def loadTable(n: String): DataFrame = src.jdbc match {
      case Some(u) => tr.span("jdbc.read") {
        val df = Jdbc.readAuto(spark, u, n,
          numPartitions = spark.sparkContext.defaultParallelism.min(32))
        tr.add("jdbc.read_partitions", df.rdd.getNumPartitions)
        df
      }
      case None => Tables.load(spark, src.tier, n)
    }
    def ctlLine(w: Extract.WorkItem) =
      s"graft.${w.name},${w.rowCount},${w.sizeBytes},${w.tableId},N"
    ctl(tr)(Ctl.write(conf, s"$out/iq_tables.list",
      workList.map(ctlLine).mkString("", "\n", "\n")))
    ctl(tr)(Ctl.listFileNames(conf, out))
      .filter(n => n.matches("iq_tables_Batch_\\d+\\.list") || n == "no_extraction.list")
      .foreach(n => ctl(tr)(Ctl.delete(conf, s"$out/$n")))
    val done = workList.filter(_.rowCount > 0).map { w => tr.span("extract.table") {
      val df = loadTable(w.name)
      val dir = s"$out/Extracted_Data/${w.tableId}"
      val recorded: Option[Long] =
        if (ctl(tr)(Ctl.exists(conf, dir + ".manifest.json")))
          tr.span("extract.manifest_read") {
            val mdf = Extract.readManifest(spark, dir)
            if (!mdf.columns.contains("table")) None
            else {
              val m = mdf.select(col("complete"), col("rows"), col("table")).head()
              if (m.getBoolean(0) && m.getString(2) == w.name) Some(m.getLong(1)) else None
            }
          }
        else None
      val hasLob = df.schema.fields.exists(_.dataType == org.apache.spark.sql.types.BinaryType)
      val rows = recorded match {
        case Some(r) => tr.add("extract.tables_skipped"); r
        case None =>
          tr.add("extract.tables_written")
          if (hasLob) tr.span("extract.lob")(Extract.extractLob(df, dir, w.tableId, table = w.name))
          else tr.span("extract.write")(Extract.formatFor(df.schema) match {
            case Extract.Binary => Extract.extractParquet(df, dir, table = w.name)
            case _ => Extract.extractGzipCsv(df, dir, table = w.name)
          })
      }
      s"graft.${w.name},${w.tableId},$rows"
    }}
    val empties = workList.filter(_.rowCount == 0).map(w => s"graft.${w.name},${w.tableId},0")
    ctl(tr)(Ctl.write(conf, s"$out/ExtractedTables.out", (done ++ empties).mkString("", "\n", "\n")))
  }

  /** `Main.fullLoad` / `fullLoadJdbc`, spanned; the JDBC per-table load is
    * `Loader.loadVerifiedJdbc`'s stage → verify → promote with the staging
    * write and the re-count in their own spans. */
  private def load(spark: SparkSession, src: Source, out: String, tr: Trace): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val loadedPath = s"$out/HDL_LoadedTables.out"
    val loadedOk: Set[String] =
      if (ctl(tr)(Ctl.exists(conf, loadedPath)))
        ctl(tr)(Ctl.readLines(conf, loadedPath))
          .filter(_.endsWith(",Y")).map(_.split(',')(0).stripPrefix("graft.")).toSet
      else Set.empty
    val ctlPath = s"$out/ExtractedTables.out"
    require(ctl(tr)(Ctl.exists(conf, ctlPath)),
      "--fullload requires ExtractedTables.out from a prior --fullextraction")
    val counts = Loader.extractedCounts(ctl(tr)(Ctl.readLines(conf, ctlPath)))
    val (loadable, empties) = counts.partition { case (_, tid, rows) =>
      rows > 0 || ctl(tr)(Ctl.exists(conf, s"$out/Extracted_Data/$tid.manifest.json"))
    }
    val work = loadable.map { case (n, tid, cnt) =>
      Loader.LoadWork(n,
        () => tr.span("load.read_extracted")(
          Extract.readExtractedAuto(spark, s"$out/Extracted_Data/$tid")),
        () => cnt)
    }
    def loadOne(w: Loader.LoadWork): Loader.LoadResult = tr.span("load.table") {
      val df = w.df()
      val expected = w.expected()
      tr.span("load.verified")(src.target match {
        case Some(u) => loadVerifiedJdbc(spark, df, expected, u, w.name, tr)
        case None => Loader.loadVerified(df, expected, s"$out/warehouse/${w.name}")
      })
    }
    val results = Loader.loadAllWith(work, s"$out/HDL_FailedTables.out", loadedOk, loadOne, conf)
    tr.add("load.tables_loaded", results.count(_.ok))
    tr.add("load.tables_skipped", work.size - results.size)
    tr.add("load.failed", results.count(!_.ok))
    val doneNames = results.map(_.tableName).toSet ++ empties.map(_._1)
    val keptOk = loadedOk.filterNot(doneNames).map(n => s"graft.$n,-,Y")
    ctl(tr)(Ctl.write(conf, loadedPath,
      (results.map(r => s"graft.${r.tableName},${r.loaded},${if (r.ok) "Y" else "N"}")
        ++ empties.filterNot(e => loadedOk.contains(e._1)).map(e => s"graft.${e._1},0,Y")
        ++ keptOk).mkString("", "\n", "\n")))
    require(results.forall(_.ok), "load verification failed for some tables")
  }

  private def loadVerifiedJdbc(spark: SparkSession, df: DataFrame, expected: Long,
      url: String, table: String, tr: Trace): Loader.LoadResult = {
    val staging = s"${table}_staging"
    val existing = Jdbc.listTablesInCurrentSchema(url).map(_.toUpperCase).toSet
    if (!existing.contains(table.toUpperCase) && existing.contains(staging.toUpperCase))
      Jdbc.renameTable(url, staging, table)
    tr.span("jdbc.write")(Jdbc.write(df, url, staging, SaveMode.Overwrite))
    val loaded = tr.span("jdbc.verify")(Jdbc.read(spark, url, staging).count())
    tr.add("jdbc.rows_written", loaded.toDouble)
    if (loaded != expected) {
      Jdbc.execute(url, s"DROP TABLE $staging", ignoreMissingTable = true)
      Loader.LoadResult(table, expected, loaded, ok = false,
        detail = s"count mismatch: loaded $loaded, expected $expected")
    } else {
      Jdbc.execute(url, s"DROP TABLE $table", ignoreMissingTable = true)
      Jdbc.renameTable(url, staging, table)
      Loader.LoadResult(table, expected, loaded, ok = true)
    }
  }

  /** The reconciliation anti-join (`Loader.unloadedTables`) over the
    * extract and load control files; returns the tables left unloaded. */
  def reconcile(spark: SparkSession, out: String, tr: Trace): Long = tr.span("load.reconcile") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val extracted = Loader.extractedCounts(ctl(tr)(Ctl.readLines(conf, s"$out/ExtractedTables.out")))
      .map(_._1).toDF("table_name")
    val loaded = ctl(tr)(Ctl.readLines(conf, s"$out/HDL_LoadedTables.out"))
      .filter(_.endsWith(",Y")).map(_.split(',')(0).stripPrefix("graft.")).toDF("table_name")
    Loader.unloadedTables(extracted, loaded, "table_name").count()
  }

  /** Every file under `dir` except Hadoop's local checksum sidecars
    * (`.<name>.crc`), as paths relative to `dir`, in name order. */
  def filesUnder(dir: File): Seq[String] = {
    def walk(d: File, rel: String): Seq[String] =
      Option(d.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName).toSeq.flatMap { f =>
        val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
        if (f.isDirectory) walk(f, r)
        else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) Nil
        else Seq(r)
      }
    walk(dir, "")
  }

  /** Copy every extracted file to a second `file://` dir with `Transfer`,
    * splitting files over `chunkBytes` and merging their parts back, then
    * check the copy with `Transfer.listing` + `Transfer.validate`. */
  def transfer(spark: SparkSession, out: String, chunkBytes: Long, tr: Trace): TransferStats = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRoot = new File(s"$out/Extracted_Data")
    val dstRoot = new File(s"$out/Transferred")
    val files = filesUnder(srcRoot)
    val copied = tr.span("transfer.copy")(files.map { rel =>
      val src = new File(srcRoot, rel)
      val dstDir = new File(dstRoot, rel).getParentFile
      rel -> Transfer.copyChunked(new Path(src.toURI), new Path(dstDir.toURI), chunkBytes, conf)
    })
    tr.span("transfer.merge")(copied.filter(_._2.size > 1).foreach { case (rel, parts) =>
      Transfer.merge(parts, new Path(new File(dstRoot, rel).toURI), conf)
    })
    val dirs = ("" +: files.map(f => new File(f).getParent).collect { case p if p != null => p })
      .distinct
    def listingOf(root: File): DataFrame = dirs.map { d =>
      Transfer.listing(spark, new File(root, d).toURI.toString)
        .withColumn("file_name", concat(lit(s"$d/"), col("file_name")))
    }.reduce(_.unionByName(_))
    val (nLocal, _, ok) = tr.span("transfer.validate")(
      Transfer.validate(listingOf(srcRoot), listingOf(dstRoot)))
    val lobFiles = files.count(_.matches(".*\\.lob\\d+/[^/]*_row[^/]*"))
    TransferStats(files.size, copied.map(_._2.size).sum,
      files.map(f => new File(srcRoot, f).length()).sum, lobFiles, ok && nLocal == files.size)
  }
}
