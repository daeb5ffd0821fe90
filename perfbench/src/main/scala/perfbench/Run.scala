package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.{Engine, Tables}
import graft.sources.Jdbc

/** One benchmark JVM; `run.py` launches it.
  *
  * Modes:
  *  - `prepare <work> [seed]`: the inputs of [[Tiers.prepare]].
  *  - `run <work> <workload> <seed> <seconds> <trace> <record> <build>`:
  *    timed passes back to back until `seconds` have elapsed (untraced),
  *    or traced, untraced, traced and untraced passes (traced). Every pass
  *    is checked; `build` names the build, whose reference control files
  *    the passes are compared with. The record (environment stamp,
  *    metrics, spans) goes to `record`, and the last stdout line is
  *    `RESULT <json>` for `run.py`.
  */
object Run {

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(tier: String): SparkSession = {
    val spark = Engine.session("perfbench", dataDir = Some(tier))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: work :: seed => Tiers.prepare(work, seed.headOption.map(_.toLong))
    case "run" :: work :: workload :: seed :: seconds :: trace :: record :: build :: Nil =>
      val ok = new Workload(work, workload, seed.toLong, seconds.toDouble, trace == "1", build)
        .run(record)
      if (!ok) sys.exit(1)
    case _ =>
      System.err.println("usage: Run prepare <work> [seed] | " +
        "run <work> <workload> <seed> <seconds> <trace 0|1> <record> <build>")
      sys.exit(2)
  }

  def bytesUnder(dir: File): Long =
    Migration.filesUnder(dir).map(f => new File(dir, f).length()).sum
}

/** One checked pass and the bytes it left under `Extracted_Data` and the
  * warehouse. */
final case class Pass(result: IterationResult, extractBytes: Long, loadBytes: Long)

/** A migration workload: closed loop, one client, each phase waiting for
  * the one before it. */
final class Workload(work: String, workload: String, seed: Long, seconds: Double,
    traced: Boolean, build: String) {

  private val runDir = s"$work/out/$workload-$seed-${ProcessHandle.current().pid()}"
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(what: String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  private val tier: String = workload match {
    case "catalog_many" => Tiers.catalog(work, seed)
    case "jdbc_live" => Tiers.canon(work, Tiers.JdbcTier)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  /** The transfer chunk cap: the reference's 95 GB single-file limit scaled
    * so each tier's largest extract files take the split + merge path. */
  private val chunkBytes: Long = 64L << 10

  /** Runs of the transfer and of the no-op resume in an untraced pass: each
    * takes 1.5–4 s, and one run would rest on a single short sample. The
    * median of three transfers is not moved by one slow copy; the resume,
    * twice as long, runs twice to keep a run within its share of the time
    * budget, and their median is their mean. */
  private val Transfers = 3
  private val Resumes = 2

  def run(record: String): Boolean = {
    val liveStart = Env.live()
    val t0 = System.nanoTime()
    val spark = Run.session(tier)
    val engineSessionS = (System.nanoTime() - t0) / 1e9
    val setupS = Run.sinceJvmStart()
    val policy = Env.stamp(spark, seed)
    val stats = new SparkStats
    if (traced) spark.sparkContext.addSparkListener(stats)

    val h0 = System.nanoTime()
    val src = if (workload != "jdbc_live") Source(tier, None, None)
      else Source(tier, Some(Jdbc.derbyUrl(Tiers.derbySource(work))),
        Some(Jdbc.derbyUrl(s"$runDir/target")))
    val sourceTables =
      if (src.jdbc.isDefined) Tiers.JdbcTables
      else graft.core.Catalog.tableMetas(tier).map(_.tableName)
    val sourceCounts: Map[String, Long] = sourceTables.map(n => n -> (src.jdbc match {
      case Some(u) => Env.sqlCount(u, n)
      case None => Env.parquetRows(Tables.path(tier, n))
    })).toMap
    val sourceRows = sourceCounts.values.sum.toDouble
    val sourceBytes = sourceTables.map(n => new File(Tables.path(tier, n)).length()).sum.toDouble
    val harnessS = (System.nanoTime() - h0) / 1e9
    val w0 = System.nanoTime()
    JvmWarmUp(spark, s"$runDir/jvm-warm-up", src.jdbc.isDefined)
    val jvmWarmUpS = (System.nanoTime() - w0) / 1e9

    // The extract control files of a (workload, seed) are deterministic for
    // a build: its first run keeps them, and every later pass must
    // reproduce them. Their tables and row counts are checked against the
    // source on every pass, the first included.
    val refDir = new File(s"$work/reference/$build/$workload-$seed")
    val referenceFiles = Seq("iq_tables.list", "ExtractedTables.out")
    def lines(bytes: Array[Byte]): Seq[Array[String]] =
      new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty).map(_.split(',')).toSeq
    def verify(out: String, r: IterationResult): Unit = {
      val files = Migration.ControlFiles.map(f => f -> readOrEmpty(s"$out/$f")).toMap
      if (!refDir.exists()) {
        Files.createDirectories(refDir.toPath)
        referenceFiles.foreach(f => Files.write(new File(refDir, f).toPath, files(f)))
      }
      referenceFiles.foreach { f =>
        check(s"$f matches the build's first run's")(
          files(f).sameElements(readOrEmpty(new File(refDir, f).getPath)))
      }
      // iq_tables.list: graft.<table>,<rows>,<bytes>,<id>,N;
      // ExtractedTables.out: graft.<table>,<id>,<rows>
      Seq("iq_tables.list" -> 1, "ExtractedTables.out" -> 2).foreach { case (f, rowsAt) =>
        val listed = lines(files(f)).map(l => l(0).stripPrefix("graft.") -> l(rowsAt).toLong)
        check(s"$f lists the source's tables and row counts")(
          listed.size == sourceCounts.size && listed.toMap == sourceCounts)
      }
      val loaded = lines(files("HDL_LoadedTables.out"))
      check("HDL_LoadedTables.out lists every source table")(
        loaded.map(_(0).stripPrefix("graft.")).toSet == sourceCounts.keySet)
      loaded.foreach(l =>
        check(s"HDL_LoadedTables.out line '${l.mkString(",")}' ends with ,Y")(l.last == "Y"))
      sourceCounts.foreach { case (n, expected) =>
        val got = src.target match {
          case Some(u) => Env.sqlCount(u, n)
          case None => Env.parquetRows(s"$out/warehouse/$n")
        }
        check(s"$n: $got rows loaded, the source has $expected")(got == expected)
      }
      check("Loader.unloadedTables is empty")(r.unloaded == 0)
      check("Transfer.validate passes")(r.transfer.ok)
    }

    val samples = mutable.LinkedHashMap.empty[String, Map[String, Seq[Double]]]
    /** Runs and checks one pass into `<runDir>/<name>`; a throw counts as a
      * failed operation and ends the run. */
    def pass(name: String)(body: String => IterationResult): Option[Pass] = {
      val out = s"$runDir/$name"
      try {
        val r = body(out)
        verify(out, r)
        samples += name -> r.phaseSamples
        Some(Pass(r, Run.bytesUnder(new File(s"$out/Extracted_Data")),
          Run.bytesUnder(new File(s"$out/warehouse"))))
      } catch {
        case e: Exception =>
          attempted += 1; failed += 1
          failures += s"pass $name threw: $e"
          None
      }
    }
    // a full collection before the pass and after each phase, untimed:
    // every phase starts on a collected heap, and the live memory it left
    // behind is sampled
    var peakLiveMb = 0.0
    var settleS = 0.0
    val settle = () => {
      val g0 = System.nanoTime()
      peakLiveMb = math.max(peakLiveMb, Env.liveMb())
      settleS += (System.nanoTime() - g0) / 1e9
    }
    def plain(out: String) = Migration.untraced(spark, src, out, chunkBytes,
      if (traced) 1 else Transfers, if (traced) 1 else Resumes, settle)
    val trace = new Trace
    def spanned(out: String) = Migration.traced(spark, src, out, chunkBytes, trace,
      p => SparkStats.setPhase(spark.sparkContext, if (trace.iteration == 1) p else ""), settle)

    val metrics: Map[String, (Double, String)] = try {
      if (!traced) {
        // closed loop: passes back to back until `seconds` have elapsed
        val start = System.nanoTime()
        val timed = mutable.ArrayBuffer.empty[Pass]
        var more = true
        while (more) {
          val name = s"pass${timed.size + 1}"
          val p = pass(name)(plain)
          Tiers.deleteRecursively(new File(s"$runDir/$name"))
          p.foreach(timed += _)
          more = p.isDefined && (System.nanoTime() - start) / 1e9 < seconds
        }
        if (failed > 0) Map.empty
        else Metrics.endToEnd(timed.toSeq, setupS, sourceRows, sourceBytes) +
          ("peak_live_mb" -> (peakLiveMb, "MB"))
      } else {
        // pass 1 is traced in the same state as an untraced run's first
        // pass and gives the per-layer numbers. Later passes keep getting
        // faster as the JVM warms, so the overhead is traced pass 3 against
        // the mean of untraced passes 2 and 4 around it; pass 4 is skipped
        // when a slow machine would push the run past its time limit.
        trace.iteration = 1
        val first = pass("traced")(spanned)
        val untracedPass = pass("untraced")(plain)
        trace.iteration = 2
        val second = pass("traced2")(spanned)
        val untracedAfter =
          if (Run.sinceJvmStart() < 110) pass("untraced2")(plain) else None
        Seq("traced", "traced2").foreach { t =>
          Migration.ControlFiles.foreach { f =>
            check(s"$t $f is byte-identical to the untraced pass's")(
              readOrEmpty(s"$runDir/$t/$f").sameElements(readOrEmpty(s"$runDir/untraced/$f")))
          }
        }
        stats.drain()
        first.foreach(t1 =>
          Metrics.selfTimeChecks(trace, t1).foreach { case (what, ok) => check(what)(ok) })
        (first, untracedPass, second) match {
          case (Some(t1), Some(u1), Some(t2)) if failed == 0 =>
            Metrics.perLayer(trace, stats, t1, u1 +: untracedAfter.toSeq, t2, engineSessionS,
              spark.sparkContext.defaultParallelism)
          case _ => Map.empty
        }
      }
    } finally {
      if (src.jdbc.isDefined) Env.shutdownDerby()
      spark.stop()
      Tiers.deleteRecursively(new File(runDir))
    }

    val correct = failed == 0 && metrics.nonEmpty
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "policy" -> policy,
      "live_start" -> liveStart, "live_end" -> Env.live(),
      "harness_s" -> harnessS, "jvm_warm_up_s" -> jvmWarmUpS, "setup_s" -> setupS,
      "settle_s" -> settleS, "vm_hwm_mb" -> Env.peakRssMb(), "phase_samples" -> samples,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> (if (traced) trace.toJson else Seq.empty))
    Files.createDirectories(Paths.get(record).toAbsolutePath.getParent)
    Run.json.writerWithDefaultPrettyPrinter().writeValue(new File(record), rec)
    println(s"RESULT ${Run.json.writeValueAsString(rec - "spans")}")
    correct
  }

  private def readOrEmpty(path: String): Array[Byte] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.readAllBytes(p) else Array.empty
  }
}

