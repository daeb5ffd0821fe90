package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** The effective policy and the live environment a record was taken in. */
object Env {

  /** The session settings `Engine.session` derives from the data tier. */
  def policyOf(spark: SparkSession): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark.io.compression.codec" -> spark.conf.get("spark.io.compression.codec"),
    "spark.sql.streaming.stateStore.providerClass" ->
      spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
    "spark.graft.durableStage" -> spark.conf.get("spark.graft.durableStage", "false"))

  def stamp(spark: SparkSession, seed: Long): Map[String, Any] = policyOf(spark) ++ Map(
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "spark_version" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "seed" -> seed)

  /** Load average, CPU time stolen by the hypervisor since boot, and the
    * other live JVMs (their main classes) right now: each takes cores from
    * the benchmark, and a record that ran slow says which it was. */
  def live(): Map[String, Any] = Map(
    "loadavg" -> Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(' ').take(3).map(_.toDouble).toSeq).getOrElse(Seq.empty),
    "steal_s" -> Try(Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+")(8).toDouble / 100).getOrElse(0.0),
    "other_jvms" -> otherJvms())

  private def otherJvms(): Seq[String] = Try {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.pid() != self && p.info().command().orElse("").endsWith("/java"))
      .map { p =>
        val args = p.info().arguments().orElse(Array.empty[String]).toSeq
        val valued = Set("-cp", "-classpath", "--add-opens", "-jar")
        val main = args.indices.collectFirst {
          case i if !args(i).startsWith("-") && (i == 0 || !valued(args(i - 1))) => args(i)
        }
        main.getOrElse("java")
      }.toSeq.sorted
  }.getOrElse(Seq.empty)

  /** Heap plus non-heap (metaspace, code cache) in use right after a full
    * collection, in MiB: the memory this JVM keeps live at this point,
    * whatever the heap is sized to. `System.gc()` is a full, stop-the-world
    * collection unless `-XX:+ExplicitGCInvokesConcurrent` is set. */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .get
  }.getOrElse(0.0)

  /** Rows of a parquet file, or of every data file under a directory, from
    * the footers alone, bypassing Spark. */
  def parquetRows(path: String): Long = {
    val f = new java.io.File(path)
    val files = if (f.isDirectory) Migration.filesUnder(f).filter(_.endsWith(".parquet"))
        .filterNot(_.split('/').exists(p => p.startsWith(".") || p.startsWith("_")))
        .map(new java.io.File(f, _))
      else Seq(f)
    files.map { file =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toURI), new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Row count of `table` straight through JDBC, bypassing Spark. */
  def sqlCount(url: String, table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  /** Stops embedded Derby so its databases are closed before their files go. */
  def shutdownDerby(): Unit =
    Try(java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true"))
}
