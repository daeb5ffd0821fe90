package perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.extract.Extract
import graft.load.Loader
import graft.sources.Jdbc

/** Fixed work on tiny generated data, the same in every run of a workload,
  * done before the timed pass.
  *
  * A fresh JVM compiles Spark's planner, code generator, file formats,
  * Hadoop file system and the migration's own code on first use. Measured
  * on 4 cores, that first use added about 6 s to whichever phase ran first
  * (premigration 13.6 s against 7.9 s after a warm-up) and made the phases
  * it lands in the noisiest. So the warm-up calls the layers a pass goes
  * through, in a pass's order, on two small `CatalogGen` tables that are
  * not the workload's: the scalar one is extracted as gzip CSV, the one
  * with a LOB column through the LOB path and as parquet; each extract's
  * manifest is read back and the extract loaded with the count verify; then
  * the files are transferred and the reconciliation anti-join runs. For
  * `jdbc_live`, whose source has no LOB column, the LOB table is left out
  * and the scalar table also goes into an in-memory Derby database and is
  * read back range-partitioned. The CLI phases need the canonical tables,
  * so they are not called here. The timed pass still compiles the plans of
  * its own tables, which every CLI invocation pays too.
  */
object JvmWarmUp {

  /** Seed and row cap of the warm-up tier's tables. */
  val Seed = 0L
  val Rows = 500L

  def apply(spark: SparkSession, dir: String, jdbc: Boolean): Unit = {
    val tier = new File(s"$dir/tier")
    tier.mkdirs()
    val tables = CatalogGen.plan(Seed).filter(t => !(jdbc && t.hasLob))
      .map(t => t.copy(rows = math.min(t.rows, Rows)))
    val out = s"$dir/out"
    val url = "jdbc:derby:memory:perfbench_warm_up;create=true"
    tables.zipWithIndex.foreach { case (t, i) =>
      val file = new File(tier, s"${t.name}.parquet")
      CatalogGen.write(Seed, t, file)
      val df = spark.read.parquet(file.getPath)
      def extractAndLoad(id: Int)(extract: String => Long): Unit = {
        val x = s"$out/Extracted_Data/$id"
        val rows = extract(x)
        Extract.readManifest(spark, x).collect()
        require(Loader.loadVerified(Extract.readExtractedAuto(spark, x), rows,
          s"$out/warehouse/$id").ok, s"warm-up load of ${t.name}")
      }
      if (t.hasLob) {
        extractAndLoad(2 * i)(Extract.extractLob(df, _, 2 * i, table = t.name))
        extractAndLoad(2 * i + 1)(Extract.extractParquet(df, _, table = t.name))
      } else {
        extractAndLoad(2 * i)(Extract.extractGzipCsv(df, _, table = t.name))
        if (jdbc) {
          Jdbc.write(df, url, t.name)
          Jdbc.readAuto(spark, url, t.name, numPartitions = 4).count()
        }
      }
    }
    Migration.transfer(spark, out, 16L << 10, Trace.Off)
    import spark.implicits._
    val names = tables.map(_.name).toDF("table_name")
    Loader.unloadedTables(names, names.limit(1), "table_name").count()
    if (jdbc) Try(java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true")))
    Tiers.deleteRecursively(new File(dir))
  }
}
