package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The benchmark's inputs, built inside the work dir and reused by later
  * runs. Building them is harness set-up: it is reported on its own and is
  * never part of a metric.
  *
  *  - `base`: `graft.tools.GenScale` at scale 1, the sf0.1 shape (10 tables,
  *    lineitem 600k rows).
  *  - `canon<p>`: a deterministic p% sample of every base table, in the
  *    single-file `<name>.parquet` layout `Catalog.tableMetas` reads.
  *  - `catalog-<seed>`: `canon1` plus the seeded tables of [[CatalogGen]].
  *  - `derby/source`: an embedded Derby database seeded from [[JdbcTier]]'s
  *    JDBC-mappable tables.
  */
object Tiers {

  val JdbcTier = 10
  val CatalogCanonTier = 1

  def base(work: String): String = s"$work/tiers/base"
  def canon(work: String, pct: Int): String = s"$work/tiers/canon$pct"
  def catalog(work: String, seed: Long): String = s"$work/tiers/catalog-$seed"
  def derbySource(work: String): String = s"$work/derby/source"

  /** Tables the JDBC source carries: `embeddings` is left out because its
    * array column has no JDBC type. */
  val JdbcTables: Seq[String] = Tables.names.filterNot(_ == "embeddings")

  private def ready(dir: String): File = new File(dir, "_READY")

  /** Set-up shared by every run in this work dir, plus the `catalog_many`
    * tier of `seed`. Runs in its own JVM, so every workload JVM starts in
    * the same state whether or not its inputs were new. A new seed's tier
    * alone needs no Spark session. */
  def prepare(work: String, seed: Option[Long]): Unit = {
    val shared = Seq(base(work), canon(work, CatalogCanonTier), canon(work, JdbcTier),
      derbySource(work))
    if (!shared.forall(ready(_).exists())) prepareShared(work)
    seed.foreach(catalogTier(work, _))
  }

  private def prepareShared(work: String): Unit = {
    if (!ready(base(work)).exists()) {
      graft.tools.GenScale.main(Array(base(work), "1"))
      Files.writeString(ready(base(work)).toPath, "")
    }
    val spark = graft.core.Engine.session("perfbench-prepare", dataDir = Some(base(work)))
    spark.sparkContext.setLogLevel("WARN")
    try {
      Seq(CatalogCanonTier, JdbcTier).foreach { p =>
        if (!ready(canon(work, p)).exists()) {
          Tables.names.foreach { n =>
            writeSingleFile(sample(n, spark.read.parquet(Tables.path(base(work), n)), p),
              canon(work, p), n)
          }
          Files.writeString(ready(canon(work, p)).toPath, "")
        }
      }
      val derby = derbySource(work)
      if (!ready(derby).exists()) {
        deleteRecursively(new File(derby))
        val url = graft.sources.Jdbc.derbyUrl(derby)
        JdbcTables.foreach(n =>
          graft.sources.Jdbc.write(Tables.load(spark, canon(work, JdbcTier), n), url, n))
        Files.writeString(ready(derby).toPath, "")
      }
    } finally spark.stop()
  }

  /** Rows whose lead column hashes into the first `pct` of 100 buckets; the
    * two dimension tables are kept whole. */
  def sample(name: String, df: DataFrame, pct: Int): DataFrame =
    if (name == "region" || name == "nation") df
    else df.filter(pmod(xxhash64(col(df.columns.head)), lit(100)) < pct)

  /** Write `df` as the one file `<dir>/<name>.parquet`. */
  def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/_stage_$name"
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
    val part = new File(staging).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(new File(staging))
  }

  /** The `catalog_many` tier for `seed`: the canonical tables plus the
    * generated ones. Built once per seed. */
  def catalogTier(work: String, seed: Long): String = {
    val dir = catalog(work, seed)
    if (!ready(dir).exists()) {
      deleteRecursively(new File(dir))
      new File(dir).mkdirs()
      Tables.names.foreach { n =>
        Files.copy(new File(Tables.path(canon(work, CatalogCanonTier), n)).toPath,
          new File(Tables.path(dir, n)).toPath)
      }
      CatalogGen.plan(seed).foreach(t => CatalogGen.write(seed, t, new File(dir, s"${t.name}.parquet")))
      Files.writeString(ready(dir).toPath, "")
    }
    dir
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}

/** Seeded generator of `catalog_many`'s extra tables: the reference's real
  * shape, many mostly-small tables.
  *
  * Row counts follow Zipf(1.1) by rank, at most [[MaxRows]]; the seed
  * assigns those counts to tables and names the tables and columns. Every
  * table has a unique `long` lead column `id` plus one column of each of
  * the five scalar kinds, in a seeded order, so the amount of work does not
  * depend on the seed. Every [[LobEvery]]th table (at least one) also
  * carries a nullable binary LOB column and takes its row count from the
  * small end, capped at [[LobMaxRows]]. Values are pure hashes of
  * (seed, table, column, id).
  */
object CatalogGen {

  val Count = 2
  val MaxRows = 50000L
  val ZipfS = 1.1
  val LobEvery = 20
  val LobMaxRows = 20L
  val Kinds: Seq[String] = Seq("long", "int", "string", "double", "timestamp")

  final case class Column(name: String, kind: String)
  final case class TableSpec(name: String, rows: Long, columns: Seq[Column]) {
    def hasLob: Boolean = columns.exists(_.kind == "binary")
  }

  private def word(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString

  def plan(seed: Long, count: Int = Count): Seq[TableSpec] = {
    val rnd = new scala.util.Random(seed)
    val sizes = (1 to count).map(r => math.max(1L, (MaxRows / math.pow(r, ZipfS)).toLong))
    val nLob = math.max(1, count / LobEvery)
    val lobSlots = rnd.shuffle((0 until count).toList).take(nLob).toSet
    // LOB tables take the smallest counts; the rest are dealt in seeded order
    val (small, rest) = (sizes.takeRight(nLob).map(math.min(_, LobMaxRows)), sizes.dropRight(nLob))
    val dealt = rnd.shuffle(rest).iterator
    val smallIt = small.iterator
    val prefix = word(rnd, 4)
    (0 until count).map { i =>
      val lob = lobSlots(i)
      val scalar = rnd.shuffle(Kinds).map(k => Column(s"${k.take(2)}_${word(rnd, 5)}", k))
      val cols = Column("id", "long") +: (if (lob) scalar :+ Column(s"lob_${word(rnd, 5)}", "binary") else scalar)
      TableSpec(f"${prefix}_$i%03d", if (lob) smallIt.next() else dealt.next(), cols)
    }
  }

  /** A 64-bit hash of (seed, table, column, id, extra): SplitMix64's
    * finalizer over the mixed inputs. */
  private def h(seed: Long, t: TableSpec, c: Column, id: Long, extra: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L ^ MurmurHash3.stringHash(t.name) ^
      (MurmurHash3.stringHash(c.name).toLong << 32) ^ id * 0xBF58476D1CE4E5B9L ^ extra
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def sha256(x: Long): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(x.toString.getBytes("UTF-8"))

  private val Hex = "0123456789abcdef"

  /** Lower-case hex of `bytes`, two digits a byte. */
  private def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(Hex.charAt((b >> 4) & 0xf)).append(Hex.charAt(b & 0xf)))
    sb.toString
  }

  private def pmod(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  /** The value of column `c` in row `id`; `null` for a missing LOB. */
  def value(seed: Long, t: TableSpec, c: Column, id: Long): Any = c.kind match {
    case "long" if c.name == "id" => id
    case "long" => h(seed, t, c, id, 0)
    case "int" => pmod(h(seed, t, c, id, 0), 1000000L).toInt
    case "string" =>
      hex(sha256(h(seed, t, c, id, 0))).take(8 + pmod(h(seed, t, c, id, 1), 40L).toInt)
    case "double" => pmod(h(seed, t, c, id, 0), 1000000000L) / 1000.0
    case "timestamp" => 1500000000L + pmod(h(seed, t, c, id, 0), 200000000L)
    case "binary" =>
      if (pmod(h(seed, t, c, id, 1), 10L) == 0) null
      else {
        val block = sha256(h(seed, t, c, id, 0))
        Array.fill(1 + pmod(h(seed, t, c, id, 2), 16L).toInt)(block).flatten
      }
  }

  def schema(t: TableSpec): MessageType = {
    val fields = t.columns.map { c =>
      val (prim, logical) = c.kind match {
        case "long" => (PrimitiveTypeName.INT64, None)
        case "int" => (PrimitiveTypeName.INT32, None)
        case "string" => (PrimitiveTypeName.BINARY, Some(LogicalTypeAnnotation.stringType()))
        case "double" => (PrimitiveTypeName.DOUBLE, None)
        case "timestamp" => (PrimitiveTypeName.INT64,
          Some(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)))
        case "binary" => (PrimitiveTypeName.BINARY, None)
      }
      val b = if (c.name == "id") Types.required(prim) else Types.optional(prim)
      logical.fold(b)(b.as).named(c.name)
    }
    new MessageType(t.name, fields: _*)
  }

  /** Writes table `t` of `seed` as the single parquet file `file`, with
    * parquet-mr alone: a new seed's tier costs no Spark session. Timestamps
    * are seconds since the epoch, stored as microseconds. */
  def write(seed: Long, t: TableSpec, file: File): Unit = {
    val sch = schema(t)
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new Path(file.toURI)).withType(sch).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(sch)
    try (0L until t.rows).foreach { id =>
      val g = groups.newGroup()
      t.columns.foreach { c =>
        (value(seed, t, c, id), c.kind) match {
          case (null, _) =>
          case (v: Long, "timestamp") => g.append(c.name, v * 1000000L)
          case (v: Long, _) => g.append(c.name, v)
          case (v: Int, _) => g.append(c.name, v)
          case (v: Double, _) => g.append(c.name, v)
          case (v: String, _) => g.append(c.name, v)
          case (v: Array[Byte], _) => g.append(c.name, Binary.fromConstantByteArray(v))
        }
      }
      writer.write(g)
    } finally writer.close()
    // the local file system's checksum sidecar
    new File(file.getParentFile, s".${file.getName}.crc").delete()
  }
}
