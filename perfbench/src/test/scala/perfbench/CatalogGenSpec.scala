package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CatalogGenSpec extends AnyFunSuite {

  test("the same seed plans the same tables, schemas, row counts and LOB placement") {
    assert(CatalogGen.plan(7) == CatalogGen.plan(7))
    assert(CatalogGen.plan(7).map(_.name) != CatalogGen.plan(8).map(_.name))
  }

  test("every seed plans the same amount of work") {
    def shape(seed: Long) = CatalogGen.plan(seed)
      .map(t => (t.rows, t.columns.map(_.kind).sorted, t.hasLob)).sortBy(_.toString)
    (1L to 20L).foreach(s => assert(shape(s) == shape(0), s"seed $s"))
  }

  test("row counts are Zipf by rank, LOB tables take the small end, ids lead") {
    val plan = CatalogGen.plan(3, count = 40)
    val lobs = plan.filter(_.hasLob)
    assert(lobs.size == 2)
    assert(lobs.forall(_.rows <= CatalogGen.LobMaxRows))
    assert(plan.map(_.rows).max == CatalogGen.MaxRows)
    assert(plan.filterNot(_.hasLob).map(_.rows).min >= lobs.map(_.rows).max)
    assert(plan.forall(_.columns.head == CatalogGen.Column("id", "long")))
    assert(plan.map(_.name).distinct.size == plan.size)
  }

  test("the same seed writes the same rows") {
    val t = CatalogGen.plan(5).find(_.hasLob).get
    def rows(seed: Long) = (0L until t.rows).map(id =>
      t.columns.map(c => CatalogGen.value(seed, t, c, id) match {
        case b: Array[Byte] => b.toSeq
        case v => v
      }))
    val first = rows(5)
    assert(first.size == t.rows)
    assert(first == rows(5))
    assert(first != rows(6))
    assert(first.exists(_.last == null) && first.exists(_.last != null))
    val dir = Files.createTempDirectory("catalog-gen-spec").toFile
    val file = new java.io.File(dir, s"${t.name}.parquet")
    CatalogGen.write(5, t, file)
    assert(Env.parquetRows(file.getPath) == t.rows)
    assert(dir.list().toSeq == Seq(file.getName))
    Tiers.deleteRecursively(dir)
  }
}
