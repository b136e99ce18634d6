package graft.query

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Catalog

class TypeOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def setup(): (Catalog, Map[String, Long]) = {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("types"))
    def mk(name: String, isType: Boolean, typeId: Option[Long] = None): Long =
      cat.insert("record", Map("name" -> name, "is_type" -> isType) ++
        typeId.map("type_id" -> _))("id").asInstanceOf[Long]
    val t1 = mk("Type1", isType = true)
    val t2 = mk("Type2", isType = true, Some(t1))
    val t3 = mk("Type3", isType = true, Some(t2))
    val i1 = mk("rec1", isType = false, Some(t1))
    val i2 = mk("rec2", isType = false, Some(t3))
    val i3 = mk("rec3", isType = false, Some(t3))
    (cat, Map("t1" -> t1, "t2" -> t2, "t3" -> t3, "i1" -> i1, "i2" -> i2, "i3" -> i3))
  }

  test("instancesUnder is transitive; trashing a mid type cuts its subtree") {
    val (cat, ids) = setup()
    assert(TypeOps.instancesUnder(cat, "record", ids("t1")).count() === 5)
    assert(TypeOps.instancesUnder(cat, "record", ids("t3")).count() === 2)
    // trash type2 -> only the direct instance of type1 remains reachable
    cat.update("record", col("id") === ids("t2"), "branch_id" -> lit(Catalog.TrashBranchId))
    assert(TypeOps.instancesUnder(cat, "record", ids("t1")).count() === 1)
  }

  test("superTypes walks the chain nearest-first") {
    val (cat, ids) = setup()
    val chain = TypeOps.superTypes(cat, "record", ids("i2")).map(_.getAs[String]("name"))
    assert(chain === Seq("Type3", "Type2", "Type1"))
  }

  test("setType refuses cycles, including self") {
    val (cat, ids) = setup()
    val e1 = intercept[IllegalArgumentException](
      TypeOps.setType(cat, "record", ids("t1"), ids("t1")))
    assert(e1.getMessage.toLowerCase.contains("cycle"))
    // t1 <- t2 <- t3: pointing t1 at t3 closes the loop
    val e2 = intercept[IllegalArgumentException](
      TypeOps.setType(cat, "record", ids("t1"), ids("t3")))
    assert(e2.getMessage.toLowerCase.contains("cycle"))
    // a legal re-parent still works
    TypeOps.setType(cat, "record", ids("i1"), ids("t3"))
    assert(TypeOps.instancesUnder(cat, "record", ids("t3")).count() === 3)
  }
}
