package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{Base62, Versioning}

/** Differential property test of the catalog's row writes against an
  * in-memory model. Each of 40 cases, drawn from a fixed seed, runs 3–8
  * random ops on the versioned `collection` registry of a fresh
  * deterministic catalog: a plain `insert`, `insertVersion` into a new or
  * an existing family (on main or on a second branch), `update` of two
  * columns on a random id set, and `flush`. After each case:
  *  - `table` (snapshot ∪ buffer), sorted by id, equals the model — uids
  *    included, so the catalog draws uids from its RNG exactly when the
  *    model does;
  *  - every (stem, branch) has at most one `is_latest` head;
  *  - the manifest version rose by exactly one per `update`, per
  *    `insertVersion` that demotes, and per `flush` of a non-empty buffer;
  *  - a fresh catalog on the same root reads the model's durable rows: a
  *    demoting `insertVersion` writes its new head with the demotion, so
  *    the buffered rows before it are durable too.
  */
class CatalogUpdatePropertySpec extends AnyFunSuite {
  import CatalogUpdatePropertySpec._

  private lazy val spark = TestSpark.spark

  private val genBranch = Gen.oneOf(Catalog.MainBranchId, OtherBranchId)
  private val genOp: Gen[Op] = Gen.frequency(
    2 -> genBranch.map(Insert(_)),
    2 -> genBranch.map(NewFamily(_)),
    3 -> Gen.zip(genBranch, Gen.choose(0, 1000)).map { case (b, pick) => Revise(b, pick) },
    3 -> Gen.zip(Gen.choose(0, 511), Gen.choose(0, 999)).map { case (mask, salt) => Update(mask, salt) },
    1 -> Gen.const(Flush))
  private val genCase: Gen[Case] = for {
    n <- Gen.choose(3, 8)
    ops <- Gen.listOfN(n, genOp)
    seed <- Gen.choose(0L, 1L << 20)
  } yield Case(seed, ops)

  /** The 40 cases, the same on every run. */
  private val cases: Seq[Case] = {
    val seeds = Iterator.iterate(Seed(20261017L))(_.next)
    Seq.fill(40)(genCase.pureApply(Gen.Parameters.default, seeds.next()))
  }

  /** The model: every row in insertion (= id) order, the rows a fresh
    * catalog would read, and the expected manifest version.
    */
  private final class Model(seed: Long) {
    val rng = new java.util.Random(seed)
    val rows = mutable.ArrayBuffer.empty[MRow]
    var durable = Vector.empty[MRow]
    var buffered = false
    var version = 0

    def write(): Unit = { durable = rows.toVector; buffered = false; version += 1 }
    def append(uid: String, branch: Long, description: String): Unit = {
      rows += MRow(rows.size + 1L, uid, description, null, isLatest = true, branch)
      buffered = true
    }
  }

  private def run(c: Case): Unit = {
    val root = TestSpark.tmpDir("catupd")
    val cat = Catalog.deterministic(spark, root, c.seed)
    val m = new Model(c.seed)
    c.ops.zipWithIndex.foreach {
      case (Insert(b), i) =>
        cat.currentBranchId = b
        val uid = Versioning.createUid(m.rng)
        val got = cat.insert(Registry, Map("description" -> s"op$i"))
        assert(got("uid") === uid)
        m.append(uid, b, s"op$i")
      case (NewFamily(b), i) =>
        cat.currentBranchId = b
        val uid = Versioning.createUid(m.rng)
        assert(cat.insertVersion(Registry, lit(false), Map("description" -> s"op$i"))("uid") === uid)
        m.append(uid, b, s"op$i")
      case (Revise(b, pick), i) =>
        cat.currentBranchId = b
        val stems = m.rows.map(r => Versioning.stem(r.uid)).distinct
        val family =
          if (stems.isEmpty) Seq.empty[String]
          else m.rows.map(_.uid).filter(_.startsWith(stems(pick % stems.size))).toSeq
        val got = cat.insertVersion(Registry, col("uid").isin(family: _*), Map("description" -> s"op$i"))
        if (family.isEmpty) m.append(Versioning.createUid(m.rng), b, s"op$i")
        else {
          // the new head is buffered first, then one write demotes the
          // family's other heads: the new head is durable with it
          val stem = Versioning.stem(family.head)
          m.append(stem + Base62.encode(family.map(u => Base62.decode(u.takeRight(4))).max + 1, 4), b, s"op$i")
          m.rows.indices.init.foreach { k =>
            val r = m.rows(k)
            if (Versioning.stem(r.uid) == stem && r.branchId == b) m.rows(k) = r.copy(isLatest = false)
          }
          m.write()
        }
        assert(got("uid") === m.rows.last.uid)
      case (Update(mask, salt), _) =>
        val ids = (1L to 9L).filter(id => ((mask >> (id - 1).toInt) & 1) == 1)
        cat.update(Registry, col("id").isin(ids: _*),
          "description" -> lit(s"d$salt"), "version_tag" -> lit(s"t$salt"))
        m.rows.indices.foreach { k =>
          val r = m.rows(k)
          if (ids.contains(r.id)) m.rows(k) = r.copy(description = s"d$salt", versionTag = s"t$salt")
        }
        m.write()
      case (Flush, _) =>
        cat.flush(Registry)
        if (m.buffered) m.write()
    }

    val got = rowsOf(cat)
    assert(got === m.rows.toSeq, s"table after $c")
    val heads = got.filter(_.isLatest).groupBy(r => (Versioning.stem(r.uid), r.branchId))
    assert(heads.values.forall(_.size == 1), s"two heads in one (stem, branch) after $c")
    assert(TestSpark.manifestVersion(root, Registry) === m.version, s"manifest version after $c")
    assert(rowsOf(Catalog.deterministic(spark, root)) === m.durable, s"reload after $c")
  }

  private def rowsOf(cat: Catalog): Seq[MRow] =
    cat.table(Registry).select("id", "uid", "description", "version_tag", "is_latest", "branch_id")
      .collect().toSeq
      .map(r => MRow(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4), r.getLong(5)))
      .sortBy(_.id)

  test("update and insertVersion match the in-memory model (40 seeded cases)") {
    cases.foreach(run)
  }

  test("a new version's head is durable without a flush") {
    val root = TestSpark.tmpDir("catupd")
    val cat = Catalog.deterministic(spark, root)
    val v1 = cat.insert(Registry, Map("description" -> "v1"))("uid").toString
    cat.flush(Registry)
    val v2 = cat.insertVersion(Registry, col("uid") === v1, Map("description" -> "v2"))("uid")
    // no flush: a process that stops here leaves what a fresh catalog reads
    val heads = rowsOf(Catalog.deterministic(spark, root)).filter(_.isLatest)
    assert(heads.map(_.uid) === Seq(v2))
    assert(TestSpark.manifestVersion(root, Registry) === 2)
  }

  test("update rejects unknown fields without writing") {
    val root = TestSpark.tmpDir("catupd")
    val cat = Catalog.deterministic(spark, root)
    cat.insert(Registry, Map("description" -> "a"))
    cat.flush(Registry)
    intercept[IllegalArgumentException](cat.update(Registry, lit(true), "no_such_field" -> lit(1)))
    assert(TestSpark.manifestVersion(root, Registry) === 1)
  }
}

object CatalogUpdatePropertySpec {
  val Registry = "collection"
  val OtherBranchId = 2L

  final case class MRow(id: Long, uid: String, description: String, versionTag: String,
                        isLatest: Boolean, branchId: Long)

  sealed trait Op
  final case class Insert(branch: Long) extends Op
  final case class NewFamily(branch: Long) extends Op
  /** `insertVersion` into the `pick`-th existing family (a new one when
    * there is none yet).
    */
  final case class Revise(branch: Long, pick: Int) extends Op
  /** `update` of the ids in 1..9 whose bit is set in `mask`; ids past the
    * table's end match nothing.
    */
  final case class Update(mask: Int, salt: Int) extends Op
  case object Flush extends Op

  final case class Case(seed: Long, ops: Seq[Op])
}
