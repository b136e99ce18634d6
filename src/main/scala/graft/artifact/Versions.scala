package graft.artifact

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Base62, Versioning}

/** Version-family maintenance (`lamindb/models/_is_versioned.py`).
  *
  * A versioned uid is a 16-char stem + 4-char base62 suffix; per (stem,
  * branch) exactly one row is the `is_latest` head. Recomputing heads is a
  * single window pass — `reconcile_is_latest_within_branch`
  * (`_is_versioned.py:271-338`) re-expressed declaratively.
  */
object Versions {

  /** base62 suffix decode as a pure Column expression (no UDF, stays in
    * codegen): positional fold over the 4 chars. The alphabet is
    * `0-9 < A-Z < a-z`; never rely on string collation
    * (`_is_versioned.py:195-212` documents the Postgres `Z < a` trap).
    */
  def base62Value(c: Column): Column = {
    val alphabet = Base62.Alphabet
    // split(c, "") in Spark yields a trailing "" element (Java split with
    // limit -1); instr(alphabet, "") is 1, so an unfiltered fold would
    // append digit 0 and multiply every decoded value by 62
    aggregate(
      transform(filter(split(c, ""), ch => length(ch) > 0),
        ch => instr(lit(alphabet), ch) - 1),
      lit(0L),
      (acc, x) => acc * 62 + x)
  }

  def suffixValue(uidCol: Column): Column = base62Value(substring(uidCol, -4, 4))

  /** Recompute `is_latest` heads: one head per (stem, branch), the row
    * with the max base62-decoded version suffix.
    */
  def recomputeIsLatest(df: DataFrame, uidCol: String = "uid",
                        branchCol: String = "branch_id"): DataFrame = {
    val w = Window.partitionBy(Versioning.stem(col(uidCol)), col(branchCol))
      .orderBy(suffixValue(col(uidCol)).desc)
    df.withColumn("is_latest", row_number().over(w) === 1)
  }

  /** Generic head-marking for an arbitrary (family, version) pair — same
    * window shape with caller-chosen columns.
    */
  def markLatest(df: DataFrame, familyCol: Column, versionCol: Column,
                 out: String = "is_latest"): DataFrame = {
    val w = Window.partitionBy(familyCol).orderBy(versionCol.desc)
    df.withColumn(out, row_number().over(w) === 1)
  }
}
