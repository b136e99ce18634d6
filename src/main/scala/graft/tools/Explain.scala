package graft.tools

/** Prints formatted physical plans of selected queries — the plan-review
  * loop: confirm filters reach the parquet scan (PushedFilters), schemas
  * are pruned (ReadSchema), small sides broadcast, codegen spans are wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_tpch_agg", "q04_fk_traversal", "q11_eav_filter")
    // SPARK_GRAFT_CPUS like the bench, so width decisions (spread targets,
    // shuffle partitions) in the dumped plans match the bench's session
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    // the four simhash drills explain their SIGNATURE frame through the one
    // signature builder — the persist/self-join machinery behind the
    // candidates is checkpoint-fenced and explains as Scan ExistingRDD
    import graft.ext.Dedup.SimhashFamily._
    val simhashDrills = Map("d06_simhash" -> Fast64, "d10_simhash_portable" -> Portable60,
      "d28_simhash128_portable" -> Portable120, "d34_simhash128" -> Fast128)
    names.foreach { n =>
      println(s"===== $n =====")
      simhashDrills.get(n) match {
        case Some(fam) =>
          graft.ext.Dedup.simhashSignature(fam,
            graft.queries.TextQueries.corpusWithNearDups(spark, sfDir), "doc_id", "text")
            .explain("formatted")
        case None =>
          graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
