package graft

/** Plan auditor: prints the formatted physical plan of selected (or
  * all) SparkEntry queries. Used to keep the scale claims honest —
  * parquet filter pushdown (PushedFilters), column pruning
  * (ReadSchema), broadcast joins, partial aggregation, and
  * whole-stage codegen coverage are all visible here.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the same session as Bench/Verify, so the audited plans are the
    // plans those surfaces actually execute
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println("unknown query")
      }
    }
    spark.stop()
  }
}
