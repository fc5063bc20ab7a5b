package graft

/** Plan inspector: `runMain graft.Explain <sfDir> <queryName...>` prints
  * each query's formatted physical plan — the loop used to confirm
  * pushdown (`PushedFilters`/`ReadSchema`), broadcast joins, and
  * whole-stage-codegen coverage before accepting a plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
