package graft.tools

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.core.GraftSession

/** Plan inspector: prints the formatted physical plan of one or all
  * declared queries — the iterate-on-the-plan loop (PushedFilters
  * reach the scan? WholeStageCodegen spans wide? broadcasts where
  * expected?).
  *
  * usage: runMain graft.tools.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = args.lift(1)
    val spark = GraftSession.local(appName = "graft-explain")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_ == n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
