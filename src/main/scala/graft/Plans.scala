package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print formatted physical plans for selected catalog queries
  * — used to audit pushdown (PushedFilters/ReadSchema), join strategies
  * (broadcast vs shuffle) and WholeStageCodegen coverage.
  * Usage: runMain graft.Plans <sfDir> [queryName ...]
  * With SPARK_GRAFT_PLANS_OUT=<dir> set, each query's formatted plan is
  * additionally written to <dir>/<name><SPARK_GRAFT_PLANS_SUFFIX>.txt
  * (suffix default "" — the r14 optimization round writes _before/_after
  * pairs). Covers benchExtras and benchUntimed too (the bench-only
  * variants).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_cosine_topk", "q_hybrid", "q_graph_topology", "q_dedup_lsh_pairs")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.get("SPARK_GRAFT_PLANS_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "")
    val all = SparkEntry.queries ++ SparkEntry.benchExtras ++ SparkEntry.benchUntimed
    names.foreach { n =>
      all.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        val df =
          try fn(spark, sfDir)
          catch {
            case t: Throwable =>
              System.err.println(s"[plans] $n failed to build: ${t.getMessage}")
              null
          }
        if (df != null) {
          df.explain("formatted")
          outDir.foreach { d =>
            // a missing/typo'd output dir must not abort the remaining
            // queries mid-loop (ADVICE r14): create it, and degrade a
            // write failure to a stderr note like plan construction does
            try {
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
              val w = new java.io.PrintWriter(s"$d/$n$suffix.txt", "UTF-8")
              try w.println(df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
              finally w.close()
            } catch {
              case t: Throwable =>
                System.err.println(s"[plans] $n plan write failed: ${t.getMessage}")
            }
          }
        }
      }
    }
    spark.stop()
  }
}
