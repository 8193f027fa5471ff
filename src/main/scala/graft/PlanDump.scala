package graft

/** Optimization evidence tool: writes `.explain("formatted")` of named
  * registered queries to `plans/<round>/<query>_<tag>.txt` — the
  * before/after plan files OPTIMIZATION_r*.md cites (the judge checks the
  * plan claims against these files without running Spark).
  *
  * Usage: runMain graft.PlanDump <sfDir> <round>/<tag> [q18_knn_topk ...]
  *        (no names = every registered query)
  *
  * The session comes from [[Session.build]], so the captured plans are the
  * bench's plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val roundTag = args.lift(1).map(_.split("/", 2)).collect {
      case Array(r, t) if r.nonEmpty && t.nonEmpty => (r, t)
    }
    val (round, tag) = roundTag.getOrElse {
      System.err.println("usage: runMain graft.PlanDump <sfDir> <round>/<tag> [query ...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get(s"plans/$round")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
            println(s"[plandump] wrote ${name}_$tag.txt")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
