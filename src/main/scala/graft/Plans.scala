package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (spark_optimization_guide §1.1/§7.2):
  * dumps `.explain("formatted")` for the named SparkEntry queries into
  * <outDir>/<query>_<tag>.txt so plan shapes (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans) can be diffed across
  * optimization work. Streaming gates run their stream as part of building
  * the returned DataFrame; their dumped plan is the final materialization
  * read, which is still the comparable batch surface.
  *
  * usage: Plans <sfDir> <outDir> <tag> [queryName...]   (empty = all)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <sfDir> <outDir> <tag> [query...]")
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only = args.drop(3).toSet
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"[plans] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        } finally Engine.release(spark)
      }
    spark.stop()
  }
}
