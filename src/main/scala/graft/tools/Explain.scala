package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Plan-audit tool: prints `explain("formatted")` for queries so scan
  * pushdown (`PushedFilters`, `ReadSchema`), broadcast choices, and
  * whole-stage codegen spans can be reviewed.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [queryName ...]
  *   - no query names → all queries
  *   - special name "jsonapi" → the DSv2 source demo with a pushed
  *     updatedAt range filter
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // the sfDir argument is a path; any non-path argument (including a
    // leading "jsonapi") is a query name
    val (dirs, names0) = args.toSeq.partition(_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.001")
    val names = names0
    // the printed plans include the injected optimizer rules' effects
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    if (names.contains("jsonapi")) {
      val df = spark.read.format("graft.sources.JsonApiSource")
        .option("resource", "prospects")
        .option("path", "src/test/resources/jsonapi/prospects").load()
        .filter(col("attributes_updatedAt") >= "2019-06-02")
        .select("id", "attributes_firstName", "attributes_updatedAt")
      println("== jsonapi ==")
      df.show(20, truncate = false)
      df.explain("formatted")

      // TopN pushdown: sort+limit reaches the scan (pushedTopN=...),
      // Spark's TakeOrderedAndProject still merges partitions
      val topn = spark.read.format("graft.sources.JsonApiSource")
        .option("resource", "prospects")
        .option("path", "src/test/resources/jsonapi/prospects").load()
        .select("id", "attributes_updatedAt")
        .orderBy(col("attributes_updatedAt").desc)
        .limit(2)
      println("== jsonapi topN ==")
      topn.explain("formatted")
    }

    val wanted =
      if (names.filterNot(_ == "jsonapi").isEmpty && !names.contains("jsonapi"))
        SparkEntry.queries.keys.toSeq.sorted
      else names.filterNot(_ == "jsonapi")
    wanted.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n== $name ==")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
