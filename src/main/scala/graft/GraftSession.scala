package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place a graft session
  * is built. Every entry point (Verify, Bench, RunSync, the tools, the
  * tests) and user code get the same session shape from it.
  */
object GraftSession {

  /** Local session sized to `cores`. It sets:
    *  - master `local[cores]` and app name `appName`;
    *  - `spark.sql.shuffle.partitions` = `cores` (never the 200
    *    default in local mode);
    *  - AQE on, plus `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`:
    *    AQE also sizes post-shuffle partitions inside cached-plan
    *    builds (off by default). The iterative graph/dedup loops pin
    *    |E|-row caches whose 32/64-task fixed layouts were pure
    *    per-task overhead at bench scale; AQE derives the count from
    *    the data instead, at any scale;
    *  - the Spark UI off;
    *  - `spark.hadoop.fs.file.impl` = [[LocalFs]]: `file:` paths set
    *    file modes through java.nio, so sink loads, parquet staging,
    *    index dirs, stream checkpoints and state-store commits run no
    *    `chmod` process per file and dir. Hadoop caches a filesystem
    *    per scheme and user, so this holds when the session is the
    *    first in the JVM to open a `file:` path;
    *  - session time zone UTC and [[Tables.requiredConf]] (nanos
    *    handling), which the testdata needs;
    *  - [[GraftExtensions]]: the graft SQL functions, the optimizer
    *    rules (broadcast demotion, contains-OR collapse) and the AQE
    *    physical rule that plans a small one-partition scan as one
    *    partition;
    *  - log level WARN.
    *
    * A session that already exists in the JVM is returned as is
    * (`getOrCreate`), with only the runtime SQL confs applied.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .withExtensions(new GraftExtensions) // SQL fns + broadcast safety net
    val spark = Tables.requiredConf.foldLeft(
      b.config("spark.sql.session.timeZone", "UTC")
    ) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
