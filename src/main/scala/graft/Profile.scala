package graft

import org.apache.spark.sql.execution.FormattedMode

/** The profiling main, on the tables in `SPARK_GRAFT_SF_DIR` (required)
  * with [[Bench]]'s session shape (`local[SPARK_GRAFT_CPUS]`):
  *
  *  - `runMain graft.Profile time <query> [query...]`: one untimed
  *    warm-up, then three timed noop-sink runs ([[Bench.runOnce]]) per
  *    query; prints the minimum and the median seconds. Timing one query
  *    alone isolates it from the whole-bench JVM's shuffles and GC.
  *  - `runMain graft.Profile plan [query...]`: each query's formatted
  *    physical plan (exchanges, reuse, codegen spans, pushdown); with no
  *    names, every [[Bench.headline]] query.
  *
  * Per-layer numbers (build vs execution seconds, jobs, busy
  * fraction, cached RDDs left) come from the traced `perfbench` run. */
object Profile {
  private val Usage = "usage: Profile time <query> [query...] | plan [query...]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR; $Usage"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val names = args.tail.toSeq
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.head match {
      case "time" =>
        require(names.nonEmpty, Usage)
        for (name <- names) {
          Bench.runOnce(spark, sfDir, name) // warm-up
          val ts = Seq.fill(3)(Bench.runOnce(spark, sfDir, name)).sorted
          println(f"[time] $name min=${ts.head}%.3f med=${ts(1)}%.3f " +
            s"($sfDir, local[$cpus])")
        }
      case "plan" =>
        for (name <- if (names.isEmpty) Bench.headline else names) {
          println(s"==== $name ====")
          println(SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode))
        }
      case mode => throw new IllegalArgumentException(s"unknown mode '$mode'; $Usage")
    } finally spark.stop()
  }
}
