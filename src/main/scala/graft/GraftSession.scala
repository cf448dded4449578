package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory with graft's recommended settings:
  * native function extensions, AQE with skew-join handling, UTC session
  * time, and nanos-parquet tolerance. `shufflePartitions` should track
  * the cluster's total cores (locally: the `local[n]` n). Every main and
  * the shared test session build through [[builder]]; `SessionFactorySpec`
  * rejects any other builder call in `src/`. */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()
}
