package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one place that builds a SparkSession: every
  * main and the shared test session go through it, so the session shape
  * (extensions, UTC, nanos-tolerant parquet) cannot drift per harness. */
class SessionFactorySpec extends SparkSpec {

  test("only GraftSession calls the SparkSession builder in src/") {
    val call = "SparkSession" + ".builder()"
    // string literals are not calls: SetupBundle's emitted user
    // templates (stripMargin lines) and specs asserting on them
    val literal = "\"(?:[^\"\\\\]|\\\\.)*\"".r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      f: Path <- files if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("|") && !code.startsWith("*") && !code.startsWith("//")
      if literal.replaceAllIn(code, "").contains(call)
    } yield s"$f:${i + 1}"
    assert(files.nonEmpty)
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }

  test("TestSpark keeps the graft session shape") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sql("SELECT graft_dot(array(1D, 2D), array(3D, 4D))").head().getDouble(0) == 11.0)
  }
}
