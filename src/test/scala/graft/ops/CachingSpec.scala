package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.JobExecutionStatus
import org.apache.spark.storage.StorageLevel

class CachingSpec extends SparkSpec {
  import spark.implicits._

  test("CheckpointWindow.release drops trailing cached rounds, keeps the kept frame") {
    val win = new Caching.CheckpointWindow(every = 10) // never checkpoints here
    var df = (0 until 20).toDF("x")
    val rounds = (1 to 3).map { _ =>
      df = win.advance(df.withColumn("x", col("x") + 1)); df
    }
    assert(rounds.forall(_.storageLevel != StorageLevel.NONE),
      "rounds inside the window are lazily cached")
    win.release(rounds.last)
    assert(rounds.init.forall(_.storageLevel == StorageLevel.NONE),
      "superseded rounds must be unpersisted by release()")
    assert(rounds.last.storageLevel != StorageLevel.NONE,
      "the kept frame's cache must survive")
    // the kept frame still evaluates correctly after ancestors released
    assert(rounds.last.agg(sum("x")).as[Long].head() == (0 until 20).map(_ + 3).sum)
    win.release(null) // nothing outlives: drop the kept frame too
    assert(rounds.last.storageLevel == StorageLevel.NONE)
  }

  /** Jobs `body` ran. Listener events arrive in order, so once a fence
    * job submitted after `body` shows as finished in the status store,
    * every job of `body` is recorded there too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-fence", "fence")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    def fenced = sc.statusTracker.getJobIdsForGroup(s"$group-fence")
      .flatMap(sc.statusTracker.getJobInfo(_))
      .exists(_.status == JobExecutionStatus.SUCCEEDED)
    val deadline = System.nanoTime() + 10000000000L
    while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("ensureCachedAll: equivalent frames share one cache, built by one action") {
    val base = (0 until 50).toDF("x")
    val a = base.filter(col("x") > 10)
    val a2 = base.filter(col("x") > 10) // equivalent plan, distinct Dataset
    val b = base.filter(col("x") < 5)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val together = jobsOf(Caching.ensureCachedAll(Seq(a, a2, b)))
    assert(sc.getPersistentRDDs.keys.count(!before(_)) == 2, "one cache per distinct plan")
    assert(Seq(a, a2, b).forall(_.storageLevel != StorageLevel.NONE))
    // AQE builds each cache as its own query stage, so "one action" is
    // caches + the count's own jobs — fewer than a count per frame
    val (c, d) = (base.filter(col("x") > 20), base.filter(col("x") < 3))
    val apart = jobsOf(Seq(c, d).foreach(Caching.ensureCached))
    assert(together < apart, s"ensureCachedAll ran $together jobs, per-frame counts $apart")
    Seq(a, b, c, d).foreach(_.unpersist(true))
  }

  test("release(null) after a checkpointed round leaves the checkpoint usable") {
    val win = new Caching.CheckpointWindow(every = 2)
    var df = (0 until 10).toDF("x")
    df = win.advance(df.withColumn("x", col("x") * 2)) // cached
    df = win.advance(df.withColumn("x", col("x") + 1)) // checkpointed (2nd)
    val kept = df
    win.release(kept) // no trailing cached rounds; must not touch the cp
    assert(kept.agg(sum("x")).as[Long].head() == (0 until 10).map(_ * 2 + 1).sum)
  }
}
