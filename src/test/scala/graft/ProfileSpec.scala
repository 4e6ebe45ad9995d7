package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiling recorder is exact: it waits for the listener bus to
  * deliver an action's events, however late they arrive, instead of
  * sleeping for a while and reading whatever has come. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("the drain waits on events, not time: a slow listener ahead of the profile loses no job") {
    // a global sort: a sampling job, a shuffle-map stage and the result;
    // run once first, so the recorded run's jobs follow each other closer
    // than the listener's delay
    def sort(): Unit = spark.range(0, 10000, 1, 4).orderBy(col("id").desc).collect()
    sort()
    // every listener added to the context shares one queue, called in
    // order: this one holds each job-start event ~300 ms before the
    // profile (added after it) sees it
    val slow = new Profile {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Thread.sleep(300)
        super.onJobStart(e)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(slow)
    val group = "profile-spec-drain"
    try {
      val p = Profile.record(spark) {
        sc.setJobGroup(group, "one multi-job action")
        try sort() finally sc.clearJobGroup()
      }
      // the status tracker listens on its own queue, which the slow
      // listener does not hold up; the drain covered it too
      val expected = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
      assert(expected.size >= 2, expected)
      assert(p.jobs.map(_.id).sorted == expected)
      assert(p.jobs.forall(_.group.contains(group)))
      assert(slow.jobs.map(_.id).sorted == expected)
      // action callbacks ride the same bus
      assert(p.actions.map(_.name) == Seq("collect"), p.actions)
    } finally sc.removeSparkListener(slow)
  }

  test("the plan shape counts exchanges, joins and scans of the final plan") {
    import spark.implicits._
    val big = spark.range(0, 2000, 1, 4).select((col("id") % 50).as("k"))
    val dim = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val p = Profile.record(spark) {
      big.join(dim, "k").groupBy("name").count().collect()
    }
    assert(p.actions.size == 1)
    val shape = p.plan
    assert(shape("bhj") == 1 && shape("smj") == 0, shape)
    assert(shape("exchanges") >= 1 && shape("file_scans") == 0, shape)
    assert(p.layers("spark.jobs") >= 1 && p.layers("spark.tasks") >= 4, p.layers)
  }
}
