package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GroupCountersSpec extends AnyFunSuite {
  test("work is attributed to the job group that submitted it") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    val c = new GroupCounters
    sc.addSparkListener(c)
    try {
      sc.setJobGroup("g1", "one job, 3 tasks")
      sc.parallelize(1 to 30, 3).map(_ * 2).count()
      sc.setJobGroup("g2", "two jobs, one with a shuffle")
      sc.parallelize(1 to 40, 4).count()
      sc.parallelize(1 to 40, 4).map(i => (i % 5, i)).reduceByKey(_ + _, 2)
        .collect()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 5).count() // no group: not counted
      val g1 = c.take(sc, "g1")
      val g2 = c.take(sc, "g2")
      assert(g1.jobs == 1 && g1.stages == 1 && g1.tasks == 3)
      assert(g1.shuffleBytes == 0)
      assert(g2.jobs == 2 && g2.stages == 3 && g2.tasks == 4 + 4 + 2)
      assert(g2.shuffleBytes > 0)
      // taking a group removes it
      assert(c.take(sc, "g1") == Work())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(c)
    }
  }

  test("a query run under tracing reports its phases' work") {
    val spark = TestSession.spark
    val c = new GroupCounters
    spark.sparkContext.addSparkListener(c)
    try {
      import spark.implicits._
      val df = (1 to 1000).toDF("x").repartition(4)
      val sink = Digest.frame(df.groupBy($"x" % 7).count())
      spark.sparkContext.setJobGroup("t/exec.run", "exec")
      sink.collect()
      spark.sparkContext.clearJobGroup()
      val w = c.take(spark.sparkContext, "t/exec.run")
      assert(w.jobs >= 1 && w.tasks >= 1 && w.shuffleBytes > 0)
      val (exchanges, _) = QueryOp.planShape(sink.queryExecution.executedPlan)
      assert(exchanges >= 2)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
