package perfbench

import org.apache.spark.sql.SparkSession

/** Self-test of [[JobTrace]]'s attribution: one SQL action whose plan
  * runs as two jobs under adaptive execution (a shuffle-map stage job and
  * the result job) must count both jobs against the action's own call
  * site, and a second action must get its own site. Exits 1 on failure.
  */
object ListenerCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", args.headOption.getOrElse("."))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jt = new JobTrace
    spark.sparkContext.addSparkListener(jt)
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
      .collect()                                            // action 1
    spark.range(10).selectExpr("sum(id)").collect()         // action 2
    val jobs = jt.snapshot(spark.sparkContext)
    spark.stop()
    val sites = jobs.map(_.rootSite)
    val first = sites.headOption.getOrElse("")
    val firstJobs = sites.count(_ == first)
    val problems = Seq(
      (jobs.size >= 3) -> s"expected >= 3 jobs, saw ${jobs.size}",
      first.contains("ListenerCheck.scala") ->
        s"first action attributed to '$first'",
      (firstJobs >= 2) -> s"first action has $firstJobs job(s), expected 2+",
      (sites.distinct.size == 2) -> s"expected 2 call sites, saw ${sites.distinct}"
    ).collect { case (false, msg) => msg }
    jobs.foreach(j => println(s"job ${j.jobId} tasks=${j.tasks} site=${j.rootSite}"))
    if (problems.nonEmpty) {
      problems.foreach(p => println(s"FAIL $p"))
      sys.exit(1)
    }
    println("PASS listener attributes AQE sub-jobs to their root call site")
  }
}
