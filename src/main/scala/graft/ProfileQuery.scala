package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBus
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool (r15 optimization round): per-query cost breakdown the bench
  * total can't show — DataFrame build time, plan time, execution time,
  * and the job/stage/task counts that reveal per-job scheduling overhead
  * vs genuine compute. Shares Bench's warm-up and materializer (toRdd.count
  * with the trailing global sort stripped) so numbers are comparable; the
  * last pass of each query also lists its 15 slowest jobs.
  *
  * Usage: runMain graft.ProfileQuery [sfDir] [passes] [queryName...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q1_pricing_summary")
    val spark = Session.local()
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDurs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobInfo.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("callSite.short")).getOrElse("?")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val info = jobInfo.remove(j.jobId)
        if (info != null)
          jobDurs.add((j.jobId, (System.nanoTime() - info._1) / 1e9, info._2))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
      }
    })
    Bench.warmUp(spark, sfDir)
    // the counters are read after each pass; the bus delivers late
    ListenerBus.drain(spark.sparkContext)
    println(f"${"query"}%-28s pass  build_s  plan_s  exec_s  jobs stages tasks task_cpu_s")
    for (n <- names; p <- 1 to passes) {
      val fn = SparkEntry.queries(n)
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0)
      jobDurs.clear()
      val t0 = System.nanoTime()
      val df = Bench.withoutTrailingSort(spark, fn(spark, sfDir))
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      qe.executedPlan // force planning
      val t2 = System.nanoTime()
      qe.toRdd.count()
      val t3 = System.nanoTime()
      ListenerBus.drain(spark.sparkContext)
      // note: build may itself run jobs (counts/collect-driven queries);
      // those are charged to build_s and included in the job counts.
      println(f"$n%-28s $p%4d  ${(t1 - t0) / 1e9}%7.3f ${(t2 - t1) / 1e9}%7.3f ${(t3 - t2) / 1e9}%7.3f  ${jobs.get}%4d ${stages.get}%6d ${tasks.get}%5d ${taskNanos.get / 1e9}%9.3f")
      if (p == passes) {
        import scala.jdk.CollectionConverters._
        jobDurs.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (id, d, cs) =>
          println(f"    job $id%4d ${d}%8.3f s  $cs")
        }
      }
    }
    spark.stop()
  }
}
