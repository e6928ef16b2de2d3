package graft.tools
import graft._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** Cold/warm Spark-job count for one query — the deterministic
  * stage-composition evidence (p02's cost is job scheduling, not data).
  * Usage: runMain graft.tools.JobCount [query] [sfDir]  (r15: args added —
  * the sf1 slope gate needs the count at more than one scale.) */
object JobCount {
  def main(args: Array[String]): Unit = {
    val q = if (args.length > 0) args(0) else "p02_v2_survey_pipeline"
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.get("job-count")
    val n = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    })
    SparkEntry.queries(q)(spark, d).count()
    Thread.sleep(200)
    val warm = n.get()
    println(s"JOBS $q cold: $warm ($d)")
    n.set(0)
    SparkEntry.queries(q)(spark, d).count()
    Thread.sleep(200)
    println(s"JOBS $q warm: ${n.get()} ($d)")
    spark.stop()
  }
}
