package graft

import org.apache.spark.scheduler._

/** Per-job / per-stage attribution for the optimization rounds:
  * `runMain graft.JobProf <reps> <query>` — runs the named query's BENCH
  * form with the noop sink and prints, for each rep, every Spark job's
  * wall-clock time and every stage's task count + summed task time, so a
  * multi-job query (iterative loops, gates with eager sub-steps, store
  * writes) can be attributed without the UI. Reads SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS like Bench; measurement tooling only — never runs
  * inside Bench or Verify.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val name = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus.toInt)

    case class JobRec(id: Int, t0: Long, var t1: Long = -1L)
    case class StageRec(id: Int, name: String, var nTasks: Int = 0,
      var taskNanos: Long = 0L, var wall0: Long = -1L, var wall1: Long = -1L)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, JobRec]()
    val stages = new scala.collection.mutable.LinkedHashMap[Int, StageRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = JobRec(e.jobId, System.nanoTime())
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.t1 = System.nanoTime())
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        stages(e.stageInfo.stageId) =
          StageRec(e.stageInfo.stageId, e.stageInfo.name, wall0 = System.nanoTime())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stages.get(e.stageInfo.stageId).foreach(_.wall1 = System.nanoTime())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stages.get(e.stageId).foreach { s =>
          s.nTasks += 1
          if (e.taskInfo != null) s.taskNanos += (e.taskInfo.duration * 1000000L)
        }
      }
    })

    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val fn = SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))
    for (rep <- 1 to reps) {
      jobs.synchronized { jobs.clear(); stages.clear() }
      val t0 = System.nanoTime()
      exec(fn(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[prof] === $name rep $rep total $total%.3f s ===")
      jobs.synchronized {
        jobs.values.foreach { j =>
          val d = if (j.t1 < 0) Double.NaN else (j.t1 - j.t0) / 1e9
          println(f"[prof] job ${j.id}%4d wall $d%7.3f s")
        }
        stages.values.foreach { s =>
          val wall = if (s.wall1 < 0) Double.NaN else (s.wall1 - s.wall0) / 1e9
          println(f"[prof] stage ${s.id}%4d wall $wall%7.3f s tasks ${s.nTasks}%4d taskSum ${s.taskNanos / 1e9}%7.3f s  ${s.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
