package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev profiler (guide §1): decompose one query's wall-clock into its
  * Spark JOBS — count, per-job wall time, task-time sum, shuffle bytes —
  * so an entry that runs a driver loop (ingestion folds, training
  * rounds) shows where its seconds actually go: per-action job floor vs
  * task compute vs shuffle. Usage:
  *   runMain graft.tools.JobProfile <sfDir> <reps> <query>...
  * Reported per rep: total wall, job count, sum of job wall, and the
  * top jobs by wall time with their stage/task/shuffle numbers.
  */
object JobProfile {
  private class Agg extends SparkListener {
    case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
                 var stages: Int = 0, var tasks: Int = 0,
                 var taskTimeMs: Long = 0L, var cpuMs: Long = 0L,
                 var gcMs: Long = 0L, var shufReadB: Long = 0L,
                 var shufWriteB: Long = 0L, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    // SQL execution id → description: AQE submits each query stage as
    // its own job from a thread pool that does NOT carry the caller's
    // job-description property, so anonymous stage jobs are attributed
    // through their execution's description instead.
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execDesc.put(e.executionId, Option(e.description).getOrElse(""))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = J(e.jobId, t0 = e.time)
      val props = Option(e.properties)
      j.desc = props
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong))))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      j.stages = e.stageIds.size
      jobs.put(e.jobId, j)
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      // one lookup: an unknown stage must DROP the event, not unbox null
      // to job id 0 (ADVICE r16), and a separate containsKey would race
      // with reset()
      val jid = stageToJob.get(e.stageId)
      if (jid == null) return
      Option(jobs.get(jid)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.taskMetrics != null) {
            j.taskTimeMs += e.taskMetrics.executorRunTime
            j.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
            j.gcMs += e.taskMetrics.jvmGCTime
            j.shufReadB += e.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufWriteB += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
    def reset(): Unit = { jobs.clear(); stageToJob.clear() }
    def report(topN: Int): String = {
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val totalWall = js.map(j => math.max(0L, j.t1 - j.t0)).sum
      val sb = new StringBuilder
      sb.append(f"  jobs=${js.size} jobWallSum=${totalWall / 1e3}%.2fs " +
        f"taskTimeSum=${js.map(_.taskTimeMs).sum / 1e3}%.2fs " +
        f"cpuSum=${js.map(_.cpuMs).sum / 1e3}%.2fs " +
        f"gcSum=${js.map(_.gcMs).sum / 1e3}%.2fs " +
        f"shufRead=${js.map(_.shufReadB).sum / 1e6}%.1fMB " +
        f"shufWrite=${js.map(_.shufWriteB).sum / 1e6}%.1fMB\n")
      // skip never-ended jobs in the listing (t1=0 would print a huge
      // negative wall — ADVICE r16)
      js.filter(_.t1 > 0).sortBy(j => -(j.t1 - j.t0)).take(topN).foreach { j =>
        sb.append(f"    job${j.id}%4d ${(j.t1 - j.t0) / 1e3}%6.2fs " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"taskTime=${j.taskTimeMs / 1e3}%6.2fs " +
          f"sr=${j.shufReadB / 1e3}%8.0fkB sw=${j.shufWriteB / 1e3}%8.0fkB " +
          s"${j.desc.take(72)}\n")
      }
      sb.toString
    }
    /** Aggregate by job description — attributes the fold loops' many
      * small jobs to their labeled phases (guide §1.5).
      */
    def byDesc(): String = {
      import scala.jdk.CollectionConverters._
      val sb = new StringBuilder
      jobs.values.asScala.toSeq.groupBy(_.desc)
        .map { case (d, js) =>
          (d, js.size, js.map(j => math.max(0L, j.t1 - j.t0)).sum,
            js.map(_.taskTimeMs).sum, js.map(_.tasks).sum)
        }.toSeq.sortBy(-_._3).foreach { case (d, n, wall, tt, tasks) =>
          sb.append(f"    n=$n%3d wall=${wall / 1e3}%6.2fs " +
            f"taskTime=${tt / 1e3}%7.2fs tasks=$tasks%5d  ${d.take(80)}\n")
        }
      sb.toString
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // AQE right-sizing (guide §2.2): honor the advisory partition
      // size when coalescing instead of pinning every reduce stage at
      // the core count — tiny intermediate shuffles collapse to one
      // task; corpus-sized ones stay advisory-sized (64 MB default), so
      // at 100 TB nothing coalesces below the cluster's parallelism.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val agg = new Agg
    spark.sparkContext.addSparkListener(agg)
    // validate names up front so a typo fails before an hour of reps
    // (ADVICE r16)
    names.foreach { n =>
      require(graft.SparkEntry.queries.contains(n), s"unknown query: $n")
    }
    for (name <- names) {
      // warm rep (store builds, codegen) — not profiled
      try graft.SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable => println(s"[profile] $name WARM FAILED: $e") }
      for (r <- 1 to reps) {
        // drain straggler listener events from the previous rep BEFORE
        // reset, not only after the timed rep (ADVICE r16)
        Thread.sleep(500)
        agg.reset()
        val t0 = System.nanoTime()
        try {
          val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus drains asynchronously; give it a beat
          Thread.sleep(500)
          println(f"[profile] $name rep$r wall=$wall%.2fs rows=$n")
          println(agg.report(topN = 15))
          println(agg.byDesc())
        } catch { // one failing query must not abort the rest (ADVICE r16)
          case e: Throwable => println(s"[profile] $name rep$r FAILED: $e")
        }
      }
    }
    spark.stop()
  }
}
