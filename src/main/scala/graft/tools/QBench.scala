package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Single-query A/B bench:
  * `runMain graft.tools.QBench q46_simhash [iters] [--profile]`.
  *
  * Same session and noop-sink methodology as [[graft.Bench]], but ONE
  * query in a fresh session: the shared-session Bench run cannot
  * attribute a per-query delta (co-resident queries shift GC and codegen
  * cache state). Use this, through `scripts/ab_bench.sh`, before calling
  * any per-query number a regression or an improvement.
  *
  * One warm-up, then `iters` timed runs, each reported as wall, GC and
  * hypervisor-steal seconds: an outlier whose extra wall ≈ its extra GC
  * is heap pressure, one whose steal spikes is the host throttling the
  * VM, anything else is the plan. The `QBENCH {...}` line is what
  * `ab_bench.sh` parses; keep its format.
  *
  * `--profile` adds one untimed run under a listener and prints one line
  * per Spark job (wall ms, task ms, stages, tasks, shuffle kB, job
  * description), so pin jobs (`pin @ <site>`), AQE stage jobs and the
  * final action are attributed separately; the gap between summed job
  * wall and run wall is driver/planning time.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.nonEmpty && flags.forall(_ == "--profile"),
      "usage: QBench <queryName> [iters] [--profile]")
    val name = pos(0)
    val iters = if (pos.length > 1) pos(1).toInt else 7
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)
    def once(): (Double, Double, Long) = {
      val g0 = Harness.gcMillis(); val s0 = Harness.host()._1
      val dt = Harness.timeNoop(spark)(fn(spark, sfDir))
      (dt, (Harness.gcMillis() - g0) / 1e3, Harness.host()._1 - s0)
    }
    once() // warm-up: codegen + JIT
    val raw = Seq.fill(iters)(once())
    val ts = raw.map(_._1).sorted
    val med = ts(ts.length / 2)
    val itersStr = raw.map { case (t, g, st) => f"[$t%.2f,$g%.2f,$st%d]" }
      .mkString("[", ",", "]")
    println(f"""QBENCH {"query":"$name","median":$med%.3f,"min":${ts.head}%.3f,"max":${ts.last}%.3f,"iters":$iters,"sec_gc_steal":$itersStr,"sf":"$sfDir"}""")
    if (flags.nonEmpty) profile(spark, name, cpus)(fn(spark, sfDir))
    spark.stop()
  }

  private final case class Job(id: Int, t0: Long, desc: String, var t1: Long = 0L,
                               var stages: Int = 0, var taskMs: Long = 0L,
                               var shufR: Long = 0L, var shufW: Long = 0L, var tasks: Int = 0)

  private def profile(spark: org.apache.spark.sql.SparkSession, name: String, cpus: Int)(
      df: => org.apache.spark.sql.DataFrame): Unit = {
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]()
    val stageToJob = new scala.collection.mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = Job(e.jobId, e.time,
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
          j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = Harness.timeNoop(spark)(df)
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain

    println(f"PROFILE $name wall=$wall%.3f s, ${jobs.size} jobs, {${Harness.provenance(cpus)}}")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%9s ${"stages"}%6s ${"tasks"}%6s ${"shufR_kB"}%9s ${"shufW_kB"}%9s  desc")
    jobs.values.foreach { j =>
      val w = if (j.t1 > 0) j.t1 - j.t0 else -1
      println(f"${j.id}%4d $w%8d ${j.taskMs}%9d ${j.stages}%6d ${j.tasks}%6d ${j.shufR / 1024}%9d ${j.shufW / 1024}%9d  ${j.desc.take(60)}")
    }
    val sumW = jobs.values.map(j => if (j.t1 > 0) j.t1 - j.t0 else 0L).sum
    println(f"sum(job wall) = ${sumW / 1000.0}%.3f s of $wall%.3f s wall — gap = driver/planning time")
  }
}
