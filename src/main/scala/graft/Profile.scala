package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** On-demand time attribution for named `SparkEntry.queries`. Tables come
  * from the scale-factor directory in `$SPARK_GRAFT_SF_DIR`.
  *
  *   runMain graft.Profile plans <suffix> <name>[,<name>...]
  *   runMain graft.Profile jobs <name>[,<name>...] */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.headOption match {
      case Some("plans") => profilePlans(dir, args.drop(1))
      case Some("jobs") => profileJobs(dir, args.drop(1))
      case _ =>
        System.err.println("usage: graft.Profile plans <suffix> <name>[,<name>...]" +
          " | jobs <name>[,<name>...]")
        sys.exit(2)
    }
  }

  /** Dump .explain("formatted") of named queries to
    * plans/r16/<name>_<suffix>.txt — before/after plan evidence. */
  def profilePlans(dir: String, args: Array[String]): Unit = {
    val spark = GraftSession()
    val suffix = args.headOption.getOrElse("before")
    val names = args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r16"))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"plans/r16/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plans] wrote plans/r16/${name}_$suffix.txt")
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }

  /** Milliseconds covered by at least one of the (start, end) spans. Jobs
    * of one query can overlap, so summing their durations overcounts. */
  def busyMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Per-JOB wall-time breakdown of named queries at bench
    * parallelism. A SparkListener records every job's submit→end span plus
    * its stage/task counts; busy time is the union of those spans, and the
    * rest of the wall time is spent on the Spark driver (planning,
    * construction-time fits and counts, collect post-processing). Three
    * passes per query, the same releaseAll/gc hygiene as Bench.once, so
    * pass 3 is the quiet-state read; it also lists every job. */
  def profileJobs(dir: String, names: Array[String]): Unit = {
    val spark = GraftSession()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    @volatile var stageTasks = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          js.stageInfos.size))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc, nStages) = jobs.getOrDefault(je.jobId, (je.time, "", 0))
        done.add((je.jobId, t0, je.time, desc, nStages))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageTasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        if (ms >= 300)
          println(f"      stage ${si.stageId}%4d ${ms / 1e3}%7.3fs tasks=${si.numTasks}%-4d ${si.name.take(110)}")
      }
    })
    val targets = names.flatMap(_.split(",")).filter(_.nonEmpty)
    Tables.documents(spark, dir).count() // session warm
    for (name <- targets; pass <- 1 to 3) {
      graft.util.Caches.releaseAll(); System.gc(); Thread.sleep(500)
      done.clear(); jobs.clear(); stageTasks = 0L
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus so late job-end events land (private API —
      // a short sleep is enough for a profiler)
      Thread.sleep(300)
      val js = done.toArray(Array.empty[(Int, Long, Long, String, Int)]).sortBy(_._2)
      val busy = busyMs(js.map(j => (j._2, j._3)).toSeq) / 1e3
      println(f"== $name pass $pass: wall $wall%.2fs, ${js.length} jobs " +
        f"(busy ${busy}%.2fs), driver-gap ${wall - busy}%.2fs, " +
        f"$stageTasks tasks, $n rows")
      if (pass == 3)
        js.foreach { case (id, s, e, desc, nst) =>
          println(f"   job $id%3d ${(e - s) / 1e3}%7.3fs stages=$nst  ${desc.take(90)}")
        }
    }
    spark.stop()
  }
}
