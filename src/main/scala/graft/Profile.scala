package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1): per
  * query, after one untimed warm-up, reports min-of-3 wall seconds plus
  * the job/stage/task counts and shuffle bytes of ONE cold run — the
  * fixed-overhead profile that dominates demo-scale wall time and the
  * shuffle profile that dominates at 100 TB. Pure read-only
  * instrumentation over the same SparkEntry registry the bench runs;
  * never part of the driver contract.
  *
  * Usage: Profile <sfDir> [query1,query2,...]   (default: all queries)
  * Output: one TSV line per query on stdout —
  *   name  wallMinSec  jobs  stages  tasks  shuffleWriteMB  warmSec
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("graft-profile", cpus)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleWrite = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    println("name\twall_min_s\tjobs\tstages\ttasks\tshuffle_mb\twarm_s")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"profile: $name")
          val w0 = System.nanoTime()
          // a query that fails its warm-up is SKIPPED (r19 ADVICE): the
          // timed runs below are unguarded by design (a failure there is
          // a measurement bug worth crashing on), so proceeding after a
          // failed warm-up would abort profiling of every later query
          val warmFailed =
            try { fn(spark, sfDir).count(); false }
            catch { case e: Throwable =>
              System.err.println(
                s"[profile] $name warmup FAILED, skipping: ${e.getMessage}")
              true
            }
          if (warmFailed) {
            spark.sparkContext.setJobDescription(null)
          } else {
          val warm = (System.nanoTime() - w0) / 1e9
          // settle listener events from the warm-up before counting
          // (the bus is async and private[spark]; a short sleep is
          // accurate enough for whole-query job/stage counts)
          Thread.sleep(300)
          jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0L)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val first = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          val (j, st, tk, sw) =
            (jobs.get(), stages.get(), tasks.get(), shuffleWrite.get())
          val rest = (1 to 2).map { _ =>
            val r0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - r0) / 1e9
          }
          val best = (first +: rest).min
          println(f"$name\t$best%.3f\t$j\t$st\t$tk\t${sw / 1e6}%.1f\t$warm%.3f")
          }
      }
    }
    spark.stop()
  }
}

/** Job-by-job accounting of one query execution (VERDICT r19 #3: a
  * per-job table distinguishing contract-required sink jobs from
  * avoidable ones). Runs the named queries once untimed (warm-up:
  * memoized index builds, codegen, listing), then once instrumented,
  * printing one line per Spark JOB with its call site and description —
  * the decomposition evidence `plans/` carries for eagerly-executing
  * operators, where a single final `explain` cannot show the per-batch
  * work. Read-only instrumentation; never part of the driver contract.
  *
  * Usage: ProfileJobs <sfDir> <query1[,query2,...]>
  * Output per job: idx  tasks  shuffleWriteKB  description|callSite
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    require(args.length > 1, "usage: ProfileJobs <sfDir> <q1[,q2,...]>")
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("graft-profile-jobs", cpus)

    final case class JobRec(desc: String, stageIds: Seq[Int])
    val jobsSeen =
      new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val jobOrder = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val stageToJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val taskCount =
      new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    val shuffleKb =
      new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the result stage's NAME is the action's call site ("parquet
        // at DocsStream.scala:167", "count at Profile.scala:…") — the
        // per-job attribution the decomposition table needs; the other
        // stage names show which shuffle subtrees the job ran
        val names = j.stageInfos.map(_.name).distinct
          .filterNot(_.startsWith("$anonfun$withThreadLocalCaptured"))
        val site = names.lastOption.getOrElse("(aqe/broadcast stage)")
        // the SQL execution id groups AQE stage-jobs and broadcast
        // builds under the ACTION that spawned them — the unit a
        // decomposition table reasons about (one write/collect each)
        val execId = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        jobsSeen.put(j.jobId, JobRec(s"exec=$execId\t$site",
          j.stageIds.toSeq))
        jobOrder.add(j.jobId)
        j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(t.stageId, -1)
        taskCount.computeIfAbsent(jid, _ => new AtomicInteger(0))
          .incrementAndGet()
        val m = t.taskMetrics
        if (m != null)
          shuffleKb.computeIfAbsent(jid, _ => new AtomicLong(0L))
            .addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile-jobs] unknown: $name")
        case Some(fn) =>
          // warm-up (memoized builds etc.); a query that fails it is
          // skipped, the Profile.main stance
          val warmFailed =
            try { fn(spark, sfDir).count(); false }
            catch { case e: Throwable =>
              System.err.println(
                s"[profile-jobs] $name warmup FAILED, skipping: " +
                  e.getMessage)
              true
            }
          if (!warmFailed) {
            Thread.sleep(300)
            jobsSeen.clear(); jobOrder.clear(); stageToJob.clear()
            taskCount.clear(); shuffleKb.clear()
            // NO setJobDescription here: the description property would
            // mask each job's own call site, which is the whole point
            spark.sparkContext.addSparkListener(listener)
            fn(spark, sfDir).count()
            Thread.sleep(500)              // drain the async listener bus
            spark.sparkContext.removeSparkListener(listener)
            println(s"== $name: ${jobOrder.size} jobs ==")
            println("idx\ttasks\tshuffle_kb\tdescription | call site")
            jobOrder.toArray(Array.empty[Integer]).zipWithIndex.foreach {
              case (jid, idx) =>
                val rec = jobsSeen.get(jid.intValue())
                val tk = Option(taskCount.get(jid.intValue()))
                  .map(_.get()).getOrElse(0)
                val kb = Option(shuffleKb.get(jid.intValue()))
                  .map(_.get() / 1024).getOrElse(0L)
                println(s"$idx\t$tk\t$kb\t${rec.desc}")
            }
          }
      }
    }
    spark.stop()
  }
}
