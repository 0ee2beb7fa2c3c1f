package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev profiler for registry queries — one tool instead of a throwaway
  * `main` per question:
  *
  *  - `runMain graft.Profile time <name...>` warms each query once, then
  *    times 3 noop-write passes (the Bench loop's shape for one query);
  *  - `runMain graft.Profile jobs <name...>` warms each query once, then
  *    measures one pass with a job listener: wall time, Spark job count,
  *    summed in-job time and the gap (wall − in-job = driver, file-system
  *    and planning time between jobs), followed by every job's id,
  *    duration and call site, and the same grouped by call site. It tells
  *    "many small jobs" (fix: fewer actions) from "slow jobs" (fix: plan
  *    work), and says which jobs come from where;
  *  - `runMain graft.Profile explain <outDir> <tag> <name...>` writes each
  *    query's `explain("formatted")` to `<outDir>/<name>_<tag>.txt` (the
  *    files under `plans/`).
  *
  * `all` in place of the names expands to every registered query. Queries
  * read SPARK_GRAFT_SF_DIR (default sf0.1) on one [[GraftSession.builder]]
  * session (SPARK_GRAFT_CPUS cores) with a temp warehouse. Building some
  * plans runs real work (ingestion queries land tables), hence the
  * warehouse.
  */
object Profile {
  private val usage =
    "usage: graft.Profile time|jobs <name...|all> | explain <outDir> <tag> <name...|all>"

  def main(args: Array[String]): Unit = {
    val (mode, names) = args.toList match {
      case ("time" | "jobs") :: ns if ns.nonEmpty => (args(0), ns)
      case "explain" :: _ :: _ :: ns if ns.nonEmpty => (args(0), ns)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-profile-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobLog = new JobLog
    spark.sparkContext.addSparkListener(jobLog)
    val each: String => Unit = mode match {
      case "time" => name =>
        val ts = warmThen(spark, sfDir, name)(pass => Seq.fill(3)(pass()))
        println(f"[time] $name: ${ts.map(t => f"$t%.2f").mkString(" ")}")
      case "jobs" => name =>
        val (wall, js) = warmThen(spark, sfDir, name)(pass => jobLog.record(pass()))
        printJobs(name, wall, js)
      case "explain" =>
        val outDir = Files.createDirectories(Paths.get(args(1)))
        name => {
          val plan = Registry.byName(name).run(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          Files.writeString(outDir.resolve(s"${name}_${args(2)}.txt"), plan)
          println(s"[explain] wrote $name")
        }
    }
    val all = if (names == List("all")) Registry.all.map(_.name).sorted else names
    try all.foreach { name =>
      try each(name)
      catch { case NonFatal(e) => println(s"[$mode] FAILED $name: ${e.getMessage}") }
    } finally spark.stop()
  }

  /** One untimed noop-write pass of `name` (codegen, footer reads), then
    * `measure` with the timed pass. Noop writes compute every output
    * column, which `count()` would let Catalyst prune.
    */
  private def warmThen[A](spark: SparkSession, sfDir: String, name: String)(
      measure: (() => Double) => A): A = {
    val query = Registry.byName(name)
    def pass(): Double = {
      val t0 = System.nanoTime()
      query.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    measure(() => pass())
  }

  private final case class Job(id: Int, seconds: Double, site: String)

  private def printJobs(name: String, wall: Double, js: Seq[Job]): Unit = {
    val injob = js.map(_.seconds).sum
    println(f"[prof] $name%-34s wall=$wall%6.2f jobs=${js.size}%4d injob=$injob%6.2f gap=${wall - injob}%6.2f")
    js.foreach(j => println(f"[jobs]   #${j.id}%-4d ${j.seconds}%6.3f  ${j.site}"))
    println(s"[jobs] $name by-site:")
    js.groupBy(_.site).toSeq.map { case (site, g) => (site, g.size, g.map(_.seconds).sum) }
      .sortBy(-_._3)
      .foreach { case (site, n, sum) => println(f"[jobs]   n=$n%-3d sum=$sum%6.3f  $site") }
  }

  /** Collects the Spark jobs that finish while [[record]] runs. */
  private final class JobLog extends SparkListener {
    private val starts = new ConcurrentHashMap[Integer, (Long, String)]()
    private val done = new ConcurrentLinkedQueue[Job]()
    @volatile private var recording = false

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // the result stage's name carries the action call site; the
      // earlier stages say WHAT the job computed (broadcast-build jobs
      // all share the CompletableFuture result-stage name)
      val infos = js.stageInfos.sortBy(_.stageId)
      val site = infos.lastOption.map(_.name).getOrElse("?") +
        infos.dropRight(1).map(_.name).distinct.mkString(" <= [", " | ", "]")
      starts.put(js.jobId, (System.nanoTime(), site)); ()
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val v = starts.remove(Integer.valueOf(je.jobId))
      if (v != null && recording)
        done.add(Job(je.jobId, (System.nanoTime() - v._1) / 1e9, v._2)): Unit
    }

    def record[A](body: => A): (A, Seq[Job]) = {
      done.clear(); recording = true
      // listener events are async; a short quiesce keeps counts honest
      val a = try body finally { Thread.sleep(300L); recording = false }
      (a, done.asScala.toSeq.sortBy(_.id))
    }
  }
}
