package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, started by `perfbench/run.py`.
  *
  * {{{
  * Main run <workload> <seed> <seconds> <trace 0|1> <root> <python> <benchDir> <cpus>
  * Main generate <root> <cpus> <workload:seed:dir>...
  * }}}
  *
  * `run` sets up the workload (session start, inputs generated three
  * times in fresh directories, oracles, one warm-up pass), then runs
  * closed-loop passes from this one thread until `seconds` of pass time
  * are spent (at least one pass), checking every pass. With trace = 1
  * the first half runs untraced and the second half with the job
  * listener attached, so the two halves give the tracing overhead. Everything recorded goes to
  * `<root>/result.json`; run.py turns it into metrics.
  *
  * `generate` only writes inputs (the determinism test's entry point).
  */
object Main {
  val SetupReps = 3
  /** Start no further pass after this much wall time, whatever `seconds`. */
  val WallCapS = 90.0

  def session(root: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: w :: seed :: secs :: trace :: root :: py :: bench :: cpus :: Nil =>
      run(w, seed.toLong, secs.toDouble, trace == "1", root, py, bench, cpus.toInt)
    case "generate" :: root :: cpus :: specs =>
      val spark = session(root, cpus.toInt)
      try specs.foreach { spec =>
        val Array(w, seed, dir) = spec.split(":", 3)
        val c = new Ctx(spark, new Tracer(spark), root, seed.toLong, "", "")
        Workload(w, c).generate(dir)
      } finally spark.stop()
    case _ =>
      System.err.println("usage: Main run|generate ... (see perfbench/run.py)")
      sys.exit(2)
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, python: String, benchDir: String, cpus: Int): Unit = {
    val wall0 = System.nanoTime()
    def wall: Double = (System.nanoTime() - wall0) / 1e9
    var spark: SparkSession = null
    val sessionS = timed { spark = session(root, cpus) }
    val t = new Tracer(spark)
    val c = new Ctx(spark, t, root, seed, python, benchDir)
    Files.createDirectories(Paths.get(c.opsRoot))
    Files.createDirectories(Paths.get(c.evidenceRoot))
    val w = Workload(name, c)

    // setup: inputs made SetupReps times, each in a fresh directory; the
    // earlier copies are deleted so only the last one is ever read
    val genS = (1 to SetupReps).map { i =>
      val s = timed(w.generate(s"$root/inputs/$i"))
      if (i > 1) Gen.rmrf(s"$root/inputs/${i - 1}")
      s
    }
    val prepareS = timed(t.oracle(w.prepare()))
    t.pass = 0
    val warmS = timed(w.pass())
    w.cleanup()

    val rt = Runtime.getRuntime
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    val heapMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    def phase(budget: Double): Unit = {
      var spent = 0.0
      var n = 0
      while (n == 0 || (spent < budget && wall < WallCapS)) {
        n += 1
        t.pass += 1
        val t0 = t.now()
        t.span("pass")(w.pass())
        val t1 = t.now()
        spent += t1 - t0
        passes += Json.obj("pass" -> t.pass.toString, "t0" -> Json.num(t0),
          "t1" -> Json.num(t1), "traced" -> t.traced.toString)
        w.check()
        w.cleanup()
        // twice, so references the context cleaner drops after the first
        // collection (checkpointed blocks, broadcasts) are gone too
        System.gc()
        Thread.sleep(100)
        System.gc()
        heapMb += (rt.totalMemory() - rt.freeMemory()) / 1e6
      }
    }

    val listener = new JobTrace(t)
    var listenerJson = "null"
    if (trace) {
      phase(seconds / 2)
      val first = JobTrace.attach(spark, listener)
      val second = JobTrace.attach(spark, listener)
      t.traced = true
      phase(seconds / 2)
      t.traced = false
      val removed = JobTrace.detach(spark, listener)
      c.check("trace.listener_once") {
        (first == 1 && second == 1, s"copies after attach: $first, $second")
      }
      c.check("trace.listener_removed") { (removed, "listener still registered") }
      listenerJson = Json.obj("copies" -> second.toString, "removed" -> removed.toString)
    } else phase(seconds)

    val leftover = {
      val st = Files.list(Paths.get(c.opsRoot))
      try st.iterator().asScala.map(_.getFileName.toString).toList
      finally st.close()
    }
    c.check("hygiene.ops_root_empty") { (leftover.isEmpty, leftover.mkString(",")) }

    val out = Json.obj(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "cpus" -> cpus.toString,
      "setup" -> Json.obj("session_s" -> Json.num(sessionS),
        "gen_s" -> Json.arr(genS.map(Json.num)), "prepare_s" -> Json.num(prepareS),
        "warm_s" -> Json.num(warmS)),
      "passes" -> Json.arr(passes),
      "ops" -> Json.arr(c.ops.map(_.json)),
      "spans" -> Json.arr(t.spans.map(_.json)),
      "checks" -> Json.arr(c.checks.map(_.json)),
      "counters" -> Json.arr(c.counters.map { case (p, k, v) =>
        Json.arr(Seq(p.toString, Json.str(k), Json.num(v)))
      }),
      "heap_mb" -> Json.arr(heapMb.map(Json.num)),
      "jobs" -> Json.arr(listener.jobsJson),
      "tasks" -> Json.arr(listener.tasks.asScala.map(_.json)),
      "listener" -> listenerJson,
      "wall_s" -> Json.num(wall))
    Files.write(Paths.get(s"$root/result.json"), out.getBytes("UTF-8"))
    spark.stop()
  }
}
