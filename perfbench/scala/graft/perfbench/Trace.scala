package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Hand-rolled JSON for the result file (no extra dependency). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One timed interval: a span around a call into the program, or the
  * pass that encloses them. `parent` is -1 for a root span.
  */
final case class SpanRec(id: Int, name: String, label: String, parent: Int,
    pass: Int, t0: Double, t1: Double, ok: Boolean) {
  def json: String = Json.obj("id" -> id.toString, "name" -> Json.str(name),
    "label" -> Json.str(label), "parent" -> parent.toString,
    "pass" -> pass.toString, "t0" -> Json.num(t0), "t1" -> Json.num(t1),
    "ok" -> ok.toString)
}

/** Span recorder. Every clock reading is seconds since the recorder was
  * made, on the epoch timeline Spark's task and job events use, so spans
  * and task intervals compare directly.
  *
  * While `traced` is on, each span runs its body under its own Spark job
  * group (`pb-<id>`), which is how [[JobTrace]] attributes jobs and tasks
  * to spans; the enclosing span's group is restored on exit. Work the
  * benchmark does for itself (correctness checks) runs under
  * [[Tracer.OracleGroup]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private var stack: List[Int] = Nil
  private var nextId = 0

  val spans = ArrayBuffer.empty[SpanRec]
  var pass = -1
  var traced = false

  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epoch0Ms) / 1e3

  private def withGroup[T](group: String, desc: String)(body: => T): T =
    if (!traced) body
    else {
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(group, desc, interruptOnCancel = false)
      try body
      finally
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }

  /** Time `body` as a span; an exception still closes the span (ok=false). */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = now()
    var ok = false
    try {
      val r = withGroup(Tracer.group(id), name)(body)
      ok = true
      r
    } finally {
      val t1 = now()
      stack = stack.tail
      spans += SpanRec(id, name, label, parent, pass, t0, t1, ok)
    }
  }

  /** The benchmark's own work (oracles, hashes): never inside a span. */
  def oracle[T](body: => T): T = withGroup(Tracer.OracleGroup, "oracle")(body)
}

object Tracer {
  val OracleGroup = "pb-oracle"
  def group(spanId: Int): String = s"pb-$spanId"
}

/** Task interval and counters, tagged with the job group of its stage. */
final case class TaskRec(group: String, t0: Double, t1: Double,
    runS: Double, shuffleWrite: Long, output: Long, input: Long) {
  def json: String = Json.obj("group" -> Json.str(group),
    "t0" -> Json.num(t0), "t1" -> Json.num(t1), "run_s" -> Json.num(runS),
    "shuffle_write" -> shuffleWrite.toString, "output" -> output.toString,
    "input" -> input.toString)
}

/** SparkListener owned by the benchmark: jobs with their group, and every
  * finished task with its interval and I/O counters. Registered only
  * while a traced phase runs ([[JobTrace.attach]] / [[JobTrace.detach]]).
  */
final class JobTrace(t: Tracer) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val jobEnd = new ConcurrentHashMap[Int, Double]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, t.fromEpochMs(e.time))
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, t.fromEpochMs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    if (m == null)
      tasks.add(TaskRec(g, t.fromEpochMs(info.launchTime),
        t.fromEpochMs(info.finishTime), 0.0, 0L, 0L, 0L))
    else
      tasks.add(TaskRec(g, t.fromEpochMs(info.launchTime),
        t.fromEpochMs(info.finishTime), m.executorRunTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
        m.inputMetrics.bytesRead))
  }

  def jobsJson: Seq[String] =
    jobGroup.asScala.toSeq.sortBy(_._1).map { case (id, g) =>
      Json.obj("id" -> id.toString, "group" -> Json.str(g),
        "t0" -> Json.num(jobStart.getOrDefault(id, Double.NaN)),
        "t1" -> Json.num(jobEnd.getOrDefault(id, Double.NaN)))
    }
}

object JobTrace {
  /** Add `l` unless the bus already has it (idempotent, like a session
    * extension's contains-check), and report how many copies are live.
    */
  def attach(spark: SparkSession, l: JobTrace): Int = {
    val sc = spark.sparkContext
    if (PerfbenchBus.copies(sc, l) == 0) sc.addSparkListener(l)
    PerfbenchBus.copies(sc, l)
  }

  /** Deliver every queued event, then remove `l`; true when it is gone. */
  def detach(spark: SparkSession, l: JobTrace): Boolean = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(l)
    PerfbenchBus.copies(sc, l) == 0
  }
}
