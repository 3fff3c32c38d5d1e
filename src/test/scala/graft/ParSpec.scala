package graft

import graft.pipeline.ClonePipeline
import org.apache.spark.sql.{AnalysisException, GraftSpecBridge}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

class ParSpec extends AnyFunSuite with SparkFixture {

  private def activeJobs(): Seq[Int] = {
    val sc = spark.sparkContext
    GraftSpecBridge.drainListenerBus(sc)
    sc.statusTracker.getActiveJobIds.toSeq
  }

  test("a failed Par.all returns only after every thunk and its job finished") {
    val finished = new AtomicBoolean(false)
    val first = new IllegalStateException("fails at once")
    val e = intercept[IllegalStateException] {
      Par.all[Unit](Seq(
        () => throw first,
        () => {
          spark.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(500))
          finished.set(true)
          throw new IllegalArgumentException("fails late")
        }))
    }
    assert(e eq first)
    assert(finished.get, "Par.all threw while a sibling thunk was still running")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("fails late"))
    assert(activeJobs().isEmpty)
  }

  test("every thunk carries the caller's job group, call by call") {
    val sc = spark.sparkContext
    def groupsUnder(g: String): Seq[String] = {
      sc.setJobGroup(g, g)
      try Par.all(Seq.fill(4)(() => sc.getLocalProperty("spark.jobGroup.id")))
      finally sc.clearJobGroup()
    }
    assert(groupsUnder("g1") == Seq.fill(4)("g1"))
    assert(groupsUnder("g2") == Seq.fill(4)("g2"))
  }

  test("results come back in thunk order, at most 4 thunks at a time") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val out = Par.all((0 until 10).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep((10 - i) * 20L) // later thunks finish first
      running.decrementAndGet()
      i
    })
    assert(out == (0 until 10))
    assert(peak.get >= 2 && peak.get <= 4, s"peak concurrency ${peak.get}")
    assert(Par.all(Seq.empty[() => Int]).isEmpty)
  }

  test("a clone with a missing table fails only after the valid table's " +
      "write has committed") {
    val tgt = Files.createTempDirectory("graft-par-clone").toString
    intercept[AnalysisException] {
      ClonePipeline.clone(spark, sfDir, tgt, tables = Seq("no_such_table", "lineitem"))
    }
    assert(Files.exists(Paths.get(tgt, "lineitem.parquet", "_SUCCESS")))
    assert(activeJobs().isEmpty)
  }

  test("src/main starts concurrent work only through graft.Par") {
    // one way to run concurrent actions: a Future, a thread pool or the
    // global execution context anywhere else would bring back the
    // fail-fast (orphaned job) and stale-job-group flaws Par exists to fix
    val banned = Seq("""ExecutionContext\.Implicits\.global""",
      """Executors\.new""",
      """scala\.concurrent\.(_|Future\b|\{[^}]*\bFuture\b)""").map(_.r)
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft", "Par.scala"))))
    val offenders = for {
      f: Path <- files if f.getFileName.toString != "Par.scala"
      text = Files.readString(f)
      b <- banned if b.findFirstIn(text).nonEmpty
    } yield s"${root.relativize(f)}: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
