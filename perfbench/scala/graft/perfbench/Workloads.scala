package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.io.{Readers, Writers}
import graft.operators.{FingerprintStore, LLMOps, Similarity, TrainPrep}
import graft.pipeline.ClonePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One attempted operation: a public call (or one query's plan + execute)
  * and whether it returned without throwing.
  */
final case class OpRec(pass: Int, name: String, label: String, t0: Double,
    t1: Double, ok: Boolean) {
  def json: String = Json.obj("pass" -> pass.toString, "name" -> Json.str(name),
    "label" -> Json.str(label), "t0" -> Json.num(t0), "t1" -> Json.num(t1),
    "ok" -> ok.toString)
}

/** One correctness gate of one pass. */
final case class CheckRec(pass: Int, name: String, ok: Boolean, detail: String) {
  def json: String = Json.obj("pass" -> pass.toString, "name" -> Json.str(name),
    "ok" -> ok.toString, "detail" -> Json.str(detail))
}

/** What a workload shares with the harness: the session, the tracer, the
  * benchmark-owned temp root (every pass writes under a fresh directory
  * in `opsRoot`, which must be empty when the run ends) and the records.
  */
final class Ctx(val spark: SparkSession, val t: Tracer, root: String,
    val seed: Long, val python: String, val benchDir: String) {
  val opsRoot = s"$root/ops"
  /** Outputs kept for oracle.py, which compares them after the run. */
  val evidenceRoot = s"$root/evidence"
  val ops = ArrayBuffer.empty[OpRec]
  val checks = ArrayBuffer.empty[CheckRec]
  /** Per-pass workload counters (e.g. bytes stored), keyed by pass. */
  val counters = ArrayBuffer.empty[(Int, String, Double)]
  private var dirSeq = 0

  def freshDir(tag: String): String = {
    dirSeq += 1
    val d = s"$opsRoot/$tag-$dirSeq"
    Files.createDirectories(Paths.get(d))
    d
  }

  def count(name: String, v: Double): Unit = counters += ((t.pass, name, v))

  /** One attempted operation under a span; a throw is a failed op. */
  def op[T](name: String, label: String = "")(body: => T): Option[T] = {
    val t0 = t.now()
    val r =
      try Some(t.span(name, label)(body))
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] op $name $label failed: $e")
        None
      }
    ops += OpRec(t.pass, name, label, t0, t.now(), r.isDefined)
    r
  }

  /** A correctness gate, run outside every span; a throw is a failure. */
  def check(name: String)(cond: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try t.oracle(cond)
      catch { case NonFatal(e) => (false, e.toString) }
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    checks += CheckRec(t.pass, name, ok, detail)
  }

  /** Run `perfbench/oracle.py <args>` (DuckDB); fails on a non-zero exit. */
  def duck(args: String*): Unit = {
    val rc = new ProcessBuilder((Seq(python, s"$benchDir/oracle.py") ++ args): _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start().waitFor()
    require(rc == 0, s"oracle.py ${args.mkString(" ")} exited $rc")
  }
}

/** A workload: how its inputs are made, what one pass calls, and which
  * gates each pass must pass.
  *   - `generate` makes every input from the seed under `dir` (timed for
  *     `setup_s`, repeated in fresh directories; the last one is used).
  *   - `prepare` computes the oracles the gates compare against (not timed).
  *   - `pass` is the measured unit; `check` its gates; `cleanup` deletes
  *     what it wrote.
  */
trait Workload {
  def generate(dir: String): Unit
  def prepare(): Unit
  def pass(): Unit
  def check(): Unit
  def cleanup(): Unit
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "clone_sync" => new CloneSync(c)
    case "dedup_media" => new DedupMedia(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def hashEq(a: (Long, BigDecimal), b: (Long, BigDecimal)): (Boolean, String) =
    (a == b, s"rows/hash ${a._1}/${a._2} vs ${b._1}/${b._2}")
}

/** The paper's job: clone the corpus (plain and laid out), query the
  * laid-out clone through the manifests its layout registered, render the
  * DDL, keep the plain clone's orders in sync with the source's update
  * batches, bulk-copy through JDBC and read it back.
  */
final class CloneSync(c: Ctx) extends Workload {
  import c.spark
  private val sf = 0.01
  private val batches = 1
  // orders is Z-ordered on numeric columns: Writers.zOrderedN casts its
  // columns to bigint, which a TIMESTAMP_NTZ date column does not allow
  private val layouts = Map(
    "lineitem" -> ClonePipeline.TableLayout(Seq("l_shipdate"), numFiles = 4),
    "orders" -> ClonePipeline.TableLayout(Seq("o_custkey", "o_totalprice"),
      zOrder = true, numFiles = 4))
  private val jdbcTables = Seq("orders" -> "o_orderkey")
  /** TPC-H-shaped queries with a DuckDB oracle: a date-range scan of the
    * laid-out lineitem (ManifestPruneRule) and a three-way join.
    */
  val queries: Seq[String] = Seq("q_a16_tpch_q6", "q_j08_tpch_q3")
  private var src = ""
  private var srcHash = Map.empty[String, (Long, BigDecimal)]
  private var syncHash = (0L, BigDecimal(0))
  private var srcBytes = 0L
  private var dir = ""
  private var db = ""
  private var plain: Option[ClonePipeline.CloneReport] = None
  private var laid: Option[ClonePipeline.CloneReport] = None
  private var readBack = Map.empty[String, (Long, BigDecimal)]

  def generate(d: String): Unit = {
    Gen.corpus(spark, d, sf, c.seed)
    Gen.syncBatches(spark, d, sf, c.seed, batches)
    src = d
  }

  def prepare(): Unit = {
    graft.plans.Graft.ensureRegistered(spark)
    spark.conf.set("spark.graft.manifest.prune", "true")
    srcHash = Gen.CorpusTables.map(t =>
      t -> Gen.contentHash(spark.read.parquet(s"$src/$t.parquet"))).toMap
    srcBytes = Gen.CorpusTables.map(t => Gen.du(s"$src/$t.parquet")).sum
    c.duck("lww", src, batches.toString, s"$src/sync_expected.parquet")
    Files.write(Paths.get(s"${c.evidenceRoot}/oracle_sql.json"), Json.obj(
      queries.map(q => q -> Json.str(SparkEntry.oracleSql(q))): _*).getBytes("UTF-8"))
    Files.write(Paths.get(s"${c.evidenceRoot}/corpus"), src.getBytes("UTF-8"))
    val orders = spark.read.parquet(s"$src/orders.parquet")
    syncHash = Gen.contentHash(
      Gen.conform(spark.read.parquet(s"$src/sync_expected.parquet"), orders))
  }

  private def syncSource(k: Int): DataFrame =
    (1 to k).foldLeft(spark.read.parquet(s"$src/orders.parquet"))((df, b) =>
      df.unionByName(spark.read.parquet(s"$src/sync_batch_$b.parquet")))

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  def pass(): Unit = {
    dir = c.freshDir("clone")
    val srcMb = srcBytes / 1e6
    plain = c.op("pipeline.clone") {
      ClonePipeline.clone(spark, src, s"$dir/plain", Gen.CorpusTables)
    }
    c.count("clone_mb", srcMb)
    laid = c.op("pipeline.clone_layout") {
      ClonePipeline.clone(spark, src, s"$dir/layout", Gen.CorpusTables,
        layouts = layouts)
    }
    c.count("clone_mb", srcMb)
    new scala.util.Random(c.seed * 1000003L + c.t.pass).shuffle(queries).foreach { q =>
      c.op("query", q) {
        val df = c.t.span("query.plan", q) {
          val df = SparkEntry.queries(q)(spark, s"$dir/layout")
          df.queryExecution.executedPlan
          df
        }
        c.t.span("query.exec", q) {
          // the warm-up keeps each output for oracle.py, which compares it
          // with DuckDB after the run; measured passes discard it
          if (c.t.pass == 0)
            df.coalesce(1).write.mode("overwrite").parquet(s"${c.evidenceRoot}/$q")
          else df.write.format("noop").mode("overwrite").save()
        }
      }
    }
    c.op("pipeline.render_ddl") { ClonePipeline.renderDdl(spark, src, Gen.CorpusTables) }
    (1 to batches).foreach { k =>
      c.op("pipeline.sync", s"batch$k") {
        ClonePipeline.incrementalSync(spark, syncSource(k),
          s"$dir/plain/orders.parquet", Seq("o_orderkey"), "o_version")
      }.foreach { r =>
        c.count("sync_delta_rows", r.deltaRows.toDouble)
        c.count("sync_source_rows", r.sourceRows.toDouble)
      }
    }
    db = s"pb${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    jdbcTables.foreach { case (t, _) =>
      c.op("io.jdbc_write", t) {
        Writers.jdbc(spark.read.parquet(s"$src/$t.parquet"), url, t, props)
      }
      c.count("jdbc_rows", srcHash(t)._1.toDouble)
    }
    readBack = jdbcTables.flatMap { case (t, key) =>
      c.op("io.jdbc_read", t) {
        val like = spark.read.parquet(s"$src/$t.parquet")
        t -> Gen.contentHash(Gen.conform(Readers.jdbc(spark, url, t, props,
          Some(key), 0L, srcHash(t)._1, spark.sparkContext.defaultParallelism),
          like))
      }
    }.toMap
  }

  def check(): Unit = {
    // the plain clone's orders has been synced since: it is checked
    // against the last-writer-wins state instead of the source
    for ((tag, rep, synced) <- Seq(("plain", plain, Set("orders")),
        ("layout", laid, Set.empty[String]))) {
      c.check(s"clone.$tag") {
        rep match {
          case None => (false, "clone failed")
          case Some(r) =>
            val bad = Gen.CorpusTables.filterNot { t =>
              r.rowCounts.get(t).contains(srcHash(t)._1) && (synced(t) ||
                Gen.contentHash(spark.read.parquet(s"$dir/$tag/$t.parquet")) == srcHash(t))
            }
            (bad.isEmpty, s"tables differing from source: ${bad.mkString(",")}")
        }
      }
    }
    c.check("sync.lww") {
      Workload.hashEq(Gen.contentHash(
        spark.read.parquet(s"$dir/plain/orders.parquet")), syncHash)
    }
    jdbcTables.foreach { case (t, _) =>
      c.check(s"jdbc.readback.$t") {
        readBack.get(t).map(Workload.hashEq(_, srcHash(t)))
          .getOrElse((false, "read-back failed"))
      }
    }
    c.count("stored_bytes", Gen.du(s"$dir/plain") + Gen.du(s"$dir/layout"))
    c.count("source_bytes", 2.0 * srcBytes)
  }

  def cleanup(): Unit = {
    laid.foreach(_.manifests.keys.foreach(t =>
      graft.plans.ManifestRegistry.deregister(spark, s"$dir/layout/$t.parquet")))
    c.check("hygiene.manifests") {
      (graft.plans.PerfbenchRegistry.isEmpty, "ManifestRegistry not empty")
    }
    c.check("hygiene.derby_dropped") { (dropDerby(db), s"derby $db still open") }
    Gen.rmrf(dir)
  }

  /** Drop the in-memory database; true when it is gone afterwards. */
  private def dropDerby(name: String): Boolean = {
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    try {
      java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name").close()
      false
    } catch { case _: java.sql.SQLException => true }
  }
}

/** The two halves of a corpus-prep pass, text then media, over one
  * generated corpus: candidate-driven dedup ([[DedupPrep]]) and the
  * persisted fingerprint store ([[MediaStore]]).
  */
final class DedupMedia(c: Ctx) extends Workload {
  private val text = new DedupPrep(c)
  private val media = new MediaStore(c)
  def generate(dir: String): Unit = {
    text.generate(s"$dir/docs")
    media.generate(s"$dir/media")
  }
  def prepare(): Unit = { text.prepare(); media.prepare() }
  def pass(): Unit = { text.pass(); media.pass() }
  def check(): Unit = { text.check(); media.check() }
  def cleanup(): Unit = { text.cleanup(); media.cleanup() }
}

/** Candidate-driven dedup over a ScaleGen corpus with planted near and
  * exact duplicates: verified pairs → components → keepers, plus the
  * embedding ANN pairs, each stage handing off through parquet.
  */
final class DedupPrep(c: Ctx) extends Workload {
  import c.spark
  val docs = 3000L
  private var src = ""
  private var srcBytes = 0L
  private var dir = ""
  private val firstPass = new FirstPass

  def generate(d: String): Unit = {
    graft.tools.ScaleGen.generate(spark, d, docs, c.seed)
    src = d
    srcBytes = Gen.du(s"$d/documents.parquet") + Gen.du(s"$d/embeddings.parquet")
  }

  def prepare(): Unit = c.duck("dupgroups", src, s"$src/exact_groups.parquet")

  def pass(): Unit = {
    dir = c.freshDir("dedup")
    c.op("llm.pairs") {
      LLMOps.qL05(spark, src).select("doc_a", "doc_b")
        .write.parquet(s"$dir/pairs")
    }
    c.op("trainprep.cc", "text") {
      TrainPrep.connectedComponents(spark.read.parquet(s"$dir/pairs")
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .write.parquet(s"$dir/cc")
    }
    c.op("trainprep.keepers") {
      val w = Window.partitionBy("comp").orderBy(col("n_chars").desc, col("id"))
      spark.read.parquet(s"$dir/cc")
        .join(spark.read.parquet(s"$src/documents.parquet")
          .select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("comp").as("cluster_id"), col("id").as("keeper_id"))
        .write.parquet(s"$dir/keepers")
    }
    c.op("similarity.ann_pairs") {
      Similarity.nearDupPairs(spark, src, bits = 16, tables = 14)
        .write.parquet(s"$dir/ann")
    }
    c.count("docs", docs.toDouble)
    c.count("stored_bytes", Gen.du(dir).toDouble)
    c.count("source_bytes", srcBytes.toDouble)
  }

  def check(): Unit = {
    c.check("dedup.exact_dups_one_cluster") {
      Clusters.exactInOneCluster(
        spark.read.parquet(s"$src/exact_groups.parquet"),
        spark.read.parquet(s"$dir/cc"))
    }
    Seq("pairs", "cc", "keepers", "ann").foreach { stage =>
      c.check(s"dedup.$stage.stable") {
        firstPass.same(stage, Gen.contentHash(spark.read.parquet(s"$dir/$stage")))
      }
    }
  }

  def cleanup(): Unit = Gen.rmrf(dir)
}

/** Decode plus a persisted store: bootstrap a fingerprint store from one
  * staged batch of media files, append a second, serve the image, audio
  * and video near-dup pairs from it, cluster them and compact.
  */
final class MediaStore(c: Ctx) extends Workload {
  import c.spark
  val items = 400L
  private val split = items * 3 / 4
  private var src = ""
  private var mediaBytes = 0L
  private var dir = ""
  private val firstPass = new FirstPass

  def generate(d: String): Unit = {
    mediaBytes = Gen.stageMedia(spark, d, items, split, c.seed)
    src = d
  }

  /** Planted exact duplicates as (id, group) with group = the root of the
    * exact-dup chain, from the generator's own plant record.
    */
  def prepare(): Unit = {
    import spark.implicits._
    def root(id: Long): Long = graft.tools.ScaleGen.mediaDupOf(c.seed, id) match {
      case Some((b, true)) => root(b)
      case _               => id
    }
    val rows = (0L until items).map(id => (id, root(id)))
    val grouped = rows.groupBy(_._2).filter(_._2.size > 1).values.flatten.toSeq
    grouped.toDF("id", "grp").write.mode("overwrite").parquet(s"$src/exact_groups.parquet")
  }

  private def media(sub: String): DataFrame =
    Readers.binaryMedia(spark, s"$src/$sub", idFromStem = true)

  def pass(): Unit = {
    dir = c.freshDir("media")
    val store = s"$dir/store"
    c.op("store.bootstrap") { FingerprintStore.bootstrap(spark, media("a"), store) }
    c.op("store.append") { FingerprintStore.append(spark, media("b"), store) }
    c.op("store.pairs") {
      FingerprintStore.imageNearDupPairs(spark, store, ordered = false)
        .select("doc_a", "doc_b")
        .unionByName(FingerprintStore.audioNearDupPairs(spark, store,
          ordered = false).select("doc_a", "doc_b"))
        .unionByName(FingerprintStore.videoNearDupPairs(spark, store,
          ordered = false).select("doc_a", "doc_b"))
        .write.parquet(s"$dir/pairs")
    }
    c.op("trainprep.cc", "media") {
      TrainPrep.connectedComponents(spark.read.parquet(s"$dir/pairs")
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .write.parquet(s"$dir/cc")
    }
    c.op("store.compact") { FingerprintStore.compact(spark, store) }
    c.count("media_items", items.toDouble)
    c.count("stored_bytes", Gen.du(store).toDouble)
    c.count("source_bytes", mediaBytes.toDouble)
  }

  def check(): Unit = {
    c.check("media.exact_dups_one_cluster") {
      Clusters.exactInOneCluster(
        spark.read.parquet(s"$src/exact_groups.parquet"),
        spark.read.parquet(s"$dir/cc"))
    }
    c.check("media.ledger_complete") {
      val n = FingerprintStore.ledger(spark, s"$dir/store").count()
      (n == items, s"ledger rows $n, expected $items")
    }
    Seq("pairs", "cc").foreach { stage =>
      c.check(s"media.$stage.stable") {
        firstPass.same(stage, Gen.contentHash(spark.read.parquet(s"$dir/$stage")))
      }
    }
  }

  def cleanup(): Unit = Gen.rmrf(dir)
}

object Clusters {
  /** Every exact-duplicate group (id, grp) lies inside one component of
    * `cc` (id, comp), and every member of such a group has a component.
    */
  def exactInOneCluster(groups: DataFrame, cc: DataFrame): (Boolean, String) = {
    val bad = groups.join(cc, Seq("id"), "left")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), count(col("comp")).as("placed"),
        countDistinct(col("comp")).as("comps"))
      .filter(col("placed") =!= col("n") || col("comps") =!= 1)
      .count()
    val nGroups = groups.select("grp").distinct().count()
    (bad == 0, s"$bad of $nGroups exact-dup groups split or missing")
  }
}

/** Each stage's output hash from the first measured pass; later passes
  * must reproduce it exactly.
  */
final class FirstPass {
  private val seen = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]

  def same(stage: String, h: (Long, BigDecimal)): (Boolean, String) =
    seen.get(stage) match {
      case None =>
        seen(stage) = h
        (h._1 > 0, s"first pass: ${h._1} rows")
      case Some(r) => Workload.hashEq(h, r)
    }
}
