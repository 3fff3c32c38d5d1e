package graft.io

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Randomized model gauntlet for the [[BatchStore]] commit discipline —
  * the Ivf-gauntlet idiom applied to the store core every persisted
  * store rides: a seeded random walk over the store's whole op
  * surface (committed appends under stream AND manual tags, torn
  * appends crashed after a strict subset of catalogs landed, replays,
  * committed-tag replays with DIFFERENT rows, compact, torn compact
  * reconstructions, doc_id vacuum including whole-catalog kills,
  * recover, eager reap), with an in-memory model advanced in lockstep
  * and EVERY catalog read compared against it after EVERY op. The
  * hand-written EngineSpec legs pin each crash window once; the
  * gauntlet pins their INTERACTIONS — a torn append followed by a
  * compact followed by the replay, a vacuum over watermark-rolled
  * batches, a reap between two torn states — where sequencing bugs
  * live.
  */
class BatchStoreGauntletSpec extends AnyFunSuite with SparkFixture {

  private val Cats = Seq("alpha", "beta")

  private def df(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "v").repartition(2)
  }

  private def readSet(st: BatchStore, cat: String): Set[(Long, Long)] =
    st.readCat(spark, cat).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("randomized op-sequence gauntlet: store state equals the model " +
      "after every op, across torn appends, maintenance, replays, " +
      "vacuums and reaps (seeds 1, 7, 13)") {
    Seq(1, 7, 13).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-bsg-$seed").toString
      val st = BatchStore(dir, Cats)
      // the model: per catalog, the committed row set
      val model = scala.collection.mutable.Map(
        Cats.map(_ -> Set.empty[(Long, Long)]): _*)
      var nextDoc = 0L
      var streamId = 0L
      // a torn append awaiting its replay: (batchId passed to append,
      // rows per catalog). Single-maintainer discipline: while torn,
      // the only legal ops are the replay itself, maintenance (which
      // pre-cleans the remnants), recover, or reap. A torn batch's
      // landed files are INVISIBLE to readers — visibility is gated on
      // the flag commit (the snapshot-isolation contract), so the model
      // never carries torn rows.
      var torn: Option[(Long, Map[String, Seq[(Long, Long)]])] = None

      def freshBatch(): Map[String, Seq[(Long, Long)]] = {
        val out = Cats.map { cat =>
          val n = 1 + rnd.nextInt(4)
          cat -> (0 until n).map { _ =>
            nextDoc += 1; (nextDoc, rnd.nextLong(1000))
          }
        }.toMap
        out
      }

      /** One [[BatchStore.append]] whose body lands the first
        * `crashAfter` catalogs; a body that stops short of every catalog
        * throws there, the torn append a crash leaves.
        */
      def append(batchId: Long, rows: Map[String, Seq[(Long, Long)]],
          crashAfter: Int): Boolean =
        try {
          st.append(spark, batchId) { land =>
            Cats.take(crashAfter).foreach(cat => land(cat, df(rows(cat))))
            if (crashAfter < Cats.length) throw Torn
          }
          true
        } catch { case Torn => false } // crashed mid-land

      def check(where: String): Unit = Cats.foreach { cat =>
        assert(readSet(st, cat) == model(cat),
          s"seed $seed, $where, catalog $cat diverged from the model")
      }

      // open with a bootstrap committed as stream batch 0 (the streaming
      // bootstrap leg), so every catalog exists and snapshot 0 is
      // published — readers resolve snapshots from here on
      val first = freshBatch()
      st.bootstrap(spark, Cats.map(c => c -> df(first(c))).toMap,
        dropBatchFlags = false)
      st.commitFlag(spark, streamId.toString)
      Cats.foreach(c => model(c) = model(c) ++ first(c))
      streamId += 1
      check("opening append")

      (1 to 30).foreach { step =>
        torn match {
          case Some((bid, rows)) =>
            rnd.nextInt(3) match {
              case 0 => // replay completes the batch
                assert(append(bid, rows, Cats.length))
                Cats.foreach(c => model(c) = model(c) ++ rows(c))
                torn = None
              case 1 => // maintenance pre-cleans the remnants, then replay
                if (rnd.nextBoolean()) st.compact(spark)
                else { val live = df(model.values.flatten.toSeq.distinct)
                  st.vacuumByDocId(spark, live.select("doc_id")) }
                check(s"step $step maintenance-over-torn")
                assert(append(bid, rows, Cats.length))
                Cats.foreach(c => model(c) = model(c) ++ rows(c))
                torn = None
              case _ => // recover leaves committed data alone
                st.recover(spark)
            }
          case None =>
            rnd.nextInt(8) match {
              case 0 | 1 => // committed append (stream or manual tag)
                val rows = freshBatch()
                val bid = if (rnd.nextBoolean()) { val b = streamId
                  streamId += 1; b } else -1L
                assert(append(bid, rows, Cats.length))
                Cats.foreach(c => model(c) = model(c) ++ rows(c))
              case 2 => // torn append: a strict subset of catalogs lands
                val rows = freshBatch()
                val bid = { val b = streamId; streamId += 1; b }
                assert(!append(bid, rows, 1))
                torn = Some((bid, rows))
                check(s"step $step torn remnants invisible pre-replay")
              case 3 => // committed-tag replay with DIFFERENT rows: no-op
                val bid = rnd.nextLong(streamId)
                append(bid, freshBatch(), Cats.length)
              case 4 => st.compact(spark)
              case 5 => // torn-compact junk: marker + unreferenced fold
                val tok = s"torn$step"
                val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
                  spark.sparkContext.hadoopConfiguration)
                fs.create(new org.apache.hadoop.fs.Path(
                  s"$dir/_maint-inprogress-$tok"), true).close()
                fs.create(new org.apache.hadoop.fs.Path(
                  s"$dir/${Cats(rnd.nextInt(Cats.length))}/" +
                    s"fold-$tok-0-junk.parquet"), true).close()
                check(s"step $step torn-compact junk invisible")
                assert(st.recover(spark))
              case 6 => // vacuum a random victim set (possibly a whole
                // catalog's rows — the empty-live read path)
                val all = model.values.flatten.map(_._1).toSeq.distinct
                if (all.nonEmpty) {
                  val victims = all.filter(_ => rnd.nextInt(4) == 0).toSet
                  val live = all.filterNot(victims)
                  st.vacuumByDocId(spark,
                    df(live.map(id => (id, 0L))).select("doc_id"))
                  Cats.foreach(c =>
                    model(c) = model(c).filterNot(r => victims(r._1)))
                }
              case _ => st.reapRetired(spark)
            }
        }
        check(s"step $step")
      }
      // drain any torn tail so the walk ends converged, then one full
      // maintenance cycle and a final audit
      torn.foreach { case (bid, rows) =>
        assert(append(bid, rows, Cats.length))
        Cats.foreach(c => model(c) = model(c) ++ rows(c))
      }
      st.compact(spark)
      st.reapRetired(spark)
      check("final")
    }
  }

  private object Torn extends RuntimeException("torn append")

  private def land(st: BatchStore, batchId: Long,
      rows: Seq[(Long, Long)]): Unit =
    st.append(spark, batchId)(land => st.catalogs.foreach(land(_, df(rows))))

  /** A store bootstrapped over no rows (the frame only fixes the schema). */
  private def bootstrapped(st: BatchStore): BatchStore = {
    st.bootstrap(spark, st.catalogs.map(_ -> df(Nil)).toMap,
      dropBatchFlags = false)
    st
  }

  test("retainRetiredMs: retired files survive back-to-back maintenance " +
      "within the window — a reader planned before round N materializes " +
      "after round N+1 — and the eager reap still clears them") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bs-retain").toString
    val st = bootstrapped(
      BatchStore(dir, Seq("alpha"), retainRetiredMs = 3600 * 1000L))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rows = (1L to 12L).map(i => (i, i * 10))
    (0L to 2L).foreach(b => land(st, b, rows.slice(b.toInt * 4, b.toInt * 4 + 4)))
    val reader = st.readCat(spark, "alpha") // planned BEFORE round N
    def onDisk(glob: String): Int = {
      val hits = fs.globStatus(new Path(s"$dir/alpha/$glob"))
      if (hits == null) 0 else hits.length
    }
    val originals = onDisk("batch*")
    assert(originals >= 3)
    st.compact(spark) // round N: folds, retires the originals
    assert(onDisk("batch*") == originals,
      "retired originals must be retained after round N")
    // round N+1: a vacuum that retires MORE files — within the window
    // the round-N retirees must survive its begin-reap and carry
    // forward in the new snapshot rather than being orphaned
    land(st, 3L, Seq((100L, 1L), (101L, 2L)))
    st.vacuumByDocId(spark,
      df(rows ++ Seq((100L, 1L))).select("doc_id"))
    assert(onDisk("batch*") >= originals,
      "round N+1 must not reap round N's retirees inside the window")
    assert(reader.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == rows.toSet,
      "a reader planned before round N must materialize after round N+1")
    assert(st.readCat(spark, "alpha").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      == (rows ++ Seq((100L, 1L))).toSet)
    // the deletion-SLA hook ignores the window by design
    assert(st.reapRetired(spark) > 0)
    assert(onDisk("batch*") == 0 ||
      st.readCat(spark, "alpha").count() == rows.size + 1,
      "eager reap clears retirees without touching the live view")
    // zero-retention store: the next maintenance round reaps immediately
    val st0 = BatchStore(dir, Seq("alpha"))
    st0.compact(spark)
    val retiredAfter = st0.readCat(spark, "alpha").count()
    st0.compact(spark)
    assert(st0.readCat(spark, "alpha").count() == retiredAfter)
  }

  test("an all-rows vacuum reads back as a typed EMPTY frame off the " +
      "snapshot's persisted schema, even with zero-byte torn junk in " +
      "the catalog dir and every live file gone") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bs-schema").toString
    val st = BatchStore(dir, Seq("alpha"))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    st.bootstrap(spark, Map("alpha" -> df(Seq((1L, 10L), (2L, 20L)))),
      dropBatchFlags = false)
    st.vacuumByDocId(spark, df(Nil).select("doc_id")) // kill every row
    st.compact(spark) // reaps the retirees
    // drop the (empty) live fold files too — the listing now holds
    // NOTHING the snapshot references, the worst case the persisted
    // schema line exists for (Spark usually leaves one empty part file,
    // but the read contract must not depend on that)
    val live = fs.globStatus(new Path(s"$dir/alpha/fold-*"))
    if (live != null) live.foreach(h => fs.delete(h.getPath, false))
    // torn-maintenance junk: a zero-byte fold file the snapshot never
    // references — schema inference over the raw listing would choke
    fs.create(new Path(s"$dir/alpha/fold-junk-0-x.parquet"), true).close()
    val out = st.readCat(spark, "alpha")
    assert(out.schema.fieldNames.toSeq == Seq("doc_id", "v"))
    assert(out.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType))
    assert(out.count() == 0)
  }

  test("a pre-persisted-schema snapshot referencing no surviving file " +
      "throws an explicit error instead of resurrecting raw-dir junk") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bs-legacy").toString
    val st = BatchStore(dir, Seq("alpha"))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // catalog dir holds ONLY junk no snapshot references — the rows a
    // raw-dir fallback would wrongly resurrect
    df(Seq((99L, 99L))).write.mode("overwrite")
      .parquet(s"$dir/alpha-junk-src")
    fs.mkdirs(new Path(s"$dir/alpha"))
    val junk = fs.globStatus(new Path(s"$dir/alpha-junk-src/*.parquet"))
    junk.zipWithIndex.foreach { case (h, i) =>
      fs.rename(h.getPath, new Path(s"$dir/alpha/orphan-$i.parquet")) }
    // a hand-written legacy snapshot: no S line, references a file that
    // no longer exists
    val out = fs.create(new Path(s"$dir/_snapfiles-0"), true)
    out.write("token\tlegacy\nalpha\tL\tgone.parquet\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.create(new Path(s"$dir/_snap-0"), true).close()
    val e = intercept[RuntimeException](st.readCat(spark, "alpha"))
    assert(e.getMessage.contains("predates schema persistence"))
  }

  test("cleanRootMetadata treats flags and watermarks as one unit of " +
      "committed history: keep-flags keeps rolled-up ids committed, " +
      "drop-flags forgets both") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bs-clean").toString
    val st = bootstrapped(BatchStore(dir, Seq("alpha")))
    (0L to 3L).foreach(b => land(st, b, Seq((b, b))))
    st.compact(spark) // rolls flags 0..3 into the stream watermark
    assert((0L to 3L).forall(st.batchCommitted(spark, _)))
    bootstrapped(st) // a re-bootstrap that keeps committed-batch history
    assert((0L to 3L).forall(st.batchCommitted(spark, _)),
      "keeping flags must keep watermark-rolled ids committed too")
    st.bootstrap(spark, Map("alpha" -> df(Nil)), dropBatchFlags = true)
    assert((0L to 3L).forall(b => !st.batchCommitted(spark, b)),
      "dropping flags must drop the watermarks with them")
  }
}
