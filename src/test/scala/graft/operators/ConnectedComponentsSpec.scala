package graft.operators

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** [[TrainPrep.connectedComponents]] — per-partition forests merged in
  * one union-find task — against a driver-side union-find, with the
  * edges spread over one, three and more partitions than edges.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkFixture {

  private val Partitions = Seq(1, 3, 64)

  /** Min-id label of every vertex with an edge. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def labels(edges: Seq[(Long, Long)], parts: Int): Map[Long, Long] = {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(edges, parts).toDF("src", "dst")
    val got = TrainPrep.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length, "one row per vertex")
    got.toMap
  }

  private def check(name: String, edges: Seq[(Long, Long)]): Unit =
    Partitions.foreach { parts =>
      assert(labels(edges, parts) == reference(edges), s"$name parts=$parts")
    }

  test("random graphs equal a driver-side union-find") {
    val rnd = new scala.util.Random(17)
    (0 until 3).foreach { t =>
      // sparse ids, some negative, so id order is not insertion order
      val ids = Seq.fill(40)(rnd.nextInt(2000).toLong - 500L).distinct
      val edges = Seq.fill(25 + rnd.nextInt(20))(
        (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      check(s"random $t", edges)
    }
  }

  test("chains, stars, duplicate, reversed and self edges, and the empty graph") {
    val chain = rnd(0 until 16).map(i => (i * 3L, i * 3L + 3L))
    check("chain", chain)
    check("reversed chain", chain.map(_.swap))
    check("star, hub above its leaves", (1 to 30).map(i => (1000L, i.toLong)))
    check("star, hub below its leaves", (1 to 30).map(i => (i.toLong, 0L)))
    check("duplicates and reversals", Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L),
      (3L, 2L), (9L, 8L), (8L, 9L), (8L, 9L)))
    check("self loops", Seq((5L, 5L), (6L, 7L), (7L, 7L), (5L, 5L)))
    check("empty", Nil)
  }

  private def rnd(r: Range): Seq[Int] = new scala.util.Random(3).shuffle(r.toVector)
}
