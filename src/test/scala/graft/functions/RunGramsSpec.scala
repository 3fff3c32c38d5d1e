package graft.functions

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the r20 codegen run-fold expressions against the
  * declarative HOF formulation they replaced in qL47/qL54/qL59 —
  * `runArgmax(array_sort(shingles(w, n)))` / `dupRunChars(...)` /
  * `size(filter(w, isin))`. Randomized corpora including empty docs,
  * empty-string tokens (double spaces), heavy duplication and unicode:
  * any divergence flips an oracle-hashed feature column.
  */
class RunGramsSpec extends AnyFunSuite with SparkFixture {

  // the HOF reference folds, spelled exactly as LLMOps had them
  private def shinglesRef(w: org.apache.spark.sql.Column, n: Int) =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j + 1))): _*)))
      .otherwise(array(array_join(w, " ")))

  private def runArgmaxRef(sorted: org.apache.spark.sql.Column) = aggregate(
    sorted,
    struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("bestCnt"), lit("").as("bestGram")),
    (acc, x) => {
      val closed = x =!= acc("prev")
      val promote = closed && acc("run") > acc("bestCnt")
      struct(x.as("prev"),
        when(closed, lit(1L)).otherwise(acc("run") + 1L).as("run"),
        when(promote, acc("run")).otherwise(acc("bestCnt")).as("bestCnt"),
        when(promote, acc("prev")).otherwise(acc("bestGram")).as("bestGram"))
    },
    acc => struct(
      when(acc("run") > acc("bestCnt"), acc("run"))
        .otherwise(acc("bestCnt")).as("cnt"),
      when(acc("run") > acc("bestCnt"), acc("prev"))
        .otherwise(acc("bestGram")).as("gram")))

  private def dupRunCharsRef(sorted: org.apache.spark.sql.Column) = aggregate(
    sorted,
    struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("chars")),
    (acc, x) => {
      val closed = x =!= acc("prev")
      struct(x.as("prev"),
        when(closed, lit(1L)).otherwise(acc("run") + 1L).as("run"),
        (acc("chars") + when(closed && acc("run") >= 2L,
          acc("run") * length(acc("prev")).cast("long")).otherwise(0L))
          .as("chars"))
    },
    acc => acc("chars") + when(acc("run") >= 2L,
      acc("run") * length(acc("prev")).cast("long")).otherwise(0L))

  private val docs = {
    val rnd = new scala.util.Random(47)
    val vocab = Vector("the", "cat", "sat", "onmat", "δρακων", "a", "", "zz9")
    val texts = (0 until 300).map { i =>
      val n = rnd.nextInt(30)
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "one" :+ "a a a a a" :+ "x  y   z" // empties + heavy dups
    import spark.implicits._
    texts.toDF("text")
  }

  test("TopRunGram(n) == runArgmax(array_sort(shingles(w,n))) for n in 1,2,5") {
    val w = split(lower(col("text")), " ")
    Seq(1, 2, 5).foreach { n =>
      val sortedRef = if (n == 1) array_sort(w) else array_sort(shinglesRef(w, n))
      val rows = docs.select(
        TopRunGram(w, n).as("got"), runArgmaxRef(sortedRef).as("want"),
        col("text")).collect()
      rows.foreach { r =>
        val (g, x) = (r.getStruct(0), r.getStruct(1))
        assert(g.getLong(0) == x.getAs[Long]("cnt") &&
          g.getString(1) == x.getAs[String]("gram"),
          s"n=$n text='${r.getString(2)}': got $g want $x")
      }
    }
  }

  test("DupRunGramChars(n) == dupRunChars(array_sort(shingles(w,n)))") {
    val w = split(lower(col("text")), " ")
    Seq(1, 2, 5).foreach { n =>
      val sortedRef = if (n == 1) array_sort(w) else array_sort(shinglesRef(w, n))
      val bad = docs.select(DupRunGramChars(w, n).as("got"),
          dupRunCharsRef(sortedRef).as("want"), col("text"))
        .filter(col("got") =!= col("want")).collect()
      assert(bad.isEmpty, s"n=$n diverged: ${bad.mkString(";")}")
    }
  }

  test("CountIn == size(filter(w, isin(stopset)))") {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
    val w = split(lower(col("text")), " ")
    val bad = docs.select(CountIn(w, stop).as("got"),
        size(filter(w, t => t.isin(stop: _*))).as("want"), col("text"))
      .filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, s"diverged: ${bad.mkString(";")}")
    // null text → null count, matching size(filter(null))
    import spark.implicits._
    val r = Seq[String](null).toDF("text")
      .select(CountIn(split(lower(col("text")), " "), stop).as("got"),
        size(filter(split(lower(col("text")), " "),
          t => t.isin(stop: _*))).as("want")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("null token elements are skipped: every fold equals its null-free twin") {
    import spark.implicits._
    val df = Seq((Seq("a", null, "a", "b", null), Seq("a", "a", "b")),
        (Seq[String](null), Seq.empty[String]))
      .toDF("w", "clean")
    def folds(w: String) = Seq(TopRunGram(col(w), 1), TopRunGram(col(w), 2),
      TopRunGram(col(w), 5), DupRunGramChars(col(w), 1), CountIn(col(w), Seq("a")))
    // local relation (interpreted eval) and after an exchange (codegen)
    Seq(df, df.repartition(1)).foreach { d =>
      d.select(folds("w") ++ folds("clean"): _*).collect().foreach { r =>
        assert(r.toSeq.take(5) == r.toSeq.drop(5), r)
      }
    }
  }
}
