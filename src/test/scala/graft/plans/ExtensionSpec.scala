package graft.plans

import graft.{SparkFixture, Tables}
import graft.operators.ExtensionShowcase
import graft.plans.ManifestRuleSupport.{MetaCount, Prune, scanFiles, sessionWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

class ExtensionSpec extends AnyFunSuite with SparkFixture {

  test("both registration paths inject the same ordered component list, " +
      "and ensureRegistered is idempotent") {
    import org.apache.spark.sql.GraftSpecBridge
    val (strategies, rules) =
      GraftSpecBridge.injected(new GraftExtensions, spark)
    val fresh = spark.newSession()
    Graft.ensureRegistered(fresh)
    val x = fresh.experimental
    assert(x.extraStrategies == strategies)
    assert(x.extraOptimizations == rules)
    assert(rules == Seq(SimilarityJoinRewrite, MetaCountRule,
      ManifestPruneRule, RoundTripElisionRule))
    Graft.ensureRegistered(fresh)
    assert(x.extraStrategies == strategies)
    assert(x.extraOptimizations == rules)
  }

  test("group_top_k matches the window row_number formulation exactly") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val custom = Graft.groupTopK(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
      .orderBy("o_custkey", "o_orderkey").collect()
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val reference = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy("o_custkey", "o_orderkey").collect()
    assert(custom.length == reference.length)
    assert(custom.sameElements(reference))
  }

  test("group_top_k plans partial+final heaps; only partial winners are sorted") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val df = Graft.groupTopK(o, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupTopK"), plan)
    assert(!plan.contains("Window"), plan)
    // partial heap below the exchange; the final phase streams sorted
    // group runs, so EXACTLY ONE sort exists and it sits ABOVE the
    // exchange — it orders the pruned partial winners (≤ k rows per
    // group × partition), never the raw input (the window plan's cost)
    val idxExchange = plan.indexOf("Exchange")
    val idxSort = plan.indexOf("Sort")
    assert(idxExchange >= 0, plan)
    assert(idxSort >= 0 && idxSort < idxExchange, plan) // above = printed before
    assert(plan.indexOf("Sort", idxSort + 1) == -1, plan) // only one sort
    assert(plan.indexOf("GroupTopK") < idxExchange, plan)
    assert(plan.lastIndexOf("GroupTopK") > -1 &&
      plan.indexOf("GroupTopK") != plan.lastIndexOf("GroupTopK"), plan)
  }

  test("diversity sample (qL36) runs on GroupTopK, not a window") {
    val plan = graft.operators.Similarity.qL36(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GroupTopK"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("group_top_k partial-phase group cap passes overflow through, result unchanged") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    def run() = Graft.groupTopK(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
      .orderBy("o_custkey", "o_orderkey").collect()
    val uncapped = run()
    spark.conf.set("spark.graft.grouptopk.maxGroupsPerPartition", "4")
    try {
      val capped = run()
      assert(capped.sameElements(uncapped))
    } finally spark.conf.unset("spark.graft.grouptopk.maxGroupsPerPartition")
  }

  test("group_top_k handles null keys, null order values, and k > group size") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(10.0)), (Some(1L), None), (Some(1L), Some(30.0)),
      (None, Some(5.0)), (None, Some(7.0)),
      (Some(2L), Some(1.0))) // group smaller than k
      .toDF("g", "v")
    val custom = Graft.groupTopK(df, Seq(col("g")),
        Seq(col("v").desc, col("g")), k = 2)
      .orderBy(col("g").asc_nulls_first, col("v").asc_nulls_first).collect()
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("g"))
    val reference = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .orderBy(col("g").asc_nulls_first, col("v").asc_nulls_first).collect()
    assert(custom.sameElements(reference),
      s"custom=${custom.mkString(",")} ref=${reference.mkString(",")}")
  }

  test("group_top_k with empty grouping returns the global top-k") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val custom = Graft.groupTopK(o, Seq.empty,
        Seq(col("o_totalprice").desc, col("o_orderkey")), k = 5)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).collect()
    val reference = o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).collect()
    assert(custom.sameElements(reference))
  }

  test("lsh rewrite eliminates the cartesian product and keeps every pair") {
    // exact pairs via the naive plan (rewrite off at analysis+optimization
    // of this dataframe: flag not yet set in a fresh-conf clone)
    spark.conf.set("spark.graft.lsh.rewrite", "false")
    val exact = ExtensionShowcase.naiveCosineJoin(spark, sfDir, 0.45).collect()
    val naivePlan = ExtensionShowcase.naiveCosineJoin(spark, sfDir, 0.45)
      .queryExecution.executedPlan.toString
    assert(naivePlan.contains("CartesianProduct") ||
      naivePlan.contains("BroadcastNestedLoopJoin"), naivePlan)

    val rewritten = ExtensionShowcase.qX02(spark, sfDir)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Generate"), plan) // the LSH bucket explode
    val got = rewritten.collect()
    spark.conf.set("spark.graft.lsh.rewrite", "false")
    // precision is exact by construction; at 3 bits x 24 tables recall is
    // 1 - (1-p^3)^24 > 0.999 per pair, and with the fixed seed the outcome
    // is deterministic — verified here to be the full exact pair set
    assert(got.sameElements(exact),
      s"rewritten ${got.length} pairs vs exact ${exact.length}")
  }

  test("round-trip elision rule: the xml/json codec pairs vanish from the " +
      "plan, results match the executed codecs bit-for-bit (nulls " +
      "included), and the per-codec soundness fences hold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Graft.ensureRegistered(spark)
    spark.conf.set("spark.graft.codec.elide", "false")
    val naive = ExtensionShowcase.naiveXmlRoundTrip(spark, sfDir)
    assert(naive.queryExecution.optimizedPlan.toString.contains("from_xml"))
    val exact = naive.collect()

    val elided = ExtensionShowcase.qX04(spark, sfDir)
    val plan = elided.queryExecution.optimizedPlan.toString
    assert(!plan.contains("from_xml") && !plan.contains("to_xml"), plan)
    assert(elided.collect().sameElements(exact))

    // a NULL integral field agrees across both paths: to_xml omits the
    // element, from_xml reads the missing element as null — the elided
    // cast must land on the same rows
    val inSch = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val rows = java.util.Arrays.asList(Row(1L, 2L), Row(3L, null))
    def viaCodec(sess: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] =
      sess.createDataFrame(rows, inSch)
        .select(from_xml(to_xml(struct(col("a"), col("b"))), inSch).as("r"))
        .select(col("r.a"), col("r.b")).orderBy("a")
        .collect().map(_.toSeq.toList).toSeq
    val executed = viaCodec(spark) // flag off: the codec really runs
    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.codec.elide", "true")
    assert(viaCodec(iso) == executed &&
      executed == Seq(List(1L, 2L), List(3L, null)))

    // fences, on parquet-backed frames (a LocalRelation child would be
    // constant-folded whole and prove nothing): a STRING field must NOT
    // elide — surrounding-whitespace trim is codec semantics the cast
    // would skip — and a name-misaligned schema must not elide either
    val strSch = StructType(Seq(StructField("o_orderpriority", StringType)))
    val fenced = Tables.orders(iso, sfDir)
      .select(from_xml(to_xml(struct(col("o_orderpriority"))), strSch).as("r"))
    assert(fenced.queryExecution.optimizedPlan.toString.contains("from_xml"))
    val renamed = StructType(Seq(
      StructField("x", LongType), StructField("o_custkey", LongType)))
    val mis = Tables.orders(iso, sfDir)
      .select(from_xml(to_xml(struct(col("o_orderkey"), col("o_custkey"))),
        renamed).as("r"))
    assert(mis.queryExecution.optimizedPlan.toString.contains("from_xml"))
    // positive control on the same backing: aligned integral fields DO
    // elide in this session
    val inSchQ = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType)))
    val ok = Tables.orders(iso, sfDir)
      .select(from_xml(to_xml(struct(col("o_orderkey"), col("o_custkey"))),
        inSchQ).as("r"))
    assert(!ok.queryExecution.optimizedPlan.toString.contains("from_xml"))

    // ---- the JSON twin: Spark's own OptimizeJsonExprs does NOT elide
    // the full round trip (probed on 4.1), so the rule covers it with a
    // wider gate — JSON escapes strings losslessly, so STRING fields
    // elide here (unlike XML, whose trim fence stands above)
    val jsonSch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType)))
    def jsonChain(sess: org.apache.spark.sql.SparkSession) =
      Tables.orders(sess, sfDir)
        .select(from_json(to_json(struct(col("o_orderkey"),
          col("o_orderpriority"))), jsonSch).as("r"))
        .select(col("r.o_orderkey"), col("r.o_orderpriority"))
    assert(jsonChain(spark).queryExecution.optimizedPlan.toString
      .contains("from_json")) // flag off: the pair survives optimization
    assert(!jsonChain(iso).queryExecution.optimizedPlan.toString
      .contains("from_json")) // flag on: elided, string field included
    assert(jsonChain(iso).orderBy("o_orderkey").collect()
      .sameElements(jsonChain(spark).orderBy("o_orderkey").collect()))
    // null field agreement through the json codec vs the elided cast
    def viaJson(sess: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] =
      sess.createDataFrame(rows, inSch)
        .select(from_json(to_json(struct(col("a"), col("b"))), inSch).as("r"))
        .select(col("r.a"), col("r.b")).orderBy("a")
        .collect().map(_.toSeq.toList).toSeq
    assert(viaJson(iso) == viaJson(spark) &&
      viaJson(spark) == Seq(List(1L, 2L), List(3L, null)))
    // json fence: a DOUBLE field must not elide (NaN/Infinity rendering
    // is not provably invertible)
    val dblSch = StructType(Seq(StructField("o_totalprice", DoubleType)))
    val dbl = Tables.orders(iso, sfDir)
      .select(from_json(to_json(struct(col("o_totalprice"))), dblSch).as("r"))
    assert(dbl.queryExecution.optimizedPlan.toString.contains("from_json"))
  }

  test("round-trip elision recurses into nested structs (both codecs) and " +
      "arrays (json only); nullability never blocks; the lossy-shape " +
      "fences hold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Graft.ensureRegistered(spark)
    spark.conf.set("spark.graft.codec.elide", "false")
    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.codec.elide", "true")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString

    // NESTED STRUCT, xml + json, parquet-backed (a LocalRelation child
    // would be constant-folded whole and prove nothing): recursing the
    // per-codec leaf gates elides the pair; results equal the executed
    // codec bit-for-bit
    val nestedSch = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("c", StructType(Seq(
        StructField("o_custkey", LongType),
        StructField("ck_i", IntegerType))))))
    def nested(sess: org.apache.spark.sql.SparkSession,
        via: (org.apache.spark.sql.Column, StructType) => org.apache.spark.sql.Column,
        render: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Tables.orders(sess, sfDir)
        .select(via(render(struct(col("o_orderkey"),
          struct(col("o_custkey"),
            col("o_custkey").cast("int").as("ck_i")).as("c"))),
          nestedSch).as("r"))
        .select(col("r.o_orderkey"), col("r.c.o_custkey"),
          col("r.c.ck_i"))
        .orderBy("o_orderkey")
    val xOn = nested(iso, from_xml(_, _), to_xml(_))
    assert(!planOf(xOn).contains("from_xml"), planOf(xOn))
    assert(xOn.collect().sameElements(
      nested(spark, from_xml(_, _), to_xml(_)).collect()))
    val jOn = nested(iso, from_json(_, _), to_json(_))
    assert(!planOf(jOn).contains("from_json"), planOf(jOn))
    assert(jOn.collect().sameElements(
      nested(spark, from_json(_, _), to_json(_)).collect()))

    // value agreement on the nested null shapes (the probed 4.1 facts the
    // gate relies on): a NULL inner struct round-trips (element/key
    // omitted -> null) and an ALL-NULL-FIELDS inner struct renders as an
    // EMPTY element/object and parses back NON-null — the elided cast
    // must land on the identical rows for both codecs
    val inner = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType)))
    val nsch = StructType(Seq(
      StructField("a", LongType), StructField("c", inner)))
    val nrows = java.util.Arrays.asList(
      Row(1L, Row(10L, 20L)), Row(2L, null), Row(3L, Row(null, null)))
    def viaNested(sess: org.apache.spark.sql.SparkSession,
        json: Boolean): Seq[Seq[Any]] = {
      val src = sess.createDataFrame(nrows, nsch)
        .select(struct(col("a"), col("c")).as("s"))
      val rt = if (json) from_json(to_json(col("s")), nsch)
        else from_xml(to_xml(col("s")), nsch)
      src.select(rt.as("r")).select(col("r.a"), col("r.c"))
        .orderBy("a").collect().map(_.toSeq.toList).toSeq
    }
    assert(viaNested(iso, json = false) == viaNested(spark, json = false))
    assert(viaNested(iso, json = true) == viaNested(spark, json = true))
    assert(viaNested(spark, json = true) ==
      Seq(List(1L, Row(10L, 20L)), List(2L, null), List(3L, Row(null, null))))

    // ARRAYS: json elides (`[]`, null, and null elements all round-trip
    // json text exactly); xml must NOT (repeated-element encoding is
    // lossy: empty -> null, null elements dropped — probed on 4.1)
    val arrSch = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("ks", ArrayType(LongType))))
    def arr(sess: org.apache.spark.sql.SparkSession, json: Boolean) = {
      val s0 = Tables.orders(sess, sfDir)
        .select(struct(col("o_orderkey"),
          array(col("o_custkey"), col("o_orderkey")).as("ks")).as("s"))
      val rt = if (json) from_json(to_json(col("s")), arrSch)
        else from_xml(to_xml(col("s")), arrSch)
      s0.select(rt.as("r")).select(col("r.o_orderkey"), col("r.ks"))
        .orderBy("o_orderkey")
    }
    assert(!planOf(arr(iso, json = true)).contains("from_json"))
    assert(arr(iso, json = true).collect().sameElements(
      arr(spark, json = true).collect()))
    assert(planOf(arr(iso, json = false)).contains("from_xml"),
      "xml arrays are lossy and must stay fenced")
    // json array value agreement on the degenerate shapes
    val aSch = StructType(Seq(
      StructField("a", LongType), StructField("arr", ArrayType(LongType))))
    val aRows = java.util.Arrays.asList(
      Row(1L, Seq(1L, 2L)), Row(2L, Seq.empty[Long]), Row(3L, null),
      Row(4L, Seq(null, 5L)))
    def viaArr(sess: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] =
      sess.createDataFrame(aRows, aSch)
        .select(from_json(to_json(struct(col("a"), col("arr"))), aSch).as("r"))
        .select(col("r.a"), col("r.arr")).orderBy("a")
        .collect().map(_.toSeq.toList).toSeq
    assert(viaArr(iso) == viaArr(spark))

    // a float leaf ANYWHERE in the nest blocks (NaN/Infinity rendering is
    // not provably invertible) — the recursion must not widen the gate
    val deepDbl = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("c", StructType(Seq(
        StructField("o_totalprice", DoubleType))))))
    val fencedDeep = Tables.orders(iso, sfDir)
      .select(from_json(to_json(struct(col("o_orderkey"),
        struct(col("o_totalprice")).as("c"))), deepDbl).as("r"))
    assert(planOf(fencedDeep).contains("from_json"))

    // NULLABILITY (the r14 advice finding): a user-supplied NOT NULL
    // parse schema over a nullable source must still elide AND execute —
    // the cast targets the parsers' declared all-nullable output type,
    // so the plan stays valid where a cast to the tight schema would be
    // an ill-typed nullable->non-nullable struct cast
    val tight = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false)))
    def tightChain(sess: org.apache.spark.sql.SparkSession) =
      Tables.orders(sess, sfDir)
        .select(from_json(to_json(struct(col("o_orderkey"),
          col("o_custkey"))), tight).as("r"))
        .select(col("r.o_orderkey"), col("r.o_custkey"))
        .orderBy("o_orderkey")
    assert(!planOf(tightChain(iso)).contains("from_json"))
    assert(tightChain(iso).collect().sameElements(tightChain(spark).collect()))
  }

  test("round-trip elision recurses into string-keyed maps (json only, " +
      "nested and top-level); non-string-value and xml fences hold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    Graft.ensureRegistered(spark)
    spark.conf.set("spark.graft.codec.elide", "false")
    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.codec.elide", "true")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString

    // STRUCT WITH A MAP FIELD, parquet-backed: json elides and lands on
    // the executed codec's exact rows; xml stays fenced (no map encoding)
    val mSch = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("kv", MapType(StringType, LongType))))
    def viaStruct(sess: org.apache.spark.sql.SparkSession, json: Boolean) = {
      val s0 = Tables.orders(sess, sfDir)
        .select(struct(col("o_orderkey"),
          map(lit("ck"), col("o_custkey"), lit("ok"), col("o_orderkey"))
            .as("kv")).as("s"))
      val rt = if (json) from_json(to_json(col("s")), mSch)
        else from_xml(to_xml(col("s")), mSch)
      s0.select(rt.as("r"))
        .select(col("r.o_orderkey"), map_values(col("r.kv")).as("vs"))
        .orderBy("o_orderkey")
    }
    assert(!planOf(viaStruct(iso, json = true)).contains("from_json"),
      planOf(viaStruct(iso, json = true)))
    assert(viaStruct(iso, json = true).collect().sameElements(
      viaStruct(spark, json = true).collect()))
    assert(planOf(viaStruct(iso, json = false)).contains("from_xml"),
      "xml has no map encoding and must stay fenced")

    // TOP-LEVEL map parse schema (from_json accepts MapType directly)
    val topSch = MapType(StringType, LongType)
    def viaTop(sess: org.apache.spark.sql.SparkSession) =
      Tables.orders(sess, sfDir)
        .select(from_json(
          to_json(map(lit("ck"), col("o_custkey"))), topSch).as("m"))
        .select(element_at(col("m"), "ck").as("ck")).orderBy("ck")
    assert(!planOf(viaTop(iso)).contains("from_json"), planOf(viaTop(iso)))
    assert(viaTop(iso).collect().sameElements(viaTop(spark).collect()))

    // degenerate-shape value agreement (the probed 4.1 facts the gate
    // relies on): entries / empty map / null map / null value / struct
    // values incl. a null struct — elided == executed == expected
    val vInner = StructType(Seq(StructField("x", LongType)))
    val dSch = StructType(Seq(
      StructField("a", LongType),
      StructField("m", MapType(StringType, LongType)),
      StructField("ms", MapType(StringType, vInner))))
    val dRows = java.util.Arrays.asList(
      Row(1L, Map("k" -> 1L, "n" -> null), Map("s" -> Row(5L))),
      Row(2L, Map.empty[String, Long], Map("z" -> null)),
      Row(3L, null, null))
    def viaDegen(sess: org.apache.spark.sql.SparkSession): Seq[Seq[Any]] =
      sess.createDataFrame(dRows, dSch)
        .select(from_json(to_json(struct(col("a"), col("m"), col("ms"))),
          dSch).as("r"))
        .select(col("r.a"), col("r.m"), col("r.ms")).orderBy("a")
        .collect().map(_.toSeq.toList).toSeq
    assert(viaDegen(iso) == viaDegen(spark))
    assert(viaDegen(spark).map(_.head) == Seq(1L, 2L, 3L))
    assert(viaDegen(spark)(0)(1) == Map("k" -> 1L, "n" -> null) &&
      viaDegen(spark)(0)(2) == Map("s" -> Row(5L)) &&
      viaDegen(spark)(1)(1) == Map.empty[String, Long] &&
      viaDegen(spark)(1)(2) == Map("z" -> null) &&
      viaDegen(spark)(2)(1) == null)

    // a non-exact VALUE type fences exactly like any other leaf: a
    // double-valued map must not elide (NaN/Infinity rendering)
    val dblSch = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("kv", MapType(StringType, DoubleType))))
    val fenced = Tables.orders(iso, sfDir)
      .select(from_json(to_json(struct(col("o_orderkey"),
        map(lit("p"), col("o_totalprice")).as("kv"))), dblSch).as("r"))
    assert(planOf(fenced).contains("from_json"))

    // non-string KEYS need no fence of ours: from_json itself rejects
    // them at analysis time, so the pair can never reach the optimizer
    val intKey = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.orders(iso, sfDir)
        .select(from_json(to_json(map(col("o_orderkey"), lit(1L))),
          MapType(LongType, LongType)).as("m"))
        .queryExecution.optimizedPlan
    }
    assert(intKey.getMessage.contains("INVALID_JSON_MAP_KEY_TYPE") ||
      intKey.getMessage.toLowerCase.contains("key"), intKey.getMessage)
  }

  test("lsh rewrite bag mode keeps naive multiplicity with no dedup operator") {
    spark.conf.set("spark.graft.lsh.rewrite", "false")
    val exact = ExtensionShowcase.naiveCosineJoin(spark, sfDir, 0.45).collect()
    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.lsh.rewrite", "true")
    iso.conf.set("spark.graft.lsh.bits", "3")
    iso.conf.set("spark.graft.lsh.tables", "24")
    iso.conf.set("spark.graft.lsh.multiplicity", "bag")
    val bag = ExtensionShowcase.naiveCosineJoin(iso, sfDir, 0.45)
    val plan = bag.queryExecution.optimizedPlan.toString
    // no Aggregate/Distinct node: dedup happens inside the join condition
    assert(!plan.contains("Aggregate"), plan)
    assert(plan.contains("first_equal_index"), plan)
    assert(bag.collect().sameElements(exact))
  }

  test("lsh rewrite does not re-bucket an explicit LSH pipeline") {
    import graft.operators.Similarity
    spark.conf.set("spark.graft.lsh.rewrite", "false")
    val off = Similarity.nearDupPairs(spark, sfDir, threshold = 0.45,
      bits = 6, tables = 8).collect()
    Graft.ensureRegistered(spark)
    spark.conf.set("spark.graft.lsh.rewrite", "true")
    val on = Similarity.nearDupPairs(spark, sfDir, threshold = 0.45,
      bits = 6, tables = 8).collect()
    spark.conf.set("spark.graft.lsh.rewrite", "false")
    assert(on.sameElements(off))
  }

  test("ngrams generator streams shingles, handles null and short input") {
    import spark.implicits._
    import graft.functions.NGramGenerator
    val df = Seq((1L, "abcd"), (2L, "ab"), (3L, null: String))
      .toDF("id", "text")
    val got = df.select(col("id"), NGramGenerator(col("text"), 3).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "abc"), (1L, "bcd"))) // short + null yield no rows
    // registered as a SQL table-valued generator too
    Graft.ensureRegistered(spark)
    df.createOrReplaceTempView("ngt")
    val sqlGot = spark.sql("SELECT ngrams(text, 2) AS g FROM ngt WHERE id = 1")
      .collect().map(_.getString(0)).toSet
    assert(sqlGot == Set("ab", "bc", "cd"))
  }

  test("sql-registered custom functions evaluate from sql text") {
    Graft.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c, " +
        "poly_hash('abc') AS p, " +
        "size(lsh_buckets(array(1.0f, 0.0f), 4, 8, 0)) AS n").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) == graft.functions.PolyHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    assert(r.getInt(2) == 8)
  }

  test("manifest-prune rule: a filter over a registered table scans only " +
      "manifest-surviving files, with full result parity") {
    import graft.io.{StatsManifest, Writers}
    val dir = java.nio.file.Files.createTempDirectory("graft-mprune").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Seq("l_orderkey")))
    try {
      val (kLo, kHi) = (li.agg(min("l_orderkey")).head().getLong(0),
        li.agg(max("l_orderkey")).head().getLong(0))
      val (lo, hi) = (kLo + (kHi - kLo) / 2, kLo + (kHi - kLo) / 2 + (kHi - kLo) / 8)
      // opt-in on an isolated session, the qX02 pattern
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.prune", "true")
      def query(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir)
          .where(col("l_orderkey").between(lo, hi) && col("l_quantity") > 0)
          .orderBy("l_orderkey", "l_partkey", "l_quantity")
      val pruned = query(iso)
      val filesRead = scanFiles(pruned)
      assert(filesRead > 0 && filesRead <= 4,
        s"range band should confine the scan to ~2 of 16 files, read $filesRead")
      // the predicate is re-applied in full: rows identical to a session
      // with no rule, no registry, no pruning
      assert(pruned.collect().sameElements(query(spark).collect()))
      // a query with no usable bounds is untouched (all 16 files)
      assert(scanFiles(iso.read.parquet(dir).where(col("l_quantity") > 0)) == 16)

      // hive-partitioned table: the rewritten relation keeps partition
      // columns resolvable (the rule passes basePath), data-column bounds
      // still prune, and results carry the partition column intact
      val pdir = java.nio.file.Files.createTempDirectory("graft-mprune-p").toString
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      // range-cluster on the key WITHIN the hive partitioning, so each
      // partition dir holds several files with narrow key spans — the
      // layout where per-file stats can actually prune
      o.repartitionByRange(8, col("o_orderkey"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(pdir)
      ManifestRegistry.register(spark, pdir,
        StatsManifest.build(spark, pdir, Seq("o_orderkey")))
      try {
        val oHi = o.agg(max("o_orderkey")).head().getLong(0)
        def pq(s: org.apache.spark.sql.SparkSession) =
          s.read.parquet(pdir).where(col("o_orderkey") <= oHi / 8)
            .orderBy("o_orderkey", "o_custkey", "o_orderpriority")
        val prunedP = pq(iso)
        val total = scanFiles(spark.read.parquet(pdir).where(col("o_custkey") > 0))
        assert(scanFiles(prunedP) < total,
          "partitioned table: data-column band did not prune files")
        assert(prunedP.collect().sameElements(pq(spark).collect()))
      } finally ManifestRegistry.deregister(spark, pdir)
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("meta-count rule: a global COUNT(*) under an exact band answers " +
      "from manifest metadata; boundary-only scan; lossy predicates decline") {
    import graft.io.{StatsManifest, Writers}
    val dir = java.nio.file.Files.createTempDirectory("graft-metacnt").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Seq("l_orderkey")))
    try {
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.metacount", "true")
      val (kLo, kHi) = (li.agg(min("l_orderkey")).head().getLong(0),
        li.agg(max("l_orderkey")).head().getLong(0))
      val (lo, hi) = (kLo + (kHi - kLo) / 4, kLo + 3 * (kHi - kLo) / 4)
      def q(s: org.apache.spark.sql.SparkSession, lo: Long, hi: Long) =
        s.read.parquet(dir).where(col("l_orderkey").between(lo, hi))
          .groupBy().count()
      // mid-band: rewrite fires (boundary aggregate visible in the plan),
      // at most the two edge files are scanned, result exactly parity
      val mid = q(iso, lo, hi)
      assert(mid.queryExecution.optimizedPlan.toString
        .contains("graft_boundary_count"), "rewrite did not fire")
      assert(scanFiles(mid) <= 2, s"read ${scanFiles(mid)} of 16 files")
      assert(mid.head().getLong(0) == q(spark, lo, hi).head().getLong(0))
      // full-span band: every file credits from metadata — ZERO files read
      val full = q(iso, kLo, kHi)
      assert(scanFiles(full, allowEmpty = true) == 0,
        "full-span count must not open any file")
      assert(full.head().getLong(0) == li.count())
      // strict bounds tighten exactly on the integral domain
      val strict = iso.read.parquet(dir)
        .where(col("l_orderkey") > lo && col("l_orderkey") < hi)
        .groupBy().count()
      assert(strict.queryExecution.optimizedPlan.toString
        .contains("graft_boundary_count") ||
        scanFiles(strict, allowEmpty = true) == 0)
      assert(strict.head().getLong(0) ==
        spark.read.parquet(dir)
          .where(col("l_orderkey") > lo && col("l_orderkey") < hi).count())
      // lossy shapes DECLINE: an IN-list (interior gaps) and a conjunct on
      // an uncovered column both leave the aggregate untouched
      val inq = iso.read.parquet(dir)
        .where(col("l_orderkey").isin(lo, hi)).groupBy().count()
      assert(!inq.queryExecution.optimizedPlan.toString
        .contains("graft_boundary_count"))
      assert(inq.head().getLong(0) ==
        spark.read.parquet(dir).where(col("l_orderkey").isin(lo, hi)).count())
      val mixed = iso.read.parquet(dir)
        .where(col("l_orderkey").between(lo, hi) && col("l_quantity") > 0)
        .groupBy().count()
      assert(!mixed.queryExecution.optimizedPlan.toString
        .contains("graft_boundary_count"))
      assert(mixed.head().getLong(0) ==
        spark.read.parquet(dir)
          .where(col("l_orderkey").between(lo, hi) && col("l_quantity") > 0)
          .count())
      // bare COUNT(*): footer row totals answer with ZERO files read
      val bare = iso.read.parquet(dir).groupBy().count()
      assert(scanFiles(bare, allowEmpty = true) == 0,
        "table count must come from footer totals")
      assert(bare.head().getLong(0) == li.count())
      // global MIN/MAX on the fully-statted column: zero files read,
      // exact parity; MIN on an uncovered column declines
      val mm = iso.read.parquet(dir)
        .agg(min("l_orderkey"), max("l_orderkey"))
      assert(scanFiles(mm, allowEmpty = true) == 0,
        "min/max must come from footer stats")
      assert(mm.head() == spark.read.parquet(dir)
        .agg(min("l_orderkey"), max("l_orderkey")).head())
      val un = iso.read.parquet(dir).agg(min("l_partkey"))
      assert(scanFiles(un, allowEmpty = true) > 0,
        "uncovered column must decline the metadata answer")
      assert(un.head() ==
        spark.read.parquet(dir).agg(min("l_partkey")).head())
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("manifest-prune rule: disjunctions prune the union of their " +
      "branches' files; an unprunable branch soundly keeps all") {
    import graft.io.{StatsManifest, Writers}
    val dir = java.nio.file.Files.createTempDirectory("graft-mprune-or").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Writers.rangeClustered(li, dir, Seq("l_orderkey"), numFiles = 16)
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Seq("l_orderkey")))
    try {
      val (kLo, kHi) = (li.agg(min("l_orderkey")).head().getLong(0),
        li.agg(max("l_orderkey")).head().getLong(0))
      val span = kHi - kLo
      // two disjoint narrow bands at 1/4 and 3/4 of the key range — the
      // two-period-report shape the r10 verdict called out
      val band1 = col("l_orderkey").between(kLo + span / 4, kLo + span / 4 + span / 16)
      val band2 = col("l_orderkey").between(kLo + 3 * span / 4, kLo + 3 * span / 4 + span / 16)
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.prune", "true")
      def query(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir).where(band1 || band2)
          .orderBy("l_orderkey", "l_partkey", "l_quantity")
      val pruned = query(iso)
      val filesRead = scanFiles(pruned)
      assert(filesRead > 0 && filesRead <= 6,
        s"two bands should confine the scan to ~2x2 of 16 files, read $filesRead")
      assert(pruned.collect().sameElements(query(spark).collect()),
        "disjunctive prune: parity")
      // an OR branch with no extractable stats keeps every file (sound)
      assert(scanFiles(iso.read.parquet(dir)
        .where(band1 || col("l_quantity") > 0)) == 16)
      // AND of a disjunction with a further band intersects: the second
      // band overlaps only band2's files, so band1's files drop out
      val clip = col("l_orderkey") >= kLo + span / 2
      val both = iso.read.parquet(dir).where((band1 || band2) && clip)
        .orderBy("l_orderkey", "l_partkey", "l_quantity")
      assert(scanFiles(both) < filesRead,
        "conjoined band should intersect away the first disjunct's files")
      assert(both.collect().sameElements(
        spark.read.parquet(dir).where((band1 || band2) && clip)
          .orderBy("l_orderkey", "l_partkey", "l_quantity").collect()),
        "and-of-or prune: parity")
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("manifest-prune rule: string prefix (LIKE) and string ranges prune " +
      "files via the truncated string bands, with parity") {
    import graft.io.{StatsManifest, Writers}
    val dir = java.nio.file.Files.createTempDirectory("graft-mprune-str").toString
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    Writers.rangeClustered(c, dir, Seq("c_name"), numFiles = 16)
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Nil, stringCols = Seq("c_name"),
        bandWidth = 18))
    try {
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.prune", "true")
      // LIKE 'prefix%' simplifies to StartsWith by the time the rule runs
      // and must confine the scan to the prefix's name band
      def likeQ(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir).where(col("c_name").like("Customer#00000001%"))
          .orderBy("c_custkey")
      val pruned = likeQ(iso)
      val filesLike = scanFiles(pruned)
      assert(filesLike > 0 && filesLike < 16,
        s"prefix query should skip files, read $filesLike of 16")
      assert(pruned.collect().sameElements(likeQ(spark).collect()),
        "LIKE prune: parity")
      // a plain string range prunes through the same bands
      val names = c.select("c_name").orderBy("c_name").collect().map(_.getString(0))
      val (lo, hi) = (names(names.length / 2), names(names.length / 2 + names.length / 8))
      def rangeQ(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir).where(col("c_name") >= lo && col("c_name") <= hi)
          .orderBy("c_custkey")
      val prunedR = rangeQ(iso)
      val filesRange = scanFiles(prunedR)
      assert(filesRange > 0 && filesRange < 16,
        s"string range should skip files, read $filesRange of 16")
      assert(prunedR.collect().sameElements(rangeQ(spark).collect()),
        "string range prune: parity")
      // both IN forms contribute their [min, max] envelope: 3 members
      // stay an In, 20 over the same envelope become the optimizer's InSet
      val run = names.slice(names.length / 2, names.length / 2 + 20)
      def inQ(s: org.apache.spark.sql.SparkSession, members: Seq[String]) =
        s.read.parquet(dir).where(col("c_name").isin(members: _*))
          .orderBy("c_custkey")
      val (few, many) = (Seq(run.head, run(10), run.last), run.toSeq)
      val filesIn = scanFiles(inQ(iso, few))
      val filesInSet = scanFiles(inQ(iso, many))
      assert(filesIn < 16, s"IN should skip files, read $filesIn of 16")
      assert(filesInSet <= filesIn,
        s"InSet read $filesInSet files, In over the same envelope $filesIn")
      assert(inQ(iso, many).collect().sameElements(inQ(spark, many).collect()),
        "InSet prune: parity")
      // a non-ASCII literal contributes nothing: all files kept (sound)
      assert(scanFiles(iso.read.parquet(dir)
        .where(col("c_name") <= "Customer#café")) == 16)
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("manifest-prune rule: date, timestamp, ntz and decimal bands prune " +
      "files on flat, hive-partitioned and MILLIS-written layouts, with parity") {
    import graft.io.{StatsManifest, Writers}
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    // the corpus's o_orderdate is TIMESTAMP_NTZ since the 2026-08 regen;
    // derive every temporal flavor + a decimal from it so the spec
    // exercises each stat domain the rule claims to prune on
    val o = Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      to_date(col("o_orderdate")).as("o_date"),                    // DATE (INT32 days)
      col("o_orderdate").cast(TimestampType).as("o_ts"),           // TIMESTAMP_MICROS utc
      col("o_orderdate").as("o_ntz"),                              // TIMESTAMP_MICROS ntz
      col("o_totalprice").cast(DecimalType(12, 2)).as("o_price"))  // INT64 unscaled
    val (dLo, dHi) = {
      val r = o.agg(min("o_date"), max("o_date")).head()
      (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
    }
    val span = java.time.temporal.ChronoUnit.DAYS.between(dLo, dHi)
    val (bandLo, bandHi) = (dLo.plusDays(span / 2), dLo.plusDays(span / 2 + span / 8))

    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.manifest.prune", "true")

    def checkBand(dir: String, mk: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame,
        total: Int, tag: String): Unit = {
      val pruned = mk(iso)
      val files = scanFiles(pruned)
      assert(files > 0 && files < total,
        s"$tag: band should skip files ($files of $total read)")
      assert(pruned.collect().sameElements(mk(spark).collect()), s"$tag: parity")
    }

    // flat layout, date-clustered: all temporal flavors correlate with the
    // cluster key, so each bound domain must prune on the same files.
    // Spark's DEFAULT parquet timestamp encoding is INT96, whose stats are
    // binary → NULL in the manifest → no skipping; a stats-aware layout
    // writer must use TIMESTAMP_MICROS (the modern encoding) for pruning
    // to exist at all
    val dir = java.nio.file.Files.createTempDirectory("graft-mprune-dt").toString
    val prevEnc = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Writers.rangeClustered(o, dir, Seq("o_date"), numFiles = 16)
    finally prevEnc match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    ManifestRegistry.register(spark, dir,
      StatsManifest.build(spark, dir, Seq("o_date", "o_ts", "o_ntz", "o_price")))
    try {
      checkBand(dir, s => s.read.parquet(dir)
        .where(col("o_date").between(lit(java.sql.Date.valueOf(bandLo)),
          lit(java.sql.Date.valueOf(bandHi))))
        .orderBy("o_orderkey"), 16, "date band")
      checkBand(dir, s => s.read.parquet(dir)
        .where(col("o_ts") >= lit(java.sql.Timestamp.valueOf(bandLo.atStartOfDay)) &&
          col("o_ts") < lit(java.sql.Timestamp.valueOf(bandHi.atStartOfDay)))
        .orderBy("o_orderkey"), 16, "timestamp band")
      checkBand(dir, s => s.read.parquet(dir)
        .where(col("o_ntz") >= lit(bandLo.atStartOfDay) &&
          col("o_ntz") < lit(bandHi.atStartOfDay))
        .orderBy("o_orderkey"), 16, "ntz band")
    } finally ManifestRegistry.deregister(spark, dir)

    // IN-list bounds: both the In form (small list) and the optimizer's
    // InSet rewrite (large list) prune to the members' [min, max]
    // envelope on the same date-clustered layout
    val dir2 = java.nio.file.Files.createTempDirectory("graft-mprune-in").toString
    Writers.rangeClustered(o.select("o_orderkey"), dir2, Seq("o_orderkey"), numFiles = 16)
    ManifestRegistry.register(spark, dir2,
      StatsManifest.build(spark, dir2, Seq("o_orderkey")))
    try {
      val kHi = o.agg(max("o_orderkey")).head().getLong(0)
      val few = Seq(kHi / 2, kHi / 2 + 1, kHi / 2 + 7) // In
      checkBand(dir2, s => s.read.parquet(dir2)
        .where(col("o_orderkey").isin(few: _*)).orderBy("o_orderkey"),
        16, "IN-list band")
      val many = (kHi / 2 to kHi / 2 + 40).toSeq // > 10 values → InSet
      checkBand(dir2, s => s.read.parquet(dir2)
        .where(col("o_orderkey").isin(many: _*)).orderBy("o_orderkey"),
        16, "InSet band")
    } finally ManifestRegistry.deregister(spark, dir2)

    // decimal bounds need a price-clustered layout to have skippable files
    val pdir = java.nio.file.Files.createTempDirectory("graft-mprune-dec").toString
    Writers.rangeClustered(o, pdir, Seq("o_price"), numFiles = 16)
    ManifestRegistry.register(spark, pdir,
      StatsManifest.build(spark, pdir, Seq("o_price")))
    try {
      val cut = o.stat.approxQuantile("o_price", Array(0.25), 0.01).head
      checkBand(pdir, s => s.read.parquet(pdir)
        .where(col("o_price") <= lit(BigDecimal(cut).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)))
        .orderBy("o_orderkey"), 16, "decimal band")
    } finally ManifestRegistry.deregister(spark, pdir)

    // hive-partitioned layout: date-band pruning must survive partition
    // directories (basePath keeps the partition column resolvable)
    val hdir = java.nio.file.Files.createTempDirectory("graft-mprune-hive").toString
    val op = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
      col("o_orderpriority"))
    op.repartitionByRange(8, col("o_date"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(hdir)
    ManifestRegistry.register(spark, hdir,
      StatsManifest.build(spark, hdir, Seq("o_date")))
    try {
      val htotal = scanFiles(spark.read.parquet(hdir).where(col("o_orderkey") > 0))
      checkBand(hdir, s => s.read.parquet(hdir)
        .where(col("o_date").between(lit(java.sql.Date.valueOf(bandLo)),
          lit(java.sql.Date.valueOf(bandHi))))
        .orderBy("o_orderkey", "o_orderpriority"), htotal, "hive date band")
    } finally ManifestRegistry.deregister(spark, hdir)

    // TIMESTAMP_MILLIS-written files: the manifest normalizes ms stats to
    // µs, so the same µs-domain timestamp band prunes there too
    val mdir = java.nio.file.Files.createTempDirectory("graft-mprune-ms").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Writers.rangeClustered(o.select("o_orderkey", "o_ts"), mdir,
      Seq("o_ts"), numFiles = 16)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    ManifestRegistry.register(spark, mdir,
      StatsManifest.build(spark, mdir, Seq("o_ts")))
    try {
      checkBand(mdir, s => s.read.parquet(mdir)
        .where(col("o_ts") >= lit(java.sql.Timestamp.valueOf(bandLo.atStartOfDay)) &&
          col("o_ts") < lit(java.sql.Timestamp.valueOf(bandHi.atStartOfDay)))
        .orderBy("o_orderkey"), 16, "millis-written timestamp band")
    } finally ManifestRegistry.deregister(spark, mdir)
  }

  test("bloom sidecars prune on equality over an UNCLUSTERED column where " +
      "min/max bounds span every file, with full result parity") {
    import graft.io.{StatsManifest, Writers}
    // cluster by o_orderkey: every file's o_custkey min/max spans nearly
    // the whole domain, so range stats prune NOTHING for a custkey
    // lookup — exactly the case the bloom sidecar exists for
    val dir = java.nio.file.Files.createTempDirectory("graft-mprune-bloom").toString
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Writers.rangeClustered(o, dir, Seq("o_orderkey"), numFiles = 16)
    val manifest = StatsManifest.withBlooms(spark, dir,
      StatsManifest.build(spark, dir, Seq("o_orderkey")),
      Seq("o_custkey"), expectedItems = 10000L)
    ManifestRegistry.register(spark, dir, manifest)
    try {
      val iso = spark.newSession()
      Graft.ensureRegistered(iso)
      iso.conf.set("spark.graft.manifest.prune", "true")
      // the rarest customer: present in the fewest files, so the bloom
      // probe must confine the scan well below the full 16
      val rare = o.groupBy("o_custkey").count()
        .orderBy(col("count"), col("o_custkey")).head().getLong(0)
      def eq(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir).where(col("o_custkey") === rare)
          .orderBy("o_orderkey")
      val files = scanFiles(eq(iso))
      assert(files > 0 && files < 16,
        s"bloom should confine an unclustered equality lookup, read $files/16")
      assert(eq(iso).collect().sameElements(eq(spark).collect()))
      // range stats alone really couldn't have done this: the same query
      // through a bloom-free manifest reads everything
      ManifestRegistry.register(spark, dir,
        StatsManifest.build(spark, dir, Seq("o_orderkey")))
      assert(scanFiles(eq(iso)) == 16)
      ManifestRegistry.register(spark, dir, manifest)
      // IN-list probes OR across points
      val rare2 = o.groupBy("o_custkey").count()
        .orderBy(col("count"), col("o_custkey")).collect()(1).getLong(0)
      def in(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(dir).where(col("o_custkey").isin(rare, rare2))
          .orderBy("o_orderkey")
      assert(scanFiles(in(iso)) < 16)
      assert(in(iso).collect().sameElements(in(spark).collect()))

      // incremental maintenance: land 4 more files, appendWithBlooms
      // must footer+bloom ONLY them yet prune identically to a rebuild
      o.limit(200).repartition(4).write.mode("append").parquet(dir)
      val appended = StatsManifest.appendWithBlooms(spark, dir, manifest,
        Seq("o_orderkey"), Seq("o_custkey"), expectedItems = 10000L)
      val rebuilt = StatsManifest.withBlooms(spark, dir,
        StatsManifest.build(spark, dir, Seq("o_orderkey")),
        Seq("o_custkey"), expectedItems = 10000L)
      assert(appended.count() == rebuilt.count())
      def surviving(m: org.apache.spark.sql.DataFrame) =
        StatsManifest.pruneFiles(m, Nil,
          Seq("o_custkey" -> Seq(rare.toString))).toSet
      assert(surviving(appended) == surviving(rebuilt),
        "incrementally-appended blooms prune differently from a rebuild")
      // stats columns other than the manifest's would land as NULL stats
      // for the new files: the append refuses them, as plain append does
      intercept[IllegalArgumentException](StatsManifest.appendWithBlooms(
        spark, dir, manifest, Seq("o_custkey"), Seq("o_custkey"),
        expectedItems = 10000L))
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("a streaming-maintained manifest drives the prune rule: multi-batch " +
      "ingest, transparent file skipping, and snapshot version pinning") {
    import graft.io.StatsManifest
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("graft-smanifest").toString
    val landing = new java.io.File(s"$base/landing"); landing.mkdirs()
    val n = docs.agg(max("doc_id")).head().getLong(0) + 1
    // two landing files holding disjoint doc_id halves, ascending mtimes →
    // two micro-batches at maxFilesPerTrigger=1, so the manifest's
    // incremental append path (not just the initial build) is exercised
    Seq((0L, n / 2, 0), (n / 2, n + 1, 1)).foreach { case (lo, hi, i) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/stage$i")
      val part = new java.io.File(s"$base/stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(landing, f"arrive-$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1000000000L + i * 60000L)
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val q = StreamOps.ingestWithManifest(stream, s"$base/table",
      s"$base/manifest", Seq("doc_id"), s"$base/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "ingest should have run as at least two micro-batches")

    val iso = spark.newSession()
    Graft.ensureRegistered(iso)
    iso.conf.set("spark.graft.manifest.prune", "true")
    val manifest = spark.read.parquet(s"$base/manifest")
    val total = graft.io.Readers.parquetFiles(spark, s"$base/table").size
    assert(total >= 2)

    // current manifest: a band inside batch 1's half skips batch 2's files
    ManifestRegistry.register(spark, s"$base/table", manifest)
    try {
      def pq(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(s"$base/table")
          .where(col("doc_id") < lit(n / 10)).orderBy("doc_id")
      val files = scanFiles(pq(iso))
      assert(files > 0 && files < total,
        s"band in first ingest half should skip later files ($files of $total)")
      assert(pq(iso).collect().sameElements(pq(spark).collect()))
    } finally ManifestRegistry.deregister(spark, s"$base/table")

    // pinned OLD snapshot (batch-1 files only): the manifest's file list
    // is the data version — a full-range query through the rule returns
    // exactly the rows that version held, though newer files exist on disk
    val snapshot1 = manifest.where(col("min_doc_id") < n / 2)
    assert(snapshot1.count() < total)
    ManifestRegistry.register(spark, s"$base/table", snapshot1)
    try {
      val pinned = iso.read.parquet(s"$base/table")
        .where(col("doc_id") >= 0L).orderBy("doc_id")
      val expected = docs.filter(col("doc_id") < n / 2)
        .select(docs.columns.map(col): _*).orderBy("doc_id")
      assert(scanFiles(pinned) < total)
      assert(pinned.select("doc_id").collect().toSeq ==
        expected.select("doc_id").collect().toSeq)
    } finally ManifestRegistry.deregister(spark, s"$base/table")
  }

  test("manifest rules read every comparison shape the same way in both " +
      "operand orders and in every stat domain, with parity") {
    import graft.io.{StatsManifest, Writers}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    // one key-clustered table covering every stat domain: long, DATE,
    // TIMESTAMP, TIMESTAMP_NTZ, <=18-digit DECIMAL and a string band
    val o = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      to_date(col("o_orderdate")).as("d"),
      col("o_orderdate").cast(TimestampType).as("ts"),
      col("o_orderdate").as("ntz"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("p"),
      format_string("k%08d", col("o_orderkey")).as("s"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mshapes").toString
    val prevEnc = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Writers.rangeClustered(o, dir, Seq("k"), numFiles = 8)
    finally prevEnc match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    ManifestRegistry.register(spark, dir, StatsManifest.build(spark, dir,
      Seq("k", "d", "ts", "ntz", "p"), stringCols = Seq("s")))
    try {
      val (prune, metacount) = (sessionWith(spark, Prune), sessionWith(spark, MetaCount))
      // a key inside a file, not on a file edge, so a firing count
      // rewrite keeps a boundary scan
      val mid = o.orderBy("k").collect()(o.count().toInt / 2 + 37)
      val (k, d, ts, ntz, p) = (mid.getLong(0), mid.getDate(1),
        mid.getTimestamp(2), mid.get(3), mid.getDecimal(4))
      val kc = col("k")
      val many = (k until k + 40).toSeq // > 10 members: the optimizer's InSet
      // (shape, predicate, what the meta-count rule makes of its COUNT(*):
      // a "boundary" scan plus metadata rows, "metadata" alone, or
      // "declined" — pinned as the rule has always planned them)
      val rows = Seq[(String, Column, String)](
        ("col >= lit", kc >= k, "boundary"), ("lit <= col", lit(k) <= kc, "boundary"),
        ("col > lit", kc > k, "boundary"), ("lit < col", lit(k) < kc, "boundary"),
        ("col <= lit", kc <= k, "boundary"), ("lit >= col", lit(k) >= kc, "boundary"),
        ("col < lit", kc < k, "boundary"), ("lit > col", lit(k) > kc, "boundary"),
        ("col = lit", kc === k, "boundary"), ("lit = col", lit(k) === kc, "boundary"),
        ("col <=> lit", kc <=> k, "declined"), ("lit <=> col", lit(k) <=> kc, "declined"),
        ("IN", kc.isin(k, k + 3, k + 7), "declined"),
        ("IN as InSet", kc.isin(many: _*), "declined"),
        ("DATE", col("d") >= lit(d) && lit(d) >= col("d"), "boundary"),
        ("TIMESTAMP", lit(ts) < col("ts"), "boundary"),
        ("TIMESTAMP_NTZ", col("ntz") > lit(ntz), "boundary"),
        ("DECIMAL", lit(p) >= col("p"), "boundary"),
        ("StartsWith", col("s").startsWith(f"k${k / 100}%06d"), "declined"),
        ("string lit <= col", lit(f"k$k%08d") <= col("s"), "declined"),
        ("col > Long.MaxValue", kc > Long.MaxValue, "declined"),
        ("lit(Long.MaxValue) < col", lit(Long.MaxValue) < kc, "declined"),
        ("col < Long.MinValue", kc < Long.MinValue, "declined"),
        ("lit(Long.MinValue) > col", lit(Long.MinValue) > kc, "declined"),
        ("col < Long.MaxValue", kc < Long.MaxValue, "metadata"),
        ("col > Long.MinValue", kc > Long.MinValue, "metadata"))
      rows.foreach { case (shape, pred, countPlan) =>
        def rowsOf(s: org.apache.spark.sql.SparkSession) =
          s.read.parquet(dir).where(pred).orderBy("k").collect().toSeq
        val plain = rowsOf(spark)
        assert(rowsOf(prune) == plain, s"$shape: prune rule rows")
        val mc = metacount.read.parquet(dir).where(pred).groupBy().count()
        assert(mc.head().getLong(0) == plain.size, s"$shape: meta-count")
        val plan = mc.queryExecution.optimizedPlan
        val planned =
          if (plan.toString.contains("graft_boundary_count")) "boundary"
          else if (plan.collect { case r: LogicalRelation => r }.isEmpty) "metadata"
          else "declined"
        assert(planned == countPlan, s"$shape: meta-count plan")
      }
    } finally ManifestRegistry.deregister(spark, dir)
  }

  test("the manifest rules hold no comparison matcher or literal " +
      "conversion of their own: ManifestPredicate reads every filter") {
    import java.nio.file.{Files, Paths}
    // one reader of filters against a manifest: a comparison node or a
    // typed literal pattern in a rule file would be a second reading
    val banned = Seq("""\b(GreaterThan|GreaterThanOrEqual|LessThan|""" +
        """LessThanOrEqual|EqualTo|EqualNullSafe|In|InSet|StartsWith|""" +
        """IsNotNull)\s*\(""",
      """\bLiteral\s*\(\s*\w+\s*:""", """\bDecimal\b""",
      """toUnscaledLong""", """UTF8String""").map(_.r)
    val dir = Paths.get("src/main/scala/graft/plans")
    val offenders = for {
      f <- Seq("ManifestPruneRule.scala", "MetaCountRule.scala")
      text = Files.readString(dir.resolve(f))
      b <- banned
      m <- b.findAllMatchIn(text)
    } yield s"$f: ${m.matched}"
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }
}
