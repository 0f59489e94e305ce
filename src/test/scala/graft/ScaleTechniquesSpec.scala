package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._

/** Plan-shape and equivalence specs for the scale techniques. */
class ScaleTechniquesSpec extends SparkTestBase {

  test("bucketed join plan contains no shuffle exchange") {
    // disable broadcast so the plan must rely on bucket co-location
    // (at real scale neither fact table broadcasts — this simulates it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q55_bucketed_join")(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should be bucketed:\n$plan")
      val exchanges = plan.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
      // exactly one hash exchange (for groupBy) — none for the join sides
      assert(exchanges <= 1, s"bucketed join should not shuffle its inputs:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // --- audited plan shapes, pinned so a Spark/AQE change that regresses
  // one fails CI instead of surfacing as a bench blip -------------------

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }
  private def occurrences(s: String, pat: String): Int =
    s.sliding(pat.length).count(_ == pat)

  test("q03 plan: every join broadcasts, one agg exchange (audited shape)") {
    val plan = finalPlan(
      graft.SparkEntry.queries("q03_join_agg")(spark, "/root/testdata/sf0.001"))
    assert(occurrences(plan, "BroadcastHashJoin") == 3,
      s"customer/orders/lineitem/nation must all join broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge expected:\n$plan")
    assert(occurrences(plan, "Exchange hashpartitioning") == 1,
      s"exactly the aggregation exchange:\n$plan")
  }

  test("cdc07 plan: one window + broadcast dim, no SortAggregate (audited shape)") {
    val plan = finalPlan(
      graft.SparkEntry.queries("cdc07_current_join_agg")(spark, "/root/testdata/sf0.001"))
    // latest-image via one row_number window over __pos per key
    assert(occurrences(plan, "Window [row_number()") == 1, s"expected one window:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-based aggregate crept back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"customer must broadcast:\n$plan")
    assert(occurrences(plan, "Exchange hashpartitioning") == 2,
      s"one shuffle for the key window, one for the segment agg:\n$plan")
  }

  test("llm09 plan: per-partition top-k bounds rows before the shuffle (audited shape)") {
    val plan = finalPlan(
      graft.SparkEntry.queries("llm09_knn_brute")(spark, "/root/testdata/sf0.001"))
    // partial top_k_by_sim BEFORE the exchange reduces each partition to
    // one k-bounded buffer per query — the shuffle carries k·queries
    // entries, not the full corpus×queries cross product, and (unlike
    // the WindowGroupLimit form this replaced in r18) no local sort of
    // the scored candidate set ever runs
    assert(plan.contains("partial_top_k_by_sim"),
      s"expected partial top-k aggregation before the shuffle:\n$plan")
    assert(plan.contains("functions=[top_k_by_sim"),
      s"expected final top-k aggregation after the shuffle:\n$plan")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Sort "),
      s"serve ranking must not sort the scored candidate set:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query set must ride broadcast:\n$plan")
  }

  test("salted join equals plain join") {
    val sfDir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumnRenamed("o_custkey", "custkey")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      .withColumnRenamed("c_custkey", "custkey")
    val plain = orders.join(customer, "custkey")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedJoin(orders, customer, "custkey", salts = 8)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

  test("seeded sample lands near the requested fraction") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val total = li.count()
    val row = graft.SparkEntry.queries("q53_sample")(spark, "/root/testdata/sf0.001").head()
    assert(row.getLong(row.fieldIndex("n_source")) == total)
    assert(row.getBoolean(row.fieldIndex("frac_ok")), "sample fraction outside [7%, 13%]")
    assert(row.getBoolean(row.fieldIndex("mult_ok")),
      "sample took a key more often than the source contains it")
  }

  test("salted left join preserves unmatched rows") {
    val sfDir = "/root/testdata/sf0.001"
    import spark.implicits._
    val left = Seq((1L, "a"), (2L, "b"), (99L, "nomatch")).toDF("custkey", "v")
    val right = Seq((1L, "x"), (2L, "y")).toDF("custkey", "w")
    val out = Skew.saltedJoin(left, right, "custkey", salts = 4, joinType = "left")
      .collect()
    assert(out.length == 3)
    assert(out.count(_.isNullAt(out.head.fieldIndex("w"))) == 1)
  }

  test("binned range join matches the naive BETWEEN join exactly") {
    import spark.implicits._
    val points = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
    val intervals = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .filter($"p_partkey" % 10 === 0)
      .select($"p_partkey", ($"p_retailprice" - 20).as("lo"), ($"p_retailprice" + 20).as("hi"))
    val binned = graft.ops.RangeJoin.pointInInterval(
        points, intervals, "l_extendedprice", "lo", "hi", binWidth = 25.0)
      .select($"l_orderkey", $"l_linenumber", $"p_partkey")
      .collect().map(_.toSeq).toSet
    val naive = points.join(intervals,
        $"l_extendedprice" >= $"lo" && $"l_extendedprice" <= $"hi")
      .select($"l_orderkey", $"l_linenumber", $"p_partkey")
      .collect().map(_.toSeq).toSet
    assert(binned.nonEmpty && binned == naive)
    // the rewrite's point: the bin join plans as an equi-join, never
    // broadcast-nested-loop (naive BETWEEN joins fall into BNLJ)
    val binnedPlan = graft.ops.RangeJoin.pointInInterval(
        points, intervals, "l_extendedprice", "lo", "hi", binWidth = 25.0)
      .queryExecution.executedPlan.toString
    assert(!binnedPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("property: binned range join equals naive join on random data incl. negatives") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val ptsGen = Gen.listOfN(60, Gen.choose(-500.0, 500.0))
    val ivGen = Gen.listOfN(25, Gen.zip(Gen.choose(-500.0, 500.0), Gen.choose(0.0, 80.0)))
    val prop = Prop.forAll(ptsGen, ivGen) { (ps, ivs) =>
      val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
      val intervals = ivs.zipWithIndex.map { case ((lo, w), i) => (i.toLong, lo, lo + w) }
        .toDF("iid", "lo", "hi")
      val binned = graft.ops.RangeJoin.pointInInterval(points, intervals, "v", "lo", "hi", 37.0)
        .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
        .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      binned == naive
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: interval-overlap join equals naive join, each pair exactly once") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // adversarial widths: some intervals span many bins, some sub-bin,
    // some negative coordinates, exact-boundary touches
    val ls = (0 until 300).map { i =>
      val lo = rnd.nextDouble() * 200 - 100
      (i.toLong, lo, lo + (if (i % 7 == 0) rnd.nextDouble() * 40 else rnd.nextDouble() * 3))
    }.toDF("l_id", "l_lo", "l_hi")
    val rs = (0 until 300).map { i =>
      val lo = rnd.nextDouble() * 200 - 100
      (i.toLong, lo, lo + (if (i % 5 == 0) rnd.nextDouble() * 30 else rnd.nextDouble() * 2))
    }.toDF("r_id", "r_lo", "r_hi")
    val naive = ls.join(rs, $"l_lo" <= $"r_hi" && $"r_lo" <= $"l_hi")
      .select($"l_id", $"r_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    for (bw <- Seq(0.5, 5.0, 50.0)) {
      val binned = graft.ops.RangeJoin.intervalOverlap(
          ls, rs, "l_lo", "l_hi", "r_lo", "r_hi", binWidth = bw)
        .select($"l_id", $"r_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(binned.toSeq == naive.toSeq, s"mismatch at binWidth=$bw")
    }
  }

  test("partitioned write: partition-column filter prunes at planning (q72 contract)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-partwrite").toString
    (0 until 100).map(i => (i.toLong, Seq("en", "fr", "de")(i % 3)))
      .toDF("id", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val read = spark.read.parquet(out).filter($"lang" === "en")
    val plan = read.queryExecution.executedPlan.toString
    // the filter must appear INSIDE the PartitionFilters list — the bare
    // strings "PartitionFilters"/"lang" occur in every file-scan plan
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"expected lang inside PartitionFilters:\n$plan")
    assert(read.count() == 34)
  }

  test("interval-overlap join rejects overlapping column names") {
    import spark.implicits._
    val a = Seq((1L, 0.0, 1.0)).toDF("id", "lo", "hi")
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.intervalOverlap(a, a, "lo", "hi", "lo", "hi", 1.0)
    }
  }

  test("range join: null-bounded and inverted intervals match nothing, never blow up") {
    import spark.implicits._
    val points = Seq((1L, 5.0), (2L, 50.0)).toDF("p_id", "p")
    val intervals = Seq(
      (10L, Some(0.0), Some(10.0)),          // normal: matches p=5
      (11L, None, Some(10.0)),               // null lo -> no match, no error
      (12L, Some(0.0), None),                // null hi -> no match, no error
      (13L, Some(1.0e9), Some(0.0))          // inverted: empty, NOT a 1e9-bin descending sequence
    ).toDF("i_id", "lo", "hi")
    val out = graft.ops.RangeJoin.pointInInterval(points, intervals,
        "p", "lo", "hi", binWidth = 1.0)
      .select($"p_id", $"i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
  }

  test("range join fails loud on an interval spanning more than maxBinsPerInterval bins") {
    import spark.implicits._
    val points = Seq((1L, 5.0)).toDF("pid", "v")
    val intervals = Seq((1L, 0.0, 1e7)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      graft.ops.RangeJoin.pointInInterval(points, intervals, "v", "lo", "hi",
        binWidth = 1.0, maxBinsPerInterval = 1024L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("bins")), msgs(e).mkString(" | "))
    // the same data passes when the cap accommodates the interval
    val ok = graft.ops.RangeJoin.pointInInterval(points, intervals, "v", "lo", "hi",
      binWidth = 1.0, maxBinsPerInterval = 20000000L).collect()
    assert(ok.length == 1)
  }

  test("count-min sketch estimates: never undercount, within eps*N overcount") {
    val sfDir = "/root/testdata/sf0.001"
    val est = graft.SparkEntry.queries("q61_heavy_hitters_cms")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val total = li.count()
    val exact = li.groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    est.foreach { case (k, e) =>
      val x = exact.getOrElse(k, 0L)
      assert(e >= x, s"CMS undercounted key $k: $e < $x")
      assert(e - x <= math.max(1L, (0.01 * total).toLong),
        s"CMS overcount for $k beyond bound: $e vs $x")
    }
  }

  test("approximate aggregates stay within their error bounds (q47 contract)") {
    import spark.implicits._
    // 10k rows, 1000 distinct keys, skewed values
    val df = (0 until 10000).map(i => (i % 1000, (i * 37 % 500).toDouble))
      .toDF("k", "v")
    val exact = df.agg(countDistinct($"k"), expr("percentile(v, 0.5)")).head()
    val approx = df.agg(approx_count_distinct($"k"),
      expr("approx_percentile(v, 0.5, 1000)")).head()
    // HLL++ default rsd = 5%
    val cdExact = exact.getLong(0).toDouble
    assert(math.abs(approx.getLong(0) - cdExact) / cdExact < 0.10,
      s"approx_count_distinct ${approx.getLong(0)} vs exact $cdExact")
    // accuracy=1000 -> rank error <= 1/1000; values span [0, 499]
    val pExact = exact.getDouble(1)
    val pApprox = approx.getDouble(1)
    // rank-error bound translated to value space via the value density
    assert(math.abs(pApprox - pExact) <= 5.0,
      s"approx_percentile $pApprox vs exact $pExact")
  }

  test("runtime bloom filter injects into the probe side of a shuffle join") {
    import spark.implicits._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(c.get(k)).toOption)
    try {
      c.set(keys(0), "true")
      c.set(keys(1), "0")        // test tables are far below the 10GB default
      c.set(keys(2), "100MB")
      c.set(keys(3), "-1")       // force a shuffle join so the filter pays off
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter($"o_orderkey" % 100 === 0) // selective creation-side predicate
      val joined = li.join(o, $"l_orderkey" === $"o_orderkey")
      val optimized = joined.queryExecution.optimizedPlan.toString.toLowerCase
      assert(optimized.contains("bloom"),
        s"expected an injected bloom filter in:\n$optimized")
      assert(joined.count() > 0)
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => c.set(k, x); case None => c.unset(k) }
    }
  }

  test("fileScanWidth sees partition pruning: a one-partition scan is estimated narrow") {
    // the parallelism floor keys off this estimate — a heavily pruned
    // scan that actually plans one small file must not be estimated at
    // the unpruned table's width (it would skip the repartition floor
    // exactly where the floor matters most)
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("scan-width").toString + "/t"
    (0 until 8).flatMap(p => (0 until 500).map(i => (p, i, "x" * 200)))
      .toDF("p", "id", "payload")
      .repartition(8, $"p")
      .write.partitionBy("p").parquet(dir)
    val full = spark.read.parquet(dir)
    val w0 = graft.ops.OpUtils.fileScanWidth(full)
    val w1 = graft.ops.OpUtils.fileScanWidth(full.filter($"p" === 3))
    assert(w0.isDefined && w1.isDefined, s"file relations must estimate: $w0 $w1")
    assert(w1.get < w0.get,
      s"pruned scan must be estimated narrower: pruned=${w1.get} full=${w0.get}")
    // a non-partition-column filter cannot prune — falls back to the
    // full listing, same estimate as the unfiltered scan
    assert(graft.ops.OpUtils.fileScanWidth(full.filter($"id" === 3)) == w0)
    graft.TmpDirs.deleteRecursively(new java.io.File(dir))
  }
}
