package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Tables

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("saltedCountSum equals direct aggregation (skew mitigation)") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,4)")).as("total"))
      .as[(String, Long, BigDecimal)].collect().toSet
    val salted = Scale.saltedCountSum(li, Seq("l_returnflag"), "l_quantity")
      .as[(String, Long, BigDecimal)].collect().toSet
    assert(salted === direct)
  }

  test("saltedJoin equals plain equi-join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_name")
    val plain = li.join(sup, $"l_suppkey" === $"s_suppkey")
      .select("l_orderkey", "s_name").as[(Long, String)].collect().sorted.toSeq
    val salted = Scale.saltedJoin(li, sup, "l_suppkey", "s_suppkey")
      .select("l_orderkey", "s_name").as[(Long, String)].collect().sorted.toSeq
    assert(salted === plain)
  }

  test("salted gda source spreads a planted hot key and equals direct") {
    // planted skew: one (gene, disease) pair carries 50k refs
    val hot = spark.range(50000)
      .select(lit(1L).as("gene"), lit("mondo:hot").as("disease"),
        concat(lit("ref:"), $"id").as("__ref"))
    val cold = spark.range(1000)
      .select(($"id" % 50).as("gene"),
        concat(lit("mondo:"), ($"id" % 20)).as("disease"),
        concat(lit("ref:"), $"id").as("__ref"))
    val df = hot.unionByName(cold)
    // the partial phase really spreads the hot key over many reducers —
    // observed through saltedAgg's OWN salt expression, not a copy
    val saltSpread = df
      .withColumn("__salt", Scale.saltColumn(16))
      .filter($"disease" === "mondo:hot")
      .select(countDistinct($"__salt")).head().getLong(0)
    assert(saltSpread > 8, s"hot key only hit $saltSpread salt buckets")
    // and the merged result is identical to the direct aggregation
    val direct = df.groupBy($"gene", $"disease")
      .agg(count(lit(1)).as("knowledge_conf"),
        graft.ops.Kernels.setJoinAgg($"__ref").as("refs"))
      .as[(Long, String, Long, String)].collect().toSet
    val salted = Scale.saltedAgg(df, Seq("gene", "disease"), 16,
      Seq((count(lit(1)), "knowledge_conf"),
        (collect_set($"__ref"), "__refs_part")),
      {
        case "knowledge_conf" => sum($"knowledge_conf")
        case n => array_sort(array_distinct(flatten(collect_list(col(n)))))
      })
      .withColumn("refs", concat_ws("|", $"__refs_part")).drop("__refs_part")
      .as[(Long, String, Long, String)].collect().toSet
    assert(salted === direct)
  }

  test("AQE skew-join splits a planted skewed sort-merge join " +
    "(skew=true lands in the executed adaptive plan)") {
    // one key owns ~195k of 200k fact rows; thresholds lowered so the
    // planted skew crosses AQE's split bar at test scale — the fixture
    // proving the runtime path that sort-merge joins over a hot key rely
    // on (aggregation-side skew is `Scale.saltedAgg`'s job, pinned above)
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.range(200000).select(
        when($"id" % 40 === 0, $"id" % 97).otherwise(lit(0L)).as("k"),
        concat(lit("payload-"), $"id").as("payload"))
      val dim = spark.range(97).select($"id".as("k"),
        concat(lit("dim-"), $"id").as("label"))
      val joined = fact.join(dim, Seq("k"))
      // execute THIS frame's own plan (count()/write() build a separate
      // QueryExecution and would leave this one un-run, isFinalPlan=false)
      val n = joined.queryExecution.toRdd.count()
      assert(n === 200000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the planted skewed join:\n$plan")
    }
  }

  test("binnedGlobalRank + ntileFromRank equal the global-window forms " +
    "(ties, both directions, coarse bins)") {
    import org.apache.spark.sql.expressions.Window
    // heavy ties (v = id % 7) so bucket boundaries fall inside tie groups
    val df = spark.range(1000)
      .select($"id".as("k"), ($"id" % 7).as("v"),
        (($"id" * 37) % 1000).cast("double").as("x"))
    // identity bins on the tied integer metric, ascending
    val asc = Scale.binnedGlobalRank(df, $"v",
      Seq($"v".asc, $"k".asc), binAsc = true, "r")
      .select($"k", $"r",
        Scale.ntileFromRank($"r", lit(1000L), 5).as("nt"))
    val ascRef = df.select($"k",
      row_number().over(Window.orderBy($"v".asc, $"k".asc)).cast("long").as("r"),
      ntile(5).over(Window.orderBy($"v".asc, $"k".asc)).cast("long").as("nt"))
    assert(asc.as[(Long, Long, Long)].collect().toSet ===
      ascRef.as[(Long, Long, Long)].collect().toSet)
    // coarse fixed-width bins on the continuous metric, descending
    val desc = Scale.binnedGlobalRank(df, floor($"x" / 100).cast("long"),
      Seq($"x".desc, $"k".asc), binAsc = false, "r")
      .select($"k", $"r", Scale.ntileFromRank($"r", lit(1000L), 7).as("nt"))
    val descRef = df.select($"k",
      row_number().over(Window.orderBy($"x".desc, $"k".asc)).cast("long").as("r"),
      ntile(7).over(Window.orderBy($"x".desc, $"k".asc)).cast("long").as("nt"))
    assert(desc.as[(Long, Long, Long)].collect().toSet ===
      descRef.as[(Long, Long, Long)].collect().toSet)
    // n < k edge: every rank its own bucket, no divide-by-zero branch
    val tiny = Scale.binnedGlobalRank(spark.range(3).select($"id".as("k")),
      $"k", Seq($"k".asc), binAsc = true, "r")
      .select(Scale.ntileFromRank($"r", lit(3L), 5).as("nt"))
      .as[Long].collect().sorted.toSeq
    assert(tiny === Seq(1L, 2L, 3L))
  }

  test("binnedGroupRank / binnedGroupRunningSum equal the per-group " +
    "window forms (ties, descending bins, multi-group)") {
    import org.apache.spark.sql.expressions.Window
    // 3 groups, tied integer quality (0..6), value = tokens
    val df = spark.range(900)
      .select($"id".as("k"), ($"id" % 3).cast("string").as("g"),
        ($"id" % 7).as("q"), ($"id" % 13 + 1).as("tok"))
    val rk = Scale.binnedGroupRank(df, Seq($"g"), $"q",
      Seq($"q".asc, $"k".asc), binAsc = true, "r")
      .select($"k", $"r".cast("long"))
    val rkRef = df.select($"k",
      row_number().over(Window.partitionBy($"g")
        .orderBy($"q".asc, $"k".asc)).cast("long").as("r"))
    assert(rk.as[(Long, Long)].collect().toSet ===
      rkRef.as[(Long, Long)].collect().toSet)
    // running sum, DESC bins (the budgetSelect shape: quality desc)
    val rs = Scale.binnedGroupRunningSum(df, Seq($"g"), $"q",
      Seq($"k".asc), $"tok", binAsc = false, "running")
      .select($"k", $"running")
    val rsRef = df.select($"k",
      sum($"tok").over(Window.partitionBy($"g")
        .orderBy($"q".desc, $"k".asc)
        .rowsBetween(Window.unboundedPreceding, 0)).as("running"))
    assert(rs.as[(Long, Long)].collect().toSet ===
      rsRef.as[(Long, Long)].collect().toSet)
    // no raw-row window may partition on the group column alone
    val plans = Seq(rk, rs).map(_.queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("windowspecdefinition(g#"),
      "group-only window partition leaked into the plan"))
  }

  test("binned helpers keep NULL group/bin keys (null-safe join back, " +
    "matching the window forms' NULL-is-its-own-partition semantics)") {
    import org.apache.spark.sql.expressions.Window
    // one NULL group and one NULL bin value; every row must survive
    val df = spark.range(60)
      .select($"id".as("k"),
        when($"id" % 5 === 0, lit(null)).otherwise(($"id" % 3).cast("string"))
          .as("g"),
        when($"id" % 7 === 0, lit(null)).otherwise($"id" % 4).as("q"),
        ($"id" % 9 + 1).as("tok"))
    val rk = Scale.binnedGroupRank(df, Seq($"g"), $"q",
      Seq($"q".asc_nulls_first, $"k".asc), binAsc = true, "r")
    assert(rk.count() === 60, "null-keyed rows dropped by binnedGroupRank")
    val rkRef = df.select($"k",
      row_number().over(Window.partitionBy($"g")
        .orderBy($"q".asc_nulls_first, $"k".asc)).cast("long").as("r"))
    assert(rk.select($"k", $"r".cast("long")).as[(Long, Long)].collect().toSet
      === rkRef.as[(Long, Long)].collect().toSet)
    val rs = Scale.binnedGroupRunningSum(df, Seq($"g"), $"q",
      Seq($"k".asc), $"tok", binAsc = true, "running")
    assert(rs.count() === 60, "null-keyed rows dropped by binnedGroupRunningSum")
    val rsRef = df.select($"k",
      sum($"tok").over(Window.partitionBy($"g")
        .orderBy($"q".asc_nulls_first, $"k".asc)
        .rowsBetween(Window.unboundedPreceding, 0)).as("running"))
    assert(rs.select($"k", $"running").as[(Long, Long)].collect().toSet ===
      rsRef.as[(Long, Long)].collect().toSet)
    val rg = Scale.binnedGlobalRank(df, $"q",
      Seq($"q".asc_nulls_first, $"k".asc), binAsc = true, "r")
    assert(rg.count() === 60, "null-bin rows dropped by binnedGlobalRank")
    val rgRef = df.select($"k",
      row_number().over(Window.orderBy($"q".asc_nulls_first, $"k".asc))
        .cast("long").as("r"))
    assert(rg.select($"k", $"r".cast("long")).as[(Long, Long)].collect().toSet
      === rgRef.as[(Long, Long)].collect().toSet)
  }

  test("bloomPrunedJoin equals the plain equi-join and prunes map-side " +
    "via broadcast semi probes") {
    val fact = (1L to 500L).map(i => (i % 50, i)).toDF("fk", "payload")
    val dim = Seq(3L, 7L, 11L).toDF("dk")
    val pruned = Scale.bloomPrunedJoin(fact, dim, "fk", "dk")
    val plain = fact.join(dim, $"fk" === $"dk")
    assert(pruned.select("fk", "payload", "dk").as[(Long, Long, Long)]
      .collect().toSet ===
      plain.select("fk", "payload", "dk").as[(Long, Long, Long)]
        .collect().toSet)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("skewProfile surfaces the heaviest keys with exact ppm shares") {
    val rows = Seq.fill(60)("hot") ++ Seq.fill(30)("warm") ++
      (1 to 10).map(i => s"cold$i")
    val got = Scale.skewProfile(rows.toDF("k"), "k", k = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("hot", 60L, 600000L), ("warm", 30L, 300000L)))
  }

  test("bucketed tables join with no shuffle exchange") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey", "l_quantity")
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_acctbal")
    Scale.writeBucketed(li, "b_lineitem", Seq("l_suppkey"), 4)
    Scale.writeBucketed(sup.withColumnRenamed("s_suppkey", "l_suppkey"),
      "b_supplier", Seq("l_suppkey"), 4)
    // disable broadcast so the co-located sort-merge path is what gets planned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_supplier"), Seq("l_suppkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_supplier")
    }
  }

  test("dynamic partition pruning: a filtered dim join prunes the " +
    "partitioned fact scan at runtime") {
    // the 100 TB shape: fact partitioned on the join key, dim filtered —
    // Catalyst injects a DynamicPruning subquery so only the dim's
    // surviving keys' partitions are ever read
    val dir = scratch("graft_dpp")
    val fact = spark.range(0, 10000)
      .select((col("id") % 25).as("nk"), col("id").as("v"))
    graft.sources.Sinks.writePartitioned(fact, dir, Seq("nk"))
    val factP = spark.read.parquet(dir)
    val dim = Tables.nation(spark, sf).filter(col("n_regionkey") === 0)
    val q = factP.join(dim, factP("nk") === dim("n_nationkey"))
      .agg(sum(col("v")).as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "no DynamicPruning subquery in the plan:\n" + plan.take(800))
    // and the result is the plain-join answer
    val expected = fact.join(dim, fact("nk") === dim("n_nationkey"))
      .agg(sum(col("v"))).head().getLong(0)
    assert(q.head().getLong(0) === expected)
  }

  test("mortonInterleave matches a driver-side replay and Z-blocks of " +
    "1024 consecutive keys stay within a 32x32 tile") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(j =>
        (((x >> j) & 1L) << (2 * j)) | (((y >> j) & 1L) << (2 * j + 1))).sum
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val got = grid.toDF("x", "y")
      .withColumn("z", Scale.mortonInterleave(col("x"), col("y"), 8))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z === ref(x, y, 8), s"($x,$y)") }
    // the x_zorder_layout pruning bound: every 1024-key file covers one
    // 32x32 tile — both per-file dimension spans are at most 32
    got.groupBy(_._3 / 1024).values.foreach { rows =>
      val xs = rows.map(_._1); val ys = rows.map(_._2)
      assert(xs.max - xs.min < 32 && ys.max - ys.min < 32)
    }
    // round-trip bijectivity on the grid: 64*64 distinct z values
    assert(got.map(_._3).distinct.length === 64 * 64)
  }

  test("mortonInterleave masks out-of-contract inputs instead of " +
    "sign-extending them into the interleave") {
    // a negative input violates the caller's quantization contract; the
    // mask makes it behave as its low `bits` bits rather than polluting
    // every odd/even position via arithmetic shift sign-extension
    val got = Seq((-1L, 0L)).toDF("x", "y")
      .withColumn("z", Scale.mortonInterleave(col("x"), col("y"), 4))
      .select("z").as[Long].head()
    // low 4 bits of -1 = 0b1111 → interleaved at even positions = 0b01010101
    assert(got === 0x55L)
  }

  test("sketchJoinEstimate: side row counts exact, inner-product estimate " +
    "upper-bounds the true join size") {
    val left = (0 until 300).map(i => (i.toLong % 50, s"l$i")).toDF("k", "pl")
    val right = (0 until 40).map(i => (i.toLong, s"r$i")).toDF("j", "pr")
    val (est, lrows, rrows) = Scale.sketchJoinEstimate(left, right, "k", "j")
    assert(lrows === 300L && rrows === 40L)
    val exact = left.join(right, col("k") === col("j")).count()
    assert(est >= exact, s"CMS inner product $est must upper-bound $exact")
  }

  test("sketchAdvisedJoin: the estimate flips the physical strategy — " +
    "broadcast under budget, shuffle_hash then merge as budgets shrink — " +
    "with identical results in every branch") {
    val left = (0 until 400).map(i => (i.toLong % 80, s"l$i")).toDF("k", "pl")
    val right = (0 until 60).map(i => (i.toLong, s"r$i")).toDF("j", "pr")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("pl", "pr").as[(String, String)].collect().toSeq.sorted
    val want = rows(left.join(right, col("k") === col("j")))

    // right side (60 rows) under the broadcast budget → BroadcastHashJoin
    val bc = Scale.sketchAdvisedJoin(left, right, "k", "j",
      broadcastRowBudget = 100L)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      bc.queryExecution.executedPlan.toString.take(600))
    assert(rows(bc) === want)

    // broadcast budget 0, output estimate under the hash budget → hash
    val sh = Scale.sketchAdvisedJoin(left, right, "k", "j",
      broadcastRowBudget = 0L, hashOutputBudget = 1000000L)
    assert(sh.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      sh.queryExecution.executedPlan.toString.take(600))
    assert(rows(sh) === want)

    // both budgets 0 → the spill-safe sort-merge plan
    val sm = Scale.sketchAdvisedJoin(left, right, "k", "j",
      broadcastRowBudget = 0L, hashOutputBudget = 0L)
    assert(sm.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      sm.queryExecution.executedPlan.toString.take(600))
    assert(rows(sm) === want)
  }
}
