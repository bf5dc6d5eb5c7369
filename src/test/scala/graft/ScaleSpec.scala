package graft

import graft.streaming.Replay
import graft.streaming.ReplayConfs.withConfs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Scale patterns that don't show up in result values, asserted on plan
  * shape instead: bucketed co-located joins (no exchange), broadcast vs
  * shuffle join selection, and salted-vs-direct aggregation equality.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    // warehouse.dir is a static conf — use the session default location,
    // and clear any orphaned table directories from prior runs (DROP TABLE
    // is a no-op for locations the in-memory catalog doesn't know about).
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) Replay.delete(loc)
    }
    Tables.load(spark, sf, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.load(spark, sf, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // Disable broadcast so the join would otherwise need a full shuffle.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed join still shuffles the fact table:\n" + plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("salted aggregation equals direct aggregation") {
    val direct = Tables.load(spark, sf, "events")
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val salted = Catalog.byName("q30_salted_agg").run(spark, sf)
      .select($"event_type", $"n")
    assert(direct.exceptAll(salted).isEmpty && salted.exceptAll(direct).isEmpty)
  }

  test("join strategy flips from broadcast to shuffle when threshold drops") {
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    def planOf() = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .queryExecution.executedPlan.toString()
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "104857600")
      assert(planOf().contains("BroadcastHashJoin"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(!planOf().contains("BroadcastHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Row-level runtime filtering: a selective filter on the build side
    // injects a bloom_filter_might_contain predicate into the fact scan,
    // cutting shuffle input before the join — the third pruning layer
    // after static pushdown and partition pruning.
    withConfs(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.load(spark, sf, "lineitem")
      val ord = Tables.load(spark, sf, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val joined = li.join(ord, $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter in plan:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("blocked dedup caps an adversarial single-block corpus") {
    // Every doc shares (lang, first word, length bucket): one block of n.
    // Naive all-pairs would enumerate n*(n-1)/2 ≈ 180k candidates; the
    // capped path must stay under n (LSH sub-buckets + one representative
    // star per bucket), and its candidates must be a subset of the exact
    // all-pairs set.
    val n = 600
    val docs = spark.range(n).select(
      $"id".as("doc_id"),
      concat(lit("the common boilerplate page number "), $"id",
        lit(" body "), md5($"id".cast("string"))).as("text"),
      lit("en").as("lang"),
      lit(240L).as("n_chars"))
    val blocked = docs.select($"doc_id", $"lang",
      element_at(split($"text", " "), 1).as("w0"),
      floor($"n_chars" / 200.0).cast("int").as("len_bucket"),
      $"text", substring($"text", 1, 30).as("prefix"))
    def pairs(cap: Int) = operators.Pipeline.cappedBlockPairs(
      blocked, Seq("lang", "w0", "len_bucket"), Seq("prefix"), cap)
    val capped = pairs(64)
    val cnt = capped.count()
    assert(cnt < n, s"capped path produced $cnt candidate pairs, expected < $n")
    assert(capped.select($"id_a", $"id_b")
      .except(pairs(Int.MaxValue).select($"id_a", $"id_b")).isEmpty,
      "capped candidates are not a subset of the exact all-pairs set")
    // The full p15 query completes on the adversarial corpus too.
    assert(operators.Pipeline.fuzzyDedupPairs(docs, cap = 64).count() >= 0)
  }

  test("triangle-salted all-pairs equals an unsalted cross-join reference") {
    // One block of 200 docs → nsalt = ceil(200/64) = 4: every salt cell and
    // both explode roles are exercised. The salted join must produce exactly
    // the same (id_a, id_b) set as a plain a.doc_id < b.doc_id cross join.
    val n = 200
    val docs = spark.range(n).select(
      $"id".as("doc_id"),
      concat(lit("salted block doc "), $"id").as("text"),
      lit("en").as("lang"),
      lit(100L).as("n_chars"))
    val blocked = docs.select($"doc_id", $"lang",
      element_at(split($"text", " "), 1).as("w0"),
      floor($"n_chars" / 200.0).cast("int").as("len_bucket"),
      $"text", substring($"text", 1, 30).as("prefix"))
    val salted = operators.Pipeline.cappedBlockPairs(
      blocked, Seq("lang", "w0", "len_bucket"), Seq("prefix"), cap = n)
      .select($"id_a", $"id_b")
    val ref = docs.as("a").join(docs.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
    assert(salted.count() === n.toLong * (n - 1) / 2)
    assert(salted.exceptAll(ref).isEmpty && ref.exceptAll(salted).isEmpty)
  }

  test("capped blocked dedup is identical to exact all-pairs under the cap") {
    val docs = Tables.load(spark, sf, "documents")
    val f1 = operators.Pipeline.fuzzyDedupPairs(docs)
    val f2 = operators.Pipeline.fuzzyDedupPairs(docs, cap = Int.MaxValue)
    assert(f1.exceptAll(f2).isEmpty && f2.exceptAll(f1).isEmpty)
    val j1 = operators.Pipeline.ngramJaccardPairs(docs)
    val j2 = operators.Pipeline.ngramJaccardPairs(docs, cap = Int.MaxValue)
    assert(j1.exceptAll(j2).isEmpty && j2.exceptAll(j1).isEmpty)
  }

  test("CC hook round drops broadcast hints past the endpoint guard") {
    val edges = spark.range(100)
      .select(($"id" % 50).as("src"), (($"id" % 50) + 1).as("dst"))
    val labels = spark.range(51).select($"id", $"id".as("label"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // Disable size-based broadcast so the plan shape reflects the hint
    // decision alone (at scale, an over-guard endpoint set is exactly the
    // case where size-based planning would not broadcast either).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = operators.Pipeline.hookRound(edges, labels, broadcast)
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "hinted hook round lost its broadcast")
      val plain = operators.Pipeline.hookRound(edges, labels, identity)
      assert(!plain.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "unhinted hook round still broadcasts")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // End-to-end: an over-threshold graph (guard forced to 0) completes
    // without hints and produces identical clusters.
    val a = operators.Pipeline.dedupClusters(spark, sf)
    val b = operators.Pipeline.dedupClusters(spark, sf, maxBroadcastLabels = 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("PageRank drops broadcast hints past the node guard, same ranks") {
    val a = operators.Pipeline.graphAuthority(spark, sf)
    assert(a.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "under-guard run lost its broadcast rounds")
    val b = operators.Pipeline.graphAuthority(spark, sf, maxBroadcastNodes = 0)
    assert(!b.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "over-guard run still broadcasts")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "broadcast and sort-merge rounds diverge")
  }

  test("Z-order file layout bounds min/max extents in both dimensions") {
    // 64x64 key grid split into 16 files of 256 rows. A linear x-sorted
    // layout bounds only x — every file still spans the FULL y range, so
    // parquet min/max skipping on a y predicate prunes nothing. Files cut
    // from aligned Z-ranges (zval div 256) are exact 16x16 tiles bounding
    // BOTH dims — the physical form of the p41 manifest, where a filter
    // on either dimension skips 3/4 of the files.
    val grid = spark.range(64L * 64)
      .select(($"id" % 64).as("x"), expr("id div 64").as("y"))
    val dir = Files.createTempDirectory("graft_zorder").toFile
    try {
      grid.withColumn("fid",
        shiftright(operators.Pipeline.zInterleave16($"x", $"y"), 8))
        .write.partitionBy("fid").mode("overwrite").parquet(s"$dir/z")
      grid.withColumn("fid", expr("x div 4"))
        .write.partitionBy("fid").mode("overwrite").parquet(s"$dir/linear")
      def extents(p: String) = spark.read.parquet(p).groupBy("fid")
        .agg((max($"x") - min($"x")).as("x_span"),
          (max($"y") - min($"y")).as("y_span"))
        .select($"x_span", $"y_span").collect()
      val z = extents(s"$dir/z")
      assert(z.length == 16)
      assert(z.forall(r => r.getLong(0) == 15 && r.getLong(1) == 15),
        "a Z-range file exceeds its 16x16 tile: " + z.mkString(", "))
      val lin = extents(s"$dir/linear")
      assert(lin.forall(_.getLong(1) == 63),
        "linear layout unexpectedly bounded y: " + lin.mkString(", "))
      // Library-surface regression: IntegerType inputs with bit 15 set
      // (y >= 32768 → interleaved bit 31, the Int sign bit) must widen to
      // 64-bit inside zInterleave16 rather than go negative.
      val negatives = spark.range(32768, 32772)
        .select($"id".cast("int").as("xi"), $"id".cast("int").as("yi"))
        .select(operators.Pipeline.zInterleave16($"xi", $"yi").as("z"))
        .filter($"z" < 0)
      assert(negatives.isEmpty, "Int inputs produced negative Morton keys")
    } finally Replay.delete(dir)
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // 32 shuffle partitions over a few-KB aggregate: the final adaptive
    // plan must read the shuffle through AQEShuffleRead with coalesced
    // partitions — the runtime half of shuffle sizing (static
    // spark.sql.shuffle.partitions is the other half).
    withConfs(spark, "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "32") {
      val agg = Tables.load(spark, sf, "events")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      agg.collect()
      val finalPlan = agg.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("AQEShuffleRead") && finalPlan.contains("coalesced"),
        s"no runtime partition coalescing in final adaptive plan:\n$finalPlan")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // One hot key with ~200k rows against a flat build side: with skew-join
    // thresholds tuned to this data size, AQE must mark the sort-merge join
    // skew-handled and split the hot partition into multiple tasks — the
    // runtime half of the skew story (q30's salting is the static half).
    withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB") {
      val skewed = spark.range(0, 220000)
        .select(when($"id" % 11 =!= 0, 0L).otherwise($"id" % 1000).as("k"),
          ($"id" * 7).as("payload"))
      val flat = spark.range(0, 1000).select($"id".as("k"), $"id".as("v"))
      val joined = skewed.join(flat, "k")
      // Execute THIS Dataset's own query execution (count() would plan a
      // separate query and leave this one un-adapted), then read the final
      // adaptive plan.
      assert(joined.collect().length > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skew=true"),
        s"no skew-handled join in final adaptive plan:\n$finalPlan")
    }
  }
}
