package graft

import graft.functions.{GraftExtensions, Hash60, MinHashShingleSig, VectorFunctions}
import graft.streaming.ReplayConfs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions: value parity against the HOF/SQL formulations they
  * replace, plus SQL registration.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("cosine_similarity matches the sequential-fold HOF formulation") {
    val emb = Tables.load(spark, sf, "embeddings")
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val both = emb.crossJoin(broadcast(qv))
      .select($"vec_id",
        VectorFunctions.cosine_similarity($"embedding", $"qvec").as("fast"),
        (expr("""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
            (acc, i) -> acc + CAST(element_at(embedding, i) AS DOUBLE) * CAST(element_at(qvec, i) AS DOUBLE))""") /
          (sqrt(expr("""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
            (acc, i) -> acc + CAST(element_at(embedding, i) AS DOUBLE) * CAST(element_at(embedding, i) AS DOUBLE))""")) *
           sqrt(expr("""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
            (acc, i) -> acc + CAST(element_at(qvec, i) AS DOUBLE) * CAST(element_at(qvec, i) AS DOUBLE))"""))))
          .as("slow"))
    // Bit-identical, not approximately equal: same fold order in double.
    assert(both.filter($"fast" =!= $"slow").isEmpty)
  }

  test("minhash_sig matches the HOF md5/xor formulation bit for bit") {
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("sh", expr(
        """CASE WHEN size(split(text, ' ')) >= 3
             THEN transform(sequence(1, size(split(text, ' ')) - 2),
                            i -> concat_ws(' ', slice(split(text, ' '), i, 3)))
             ELSE array() END"""))
      .withColumn("mh", expr("transform(sh, sg -> md5(sg))"))
      .withColumn("h1", expr(
        "transform(mh, m -> CAST(conv(substr(m, 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("h2", expr(
        "transform(mh, m -> CAST(conv(substr(m, 17, 15), 16, 10) AS BIGINT))"))
      .withColumn("sig", MinHashShingleSig.minhash_sig($"text"))
    val bad = (0 until 4).map { i =>
      docs.filter(element_at($"sig", i + 1) =!=
        expr(s"array_min(zip_with(h1, h2, (a, b) -> a ^ (CAST($i AS BIGINT) * b)))"))
        .count()
    }
    assert(bad.forall(_ == 0), s"minhash mismatch counts: $bad")
  }

  // Empty, ASCII, multi-byte UTF-8 (2-, 3- and 4-byte sequences), a 10 KB
  // string and a null. Repartitioned so the projection runs in a plan, not
  // folded into the local relation by the optimizer.
  private def hash60Inputs = {
    val big = "ab\u00e9\u65e5 " * 1280 // 8 UTF-8 bytes per repeat
    Seq(Some(""), Some("plain ascii"), Some("caf\u00e9 \u65e5\u672c \ud83d\ude00"),
      Some(big), None).toDF("s").repartition(2)
  }

  for ((mode, wholeStage) <- Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true")) {
    test(s"hash60 equals the conv(substr(md5)) chain, both halves ($mode)") {
      // AQE off so the executed plan shows its codegen stages up front.
      ReplayConfs.withConfs(spark, "spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.adaptive.enabled" -> "false") {
        val df = hash60Inputs.select($"s",
          Hash60.hash60($"s").as("h0"), Hash60.hash60($"s", 1).as("h1"),
          expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)").as("c0"),
          expr("CAST(conv(substr(md5(s), 17, 15), 16, 10) AS BIGINT)").as("c1"))
        val inCodegen = df.queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec
              if w.child.expressions.exists(_.exists(_.isInstanceOf[Hash60])) => w
        }
        assert(inCodegen.nonEmpty == (wholeStage == "true"),
          s"hash60 codegen placement:\n${df.queryExecution.executedPlan}")
        val rows = df.collect()
        assert(rows.length == 5)
        for (r <- rows) {
          val s = Option(r.getString(0))
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
          assert(opt(1) == opt(3) && opt(2) == opt(4),
            s"hash60 ${(opt(1), opt(2))} != conv chain ${(opt(3), opt(4))} " +
              s"for ${s.map(_.take(20))}")
          assert(opt(1).isDefined == s.isDefined && opt(2).isDefined == s.isDefined)
          assert((opt(1).toSeq ++ opt(2)).forall(h => h >= 0 && h < (1L << 60)))
        }
        assert(rows.exists(_.getString(0) == null))
        assert(rows.exists(r => r.getString(0) != null &&
          r.getString(0).getBytes("UTF-8").length >= 10240))
      }
    }
  }

  test("minhash LSH banding is parameterizable; multi-row bands are stricter") {
    // 2 bands × 2 rows: a pair is a candidate only when a FULL band (two
    // consecutive minhashes) matches — a subset of the 4×1 candidates,
    // which match on any single value. Exercises the array band-key path.
    val p41 = graft.operators.Pipeline.minhashLshPairs(spark, sf, 4, 1)
      .select($"id_a".cast("long"), $"id_b".cast("long")).as[(Long, Long)].collect().toSet
    val p22 = graft.operators.Pipeline.minhashLshPairs(spark, sf, 2, 2)
      .select($"id_a".cast("long"), $"id_b".cast("long")).as[(Long, Long)].collect().toSet
    assert(p22.subsetOf(p41), s"2x2 pairs not a subset of 4x1: ${p22 -- p41}")
    assert(p41.nonEmpty)
  }

  test("shingles / minhash / lsh_bucket stay inside whole-stage codegen") {
    // Round-1 finding: CodegenFallback forced interpreted per-row calls.
    // The static-helper codegen must keep the projection in a single
    // WholeStageCodegen stage with no fallback marker.
    val docs = Tables.load(spark, sf, "documents")
      .select(graft.functions.ShingleArray.shingles($"text").as("sh"),
        MinHashShingleSig.minhash_sig($"text").as("sig"))
    val emb = Tables.load(spark, sf, "embeddings")
      .select(VectorFunctions.lsh_bucket($"embedding").as("b"))
    for (df <- Seq(docs, emb)) {
      val codegenProjects = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
            if w.collectLeaves().nonEmpty => w
      }
      assert(codegenProjects.nonEmpty,
        s"no WholeStageCodegen stage:\n${df.queryExecution.executedPlan}")
      // The custom expressions must sit INSIDE the codegen stage (rendered
      // with the *(n) fused prefix), not in a fallback Project outside it.
      val s = df.queryExecution.executedPlan.toString()
      assert(s.contains("*(1) Project"), s"projection not fused:\n$s")
      assert(df.count() > 0)
    }
  }

  test("functions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val r1 = spark.sql(
      """SELECT cosine_similarity(embedding, embedding) AS c
         FROM embeddings LIMIT 5""").as[Double].collect()
    assert(r1.forall(c => math.abs(c - 1.0) < 1e-9))
    val r2 = spark.sql(
      "SELECT minhash_sig(text) AS s FROM documents LIMIT 3").collect()
    assert(r2.forall(_.getSeq[Long](0).length == 4))
    val r3 = spark.sql(
      """SELECT simhash60(transform(split(text, ' '),
           t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))) AS h
         FROM documents LIMIT 3""").as[Long].collect()
    assert(r3.forall(h => h >= 0 && h < (1L << 60)))
    val r4 = spark.sql(
      """SELECT lang, space_saving_topk(doc_id, 2, 1024) AS tk
         FROM documents GROUP BY lang""").collect()
    assert(r4.forall(_.getSeq[org.apache.spark.sql.Row](1).length <= 2))
    // shingles: default 3-gram and explicit-n forms agree with the HOF twin.
    val r5 = spark.sql(
      """SELECT size(shingles(text)) = size(shingles(text, 3)) AS same,
           size(shingles(text, 5)) <= size(shingles(text)) AS narrower
         FROM documents LIMIT 10""").as[(Boolean, Boolean)].collect()
    assert(r5.forall(t => t._1 && t._2))
    // lsh_bucket: bucket ids stay within the 2^nPlanes space.
    val r6 = spark.sql(
      """SELECT lsh_bucket(embedding) AS b4, lsh_bucket(embedding, 8) AS b8
         FROM embeddings LIMIT 20""").as[(Int, Int)].collect()
    assert(r6.forall { case (b4, b8) =>
      b4 >= 0 && b4 < 16 && b8 >= 0 && b8 < 256
    })
    // hash60: the default half is 0; half 1 reads digest bytes 8-15.
    val r7 = spark.sql(
      """SELECT hash60(text) = CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT),
           hash60(text, 0) = hash60(text),
           hash60(text, 1) = CAST(conv(substr(md5(text), 17, 15), 16, 10) AS BIGINT)
         FROM documents LIMIT 10""").collect()
    assert(r7.length == 10 && r7.forall(row => (0 until 3).forall(row.getBoolean)))
  }

  test("extensions class applies cleanly to a SparkSessionExtensions") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts) // must not throw
  }

  test("space_saving_topk is exact when capacity covers the key space") {
    import org.apache.spark.sql.functions._
    // 1000 rows over 20 keys, skewed: key k appears (k+1)*5 times.
    val df = spark.range(0, 20).select($"id")
      .withColumn("n", ($"id" + 1) * 5)
      .select($"id", explode(sequence(lit(1), $"n")).as("i"))
      .repartition(7) // force multi-partition partials + merges
    val got = df.agg(graft.functions.HeavyHitters.space_saving_topk($"id", 5, 64).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.value", $"e.count", $"e.err")
      .as[(Long, Long, Long)].collect()
    // Exact regime: top-5 are keys 19..15 with counts 100,95,90,85,80, err 0.
    assert(got.toSeq == Seq((19L, 100L, 0L), (18L, 95L, 0L), (17L, 90L, 0L),
      (16L, 85L, 0L), (15L, 80L, 0L)))
  }

  test("space_saving_topk retains heavy hitters past capacity with bounded error") {
    import org.apache.spark.sql.functions._
    // One partition (the single-sketch SpaceSaving bound): 200 distinct
    // light keys + one heavy key with 300 hits, capacity 64 << 201 keys.
    val light = spark.range(0, 200).select($"id".as("k"))
    val heavy = spark.range(0, 300).select(lit(999L).as("k"))
    val df = light.union(heavy).repartition(1)
    val rows = df
      .agg(graft.functions.HeavyHitters.space_saving_topk($"k", 1, 64).as("tk"))
      .select(explode($"tk").as("x"))
      .select($"x.value", $"x.count", $"x.err")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 1)
    val (v, c, e) = rows.head
    assert(v == 999L, s"heavy hitter lost: got $v")
    // SpaceSaving overestimates: true <= count <= true + err.
    assert(c >= 300L && c - e <= 300L, s"count $c err $e out of bounds")
  }

  test("space_saving_topk is deterministic across runs") {
    import org.apache.spark.sql.functions._
    def run() = Tables.load(spark, sf, "events")
      .groupBy($"event_type")
      .agg(graft.functions.HeavyHitters.space_saving_topk(
        $"user_id".cast("long"), 3, 4096).as("tk"))
      .select($"event_type", explode($"tk").as("e"))
      .select($"event_type", $"e.value", $"e.count")
      .orderBy($"event_type", $"e.count".desc, $"e.value")
      .collect().toSeq
    assert(run() == run())
  }

  test("nfc_normalize merges decomposed and precomposed forms (codegen + eval)") {
    import graft.functions.TextFunctions.nfc_normalize
    val rows = Seq(
      ("dec", "caf" + "e\u0301"),     // decomposed: e + combining acute
      ("pre", "caf\u00e9"),           // precomposed: é
      ("ascii", "plain ascii"),
      ("empty", "")).toDF("k", "s")
    val got = rows.select($"k", nfc_normalize($"s").as("n"))
      .as[(String, String)].collect().toMap
    assert(got("dec") == got("pre"), "NFC must merge the two encodings")
    assert(got("dec") == "caf\u00e9", "NFC output is the precomposed form")
    assert(got("ascii") == "plain ascii", "ASCII passes through unchanged")
    assert(got("empty") == "")
    // interpreted eval path agrees with codegen
    val e = graft.functions.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("e\u0301x")))
    assert(e.eval(null).toString == "\u00e9x")
    // null stays null
    assert(rows.select(nfc_normalize(org.apache.spark.sql.functions.lit(null)
      .cast("string"))).first().isNullAt(0))
  }
}
