package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Session.local("graft-test",
    // local[4,2] = one task retry, the production-faithful setting (real
    // clusters run maxFailures=4). Deterministic test failures still
    // fail — a retry re-hits them — and FailureInjectionSpec needs a
    // first attempt to be retryable at all.
    "local[4,2]", 4)
}

/** Every catalog query must execute end-to-end on sf0.001 and produce a
  * deterministic, non-degenerate result (the cross-engine value check is
  * the driver's DuckDB gate; tools/check.py runs the same thing locally).
  */
class CatalogSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  // Queries that legitimately may return few/zero rows at the smallest sf.
  private val mayBeEmpty = Set("q21_string_funcs", "q08_not_exists_anti",
    "q04_shipping_priority", "q07_exists_semi", "q11_having", "q12_in_subquery",
    "p08_minhash_lsh_pairs", "p12_ann_lsh", "nx_q2_selection",
    // 256-bucket production forms: ~50 vectors at sf0.001 rarely share
    // a bucket at all, and mutual 3-NN pairs need >=2 per bucket.
    "p120_embedding_neardup_prod", "p121_mutual_knn_prod",
    "p16_ngram_jaccard", "p17_dedup_clusters", "p18_ann_ivf",
    // one benchmark doc at sf0.001 — contamination needs a near-copy of it
    "p24_decontaminate",
    // single-nation / single-size filters can land on an empty slice of
    // the ~10-supplier sf0.001 tables; the sf0.01 oracle checks them.
    "sql_tpch_q02", "sql_tpch_q11", "sql_tpch_q20",
    // p71 rolls up p08's candidate pairs (empty at sf0.001, above); p72's
    // boundary 3-grams need ~50²/40³ collisions — expect none at 50 docs.
    "p71_minhash_calibration", "p72_boundary_overlap",
    // 10-token heads over a ~40-word vocab cannot collide in 50 docs
    "p76_copy_matrix",
    // banded simhash candidates need band-value collisions — sparse at 50
    // docs, and the hamming≤18 verify can legitimately reject them all
    "p77_simhash_neighbors",
    // mutual-kNN needs ≥2 vectors in a bucket AND a symmetric top-3 hit;
    // contrastive pairs need a 3-token-prefix block of size ≥2 — both
    // sparse at 50 docs/vectors (the sf0.01 oracle checks them non-empty)
    "p89_mutual_knn", "p93_contrastive_pairs")

  for ((name, q) <- Catalog.byName.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = q.run(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every oracle query name exists in queries") {
    assert(Catalog.oracleSql.keySet.subsetOf(Catalog.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

/** Independent recomputation checks for operators whose semantics are easy
  * to get subtly wrong (mirrors the reference's per-query local replays,
  * flock/src/datasource/nexmark/queries/q*.rs).
  */
class SemanticsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("session windows match a gaps-and-islands recomputation") {
    val got = Catalog.byName("w03_session_agg").run(spark, sf)
      .select("user_id", "session_start_us", "session_end_us", "n")
    val gapUs = 21600000000L
    val ev = Tables.load(spark, sf, "events")
      .select($"user_id", unix_micros($"ts").as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us")
    val expected = ev
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("new_s",
        when($"prev".isNull || $"us" - $"prev" >= gapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("session_start_us"),
        (max($"us") + gapUs).as("session_end_us"),
        count(lit(1)).as("n"))
      .select("user_id", "session_start_us", "session_end_us", "n")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("hopping windows cover each event exactly twice") {
    val total = Catalog.byName("w02_hopping_agg").run(spark, sf)
      .agg(sum($"n")).as[Long].head()
    val nEvents = Tables.load(spark, sf, "events").count()
    assert(total == 2 * nEvents)
  }

  test("exact dedup partitions all documents") {
    val docs = Tables.load(spark, sf, "documents").count()
    val deduped = Catalog.byName("p01_dedup_exact").run(spark, sf)
      .agg(sum($"n_copies")).as[Long].head()
    assert(deduped == docs)
  }

  test("cosine top-k similarities are in [-1, 1] and descending") {
    val sims = Catalog.byName("p10_cosine_topk").run(spark, sf)
      .select($"cos_sim".cast("double")).as[Double].collect()
    assert(sims.nonEmpty)
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
  }

  test("minhash containment: identical docs share all signature components") {
    // Any doc pair with jaccard 1.0 must have identical minhash signatures.
    val sig = Catalog.byName("p07_minhash_sig").run(spark, sf)
    val pairs = Catalog.byName("p08_minhash_lsh_pairs").run(spark, sf)
      .filter($"jaccard" === 1.0)
    val joined = pairs
      .join(sig.withColumnRenamed("doc_id", "id_a").as("sa"), "id_a")
      .join(sig.withColumnRenamed("doc_id", "id_b").as("sb"), "id_b")
    val bad = joined.filter(
      col("sa.m0") =!= col("sb.m0") || col("sa.m1") =!= col("sb.m1") ||
        col("sa.m2") =!= col("sb.m2") || col("sa.m3") =!= col("sb.m3"))
    assert(bad.isEmpty)
  }

  test("dedup clusters are closed over LSH candidate pairs") {
    // Every candidate pair must land in the same cluster, and every
    // cluster id must be the min doc_id of its members (sf0.01 — the
    // smallest sf with a non-trivial candidate graph).
    val d = "/root/testdata/sf0.01"
    val clusters = Catalog.byName("p17_dedup_clusters").run(spark, d)
    val pairs = Catalog.byName("p08_minhash_lsh_pairs").run(spark, d)
      .select($"id_a", $"id_b")
    val c = clusters.withColumnRenamed("doc_id", "id").withColumnRenamed("cluster_id", "cl")
    val split = pairs
      .join(c.withColumnRenamed("id", "id_a").withColumnRenamed("cl", "cl_a"), "id_a")
      .join(c.withColumnRenamed("id", "id_b").withColumnRenamed("cl", "cl_b"), "id_b")
      .filter($"cl_a" =!= $"cl_b")
    assert(split.isEmpty, "a candidate pair was split across clusters")
    val badRep = clusters.groupBy($"cluster_id")
      .agg(min($"doc_id").as("min_id"))
      .filter($"cluster_id" =!= $"min_id")
    assert(badRep.isEmpty, "cluster_id is not the min doc_id of its cluster")
  }

  test("exact n-gram jaccard agrees with p08's verify on shared pairs") {
    // p16 (exact, blocked) and p08 (LSH candidates) compute the same
    // jaccard definition — where both report a pair, values must match.
    val d = "/root/testdata/sf0.01"
    val exact = Catalog.byName("p16_ngram_jaccard").run(spark, d)
      .withColumnRenamed("jaccard", "j_exact")
    val lsh = Catalog.byName("p08_minhash_lsh_pairs").run(spark, d)
      .withColumnRenamed("jaccard", "j_lsh")
    val both = exact.join(lsh, Seq("id_a", "id_b"))
    assert(both.filter($"j_exact" =!= $"j_lsh").isEmpty)
  }

  test("IVF ANN cos_sim values match an independent brute-force recompute") {
    val d = "/root/testdata/sf0.001"
    val ivf = Catalog.byName("p18_ann_ivf").run(spark, d)
      .select($"vec_id", $"cos_sim".cast("double").as("ivf_sim"))
    val emb = Tables.load(spark, d, "embeddings")
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val brute = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(qv))
      .select($"vec_id",
        functions.VectorFunctions.cosine_similarity($"embedding", $"qvec")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).cast("double")
          .as("bf_sim"))
    val joined = ivf.join(brute, "vec_id")
    assert(joined.count() == ivf.count())
    assert(joined.filter(abs($"ivf_sim" - $"bf_sim") > 1e-9).isEmpty)
  }

  test("e2e pipeline output is bounded by its upstream stages") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, d, "documents")
    val total = docs.count()
    val uniqueHashes = docs.select(md5($"text")).distinct().count()
    val kept = Catalog.byName("p20_pipeline_e2e").run(spark, d)
      .agg(sum($"n_docs")).as[Long].head()
    assert(kept > 0, "pipeline kept nothing")
    assert(kept <= uniqueHashes && uniqueHashes <= total,
      s"stage monotonicity violated: kept=$kept unique=$uniqueHashes total=$total")
  }

  test("stratified sample hits its per-language rates") {
    val d = "/root/testdata/sf0.01"
    val totals = Tables.load(spark, d, "documents")
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    val sampled = Catalog.byName("p22_stratified_sample").run(spark, d)
      .groupBy($"lang").agg(sum($"n").as("n")).as[(String, Long)].collect().toMap
    for ((lang, n) <- sampled) {
      val rate = lang match {
        case "en" => 0.5; case "de" => 0.25; case _ => 0.1
      }
      val expect = totals(lang) * rate
      // Hash-sampling binomial bounds: ±5 sigma.
      val sigma = math.sqrt(totals(lang) * rate * (1 - rate))
      assert(math.abs(n - expect) <= 5 * sigma + 1,
        s"$lang sampled $n of ${totals(lang)}, expected ~$expect")
    }
  }

  test("decontamination matches a naive gram-set intersection") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // k=3 mirrors the catalog entry (see p24's scaladoc for why not 13).
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % 97 == 0).flatMap(x => grams(x._2)).toSet
    val expect = docs.filter(_._1 % 97 != 0)
      .map { case (id, t) => id -> grams(t).count(bench) }
      .filter(_._2 > 0).toMap
    val got = Catalog.byName("p24_decontaminate").run(spark, d)
      .select($"doc_id", $"n_hit_grams").as[(Long, Long)].collect().toMap
    assert(got.view.mapValues(_.toInt).toMap == expect,
      s"hit-gram counts diverge from the naive recompute")
  }

  test("OOV scoring matches a naive top-30 vocabulary recompute") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val freq = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length).toSeq
    val vocab = freq.sortBy { case (w, c) => (-c, w) }.take(30).map(_._1).toSet
    val expect = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      (id, (ws.length.toLong, ws.count(w => !vocab(w)).toLong))
    }.toMap
    val got = Catalog.byName("p25_vocab_oov").run(spark, d)
      .select($"doc_id", $"n_tokens", $"n_oov")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nt, no) => id -> (nt, no) }.toMap
    assert(got == expect, "token/OOV counts diverge from the naive recompute")
  }

  test("range-residual join only keeps lineitems within 30 days") {
    val ord = Tables.load(spark, sf, "orders")
    val li = Tables.load(spark, sf, "lineitem")
    val n = li.join(ord, $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate".between($"o_orderdate", $"o_orderdate" + expr("INTERVAL 30 DAYS")))
      .filter(datediff($"l_shipdate", $"o_orderdate") > 30)
      .count()
    assert(n == 0)
  }

  test("sequence packing matches a naive per-source prefix-sum recompute") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, d, "documents")
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect()
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, id, t) =>
        val n = t.split(" ", -1).length.toLong
        val seq = cum / 256
        cum += n
        ((src, seq), (id, n))
      }
    }.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_._2._2).sum)
    }
    val got = Catalog.byName("p26_sequence_packing").run(spark, d)
      .select($"source", $"seq_id", $"n_docs", $"seq_tokens")
      .as[(String, Long, Long, Long)].collect()
      .map { case (s0, q, nd, st) => (s0, q) -> (nd, st) }.toMap
    assert(got == expect, "per-sequence doc/token counts diverge")
    // Every doc lands in exactly one sequence.
    assert(got.values.map(_._1).sum == docs.length)
  }

  test("PII scrub finds exactly the injected contacts and nothing else") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val got = Catalog.byName("p27_pii_scrub").run(spark, d)
      .select($"doc_id", $"n_emails", $"n_phones", $"has_pii")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, ne, np, hp) =>
      if (id % 5 == 0) assert(ne == 1 && np == 1 && hp, s"doc $id: $ne/$np")
      else assert(ne == 0 && np == 0 && !hp, s"doc $id: organic PII? $ne/$np")
    }
  }

  test("domain filter blocks exactly the %7==0 sources and covers all docs") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val got = Catalog.byName("p28_url_domain_filter").run(spark, d)
      .select($"domain", $"n_docs", $"is_blocked")
      .as[(String, Long, Boolean)].collect()
    val total = Tables.load(spark, d, "documents").count()
    assert(got.map(_._2).sum == total, "per-domain doc counts must cover corpus")
    got.foreach { case (dom, _, blocked) =>
      val srcNum = dom.stripSuffix(".example.com").stripPrefix("src").toInt
      assert(blocked == (srcNum % 7 == 0), s"$dom blocked=$blocked")
    }
  }

  test("mixture sampling fills each source quota exactly") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val got = Catalog.byName("p29_mixture_sample").run(spark, d)
      .select($"source", $"doc_id", $"quota")
      .as[(String, Long, Long)].collect()
    val bySrc = got.groupBy(_._1)
    bySrc.foreach { case (src, rows) =>
      val quota = rows.head._3
      assert(rows.length.toLong == quota, s"$src selected ${rows.length} of quota $quota")
      assert(rows.map(_._2).distinct.length == rows.length, s"$src duplicate docs")
    }
    // Quota flooring keeps the mix at-or-under the 200-doc target.
    assert(bySrc.values.map(_.head._3).sum <= 200L)
  }

  test("duplicated-passage fractions match a naive inverted-index recompute") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }.toMap
    val docCount = byDoc.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val expect = byDoc.collect { case (id, gs) =>
      val dup = gs.count(g => docCount(g) >= 2)
      id -> ((gs.size.toLong, dup.toLong))
    }.filter(_._2._2 > 0)
    val got = Catalog.byName("p30_dup_passages").run(spark, d)
      .select($"doc_id", $"n_grams", $"n_dup_grams")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, nd) => id -> ((n, nd)) }.toMap
    assert(got == expect, "dup-gram counts diverge from the naive recompute")
  }

  test("shard packing covers all bytes with contiguous, ordered shards") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val got = Catalog.byName("m05_shard_packing").run(spark, d)
      .select($"modality", $"shard_id", $"n_assets", $"shard_bytes",
        $"first_doc", $"last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val totalDocs = Tables.load(spark, d, "documents").count()
    assert(got.map(_._3).sum == totalDocs, "every asset lands in one shard")
    got.groupBy(_._1).foreach { case (mod, shards) =>
      val sorted = shards.sortBy(_._2)
      // Contiguity: doc-id ranges never interleave across shard boundaries.
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._6 < b._5, s"$mod shards ${a._2}/${b._2} overlap")
        case _ =>
      }
      // Packing: every shard except the last starts a new budget bin, so
      // all but the last must have crossed the 4096-byte boundary.
      sorted.dropRight(1).zip(sorted.drop(1)).foreach { case (a, _) =>
        assert(a._4 > 0, s"$mod shard ${a._2} empty")
      }
    }
  }

  test("BPE pair stats match a naive word-frequency recompute") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val words = Tables.load(spark, d, "documents")
      .select($"text").as[String].collect()
      .flatMap(_.split(" ", -1)).filter(_.length >= 2)
    val wf = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pairAgg = wf.toSeq.flatMap { case (w, f) =>
      (0 until w.length - 1).map(i => (w.substring(i, i + 2), w, f))
    }.groupBy(_._1).view.mapValues { xs =>
      (xs.map(_._3).sum, xs.map(_._2).distinct.size.toLong)
    }.toMap
    val expect = pairAgg.toSeq
      .sortBy { case (p, (c, _)) => (-c, p) }.take(20)
    val got = Catalog.byName("p32_bpe_pair_stats").run(spark, d)
      .select($"pair", $"pair_count", $"n_words")
      .as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1) == expect.map(_._1), "top-20 pair ranking diverges")
    got.foreach { case (p, c, nw) =>
      assert((c, nw) == pairAgg(p), s"pair $p counts diverge")
    }
  }

  test("snapshot diff statuses follow the derivation rules exactly") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val ids = Tables.load(spark, d, "documents")
      .select($"doc_id").as[Long].collect()
    val expect = Map(
      "added" -> ids.count(i => i % 5 == 0 && i % 7 != 0).toLong,
      "removed" -> ids.count(i => i % 5 != 0 && i % 7 == 0).toLong,
      "changed" -> ids.count(i => i % 5 != 0 && i % 7 != 0 && i % 11 == 0).toLong,
      "unchanged" -> ids.count(i => i % 5 != 0 && i % 7 != 0 && i % 11 != 0).toLong)
    val got = Catalog.byName("p33_snapshot_diff").run(spark, d)
      .select($"status", $"n_docs").as[(String, Long)].collect().toMap
    assert(got == expect.filter(_._2 > 0), "diff status counts diverge")
  }

  test("boolean search matches a naive all-terms scan") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val terms = Set("spark", "window", "agg")
    val docs = Tables.load(spark, d, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expect = docs.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      val hit = ws.filter(terms)
      if (hit.toSet.size == terms.size) Some(id -> hit.length.toLong) else None
    }.toMap
    val got = Catalog.byName("p34_boolean_search").run(spark, d)
      .select($"doc_id", $"tf").as[(Long, Long)].collect().toMap
    assert(got == expect, "conjunctive match set or tf diverges")
  }

  test("profile mode/distinct/counts match a naive recompute") {
    val d = "/root/testdata/sf0.01"
    import spark.implicits._
    val docs = Tables.load(spark, d, "documents")
      .select($"lang", $"source").as[(String, String)].collect()
    def prof(vals: Seq[String]): (Long, Long, Long, String, Long) = {
      val freq = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (mv, mn) = freq.toSeq.maxBy { case (v, n) => (n, v) }
      (vals.size.toLong, 0L, freq.size.toLong, mv, mn)
    }
    val expect = Map(
      "lang" -> prof(docs.map(_._1).toSeq),
      "source" -> prof(docs.map(_._2).toSeq))
    val got = Catalog.byName("p35_profile").run(spark, d)
      .as[(String, Long, Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got == expect, "profile diverges from the naive recompute")
  }

  test("constraint audit counts injected violations exactly") {
    import spark.implicits._
    // Clean corpus: every rule passes.
    val clean = Catalog.byName("p36_constraints")
      .run(spark, "/root/testdata/sf0.01")
      .as[(String, Long, Boolean)].collect()
    assert(clean.length == 5 && clean.forall(r => r._2 == 0L && r._3))
    // Corrupted frame: known violation counts per rule.
    val bad = Seq(
      (1L, "ok text", "en", 7L),     // clean row
      (1L, "dup id", "en", 6L),      // duplicate doc_id
      (-2L, "", "xx", 0L),           // negative id + empty text + bad lang
      (3L, "fine", "de", 4L))        // clean row
      .toDF("doc_id", "text", "lang", "n_chars")
    val audit = graft.operators.Pipeline.constraintAudit(bad)
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(audit("doc_id_unique") == 1L, s"audit: $audit")
    assert(audit("doc_id_nonnegative") == 1L)
    assert(audit("text_nonempty") == 1L)
    assert(audit("lang_in_domain") == 1L)
    assert(audit("n_chars_consistent") == 0L)
  }

  test("pipeline transforms survive adversarial documents") {
    import spark.implicits._
    // Degenerate shapes a crawl feed produces: empty text, single word,
    // repeated spaces (empty tokens), unicode/CJK/emoji, 10k-char word,
    // leading/trailing whitespace.
    val adversarial = Seq(
      (1L, "", "en", "src0"),
      (2L, "solo", "en", "src0"),
      (3L, "a  b   c", "en", "src1"),
      (4L, "中文 文字 処理 テスト 🎉 emoji", "zh", "src1"),
      (5L, "x" * 10000, "en", "src2"),
      (6L, "  padded  ", "de", "src2"),
      (7L, "ß é ö combininǵ mark", "de", "src3"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text"))
    import graft.functions.{MinHashShingleSig, ShingleArray}
    val derived = adversarial.select(
      $"doc_id",
      size(ShingleArray.shingles($"text")).as("n_shingles"),
      MinHashShingleSig.minhash_sig($"text", 4).as("sig"),
      graft.functions.VectorFunctions.simhash60(expr(
        """transform(array_distinct(split(text, ' ')),
                     t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"""))
        .as("sh"),
      size(split($"text", " ")).as("n_tokens"),
      md5($"text").as("digest")).collect()
    assert(derived.length == 7)
    derived.foreach { r =>
      val nSh = r.getAs[Int]("n_shingles")
      val nTok = r.getAs[Int]("n_tokens")
      assert(nSh >= 0 && nSh <= math.max(0, nTok - 2),
        s"doc ${r.getAs[Long]("doc_id")}: $nSh shingles from $nTok tokens")
      // sig is null only when the doc has < 3 tokens.
      assert((r.getAs[Seq[Long]]("sig") == null) == (nTok < 3))
      assert(r.getAs[String]("digest").length == 32)
    }
    // The audit pass runs clean over the same frame (no crash, 5 rules).
    val audit = graft.operators.Pipeline.constraintAudit(adversarial)
    assert(audit.count() == 5)
  }

  test("k-means contingency matches an exact-integer driver recompute") {
    val d = "/root/testdata/sf0.001"
    import spark.implicits._
    val vecs = Tables.load(spark, d, "embeddings")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
      .map { case (id, l, e) =>
        (id, l, e.map(x => math.floor(x.toDouble * 1000000.0).toLong))
      }.sortBy(_._1)
    val k = 4; val iters = 2
    def nearest(q: Array[Long], cs: Seq[(Int, Array[Long])]): Int =
      cs.map { case (cid, c) =>
        (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
    var cents: Seq[(Int, Array[Long])] =
      vecs.filter(_._1 < k).map(v => (v._1.toInt, v._3)).toSeq
    var asg = vecs.map(v => (v, nearest(v._3, cents)))
    for (_ <- 1 to iters) {
      cents = asg.groupBy(_._2).toSeq.map { case (cid, vs) =>
        val n = vs.length
        val c = (0 until 64).map { p =>
          math.floor(vs.map(_._1._3(p)).sum.toDouble / n).toLong
        }.toArray
        (cid, c)
      }
      asg = vecs.map(v => (v, nearest(v._3, cents)))
    }
    val expect = asg.groupBy { case (v, cid) => (cid, v._2) }.view
      .mapValues(_.length.toLong).toMap
    val got = Catalog.byName("p31_kmeans_clusters").run(spark, d)
      .select($"cid", $"label", $"n_vecs").as[(Int, Int, Long)].collect()
      .map { case (cid, l, n) => (cid, l) -> n }.toMap
    assert(got == expect, "cluster contingency diverges from the driver recompute")
    assert(got.values.sum == vecs.length.toLong)
  }

  test("chunk windows tile every document exactly (incl. edge lengths)") {
    import spark.implicits._
    import operators.Pipeline.{ChunkW, ChunkS}
    // edge docs: shorter than W, exactly W, W+1 (first multi-chunk),
    // exactly W+S (second chunk full), W+S+1, empty string, one token
    val lens = Seq(1, ChunkW - 1, ChunkW, ChunkW + 1, ChunkW + ChunkS,
      ChunkW + ChunkS + 1, 3 * ChunkS + ChunkW, 0)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = operators.Pipeline.chunkWindows(docs)
      .select($"doc_id", $"chunk_id", $"chunk_start", $"n_chunk_tokens")
      .as[(Long, Int, Int, Int)].collect().groupBy(_._1)
    for ((n, i) <- lens.zipWithIndex) {
      val cs = chunks(i.toLong).sortBy(_._2)
      // split("") yields [""] so an empty text is one 1-token chunk
      val nTok = math.max(n, 1)
      val expect = 1 + math.max(0, (nTok - ChunkW + ChunkS - 1) / ChunkS)
      assert(cs.length == expect, s"len=$n: ${cs.length} chunks, want $expect")
      cs.zipWithIndex.foreach { case ((_, cid, start, len), k) =>
        assert(cid == k && start == k * ChunkS)
        assert(len == math.min(ChunkW, nTok - start), s"len=$n chunk $k")
      }
      // last chunk reaches the end of the token list
      val (_, _, lastStart, lastLen) = cs.last
      assert(lastStart + lastLen == nTok, s"len=$n: tiling stops short")
    }
  }

  test("rare terms agree with a rank-filter window recompute") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val viaTopK = operators.Pipeline.rareTerms(docs)
    val tf = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val viaWindow = tf.join(df_, "term")
      .withColumn("rn", row_number().over(Window.partitionBy($"doc_id")
        .orderBy($"df".asc, $"tf".desc, $"term".asc)))
      .filter($"rn" <= 3)
      .select($"doc_id", $"term", $"tf", $"df")
    assert(viaTopK.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaTopK).isEmpty)
  }

  test("shingle novelty: first doc fully novel, totals conserve") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val nov = operators.Pipeline.shingleNovelty(docs)
      .withColumn("novelty", $"novelty".cast("double")).cache()
    val rows = nov.as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // the lowest doc_id with shingles sees every shingle first
    val first = rows.minBy(_._1)
    assert(first._2 == first._3 && first._4 == 1.0)
    // novel counts partition the distinct-shingle universe
    val distinctShingles = docs
      .select(explode(graft.functions.ShingleArray.shingles($"text")).as("sh"))
      .distinct().count()
    assert(rows.map(_._3).sum == distinctShingles)
    rows.foreach { case (id, nSh, nNov, ratio) =>
      assert(nNov <= nSh && ratio >= 0.0 && ratio <= 1.0, s"doc $id")
    }
  }

  test("bloom manifest: no false negatives over EVERY (key, file) pair") {
    import operators.Pipeline.{bloomPos, bloomWords, bloomHit}
    val li = Tables.load(spark, sf, "lineitem")
      .select(($"l_orderkey" % 32).as("file_id"), $"l_partkey")
    val words = bloomWords(li
      .withColumn("p1", bloomPos($"l_partkey", 0))
      .withColumn("p2", bloomPos($"l_partkey", 1)))
    // Probe with the FULL actual membership set, not p43's sampled keys:
    // a bloom may admit absent keys (false positives) but must admit
    // every present one — a single miss is a broken filter.
    val present = li.distinct()
      .withColumn("q1", bloomPos($"l_partkey", 0))
      .withColumn("q2", bloomPos($"l_partkey", 1))
    val missed = present.join(words, "file_id").filter(!bloomHit).count()
    assert(missed == 0, s"$missed present (key, file) pairs not admitted")
    // and the filter is non-trivial: some absent key must be rejected by
    // at least one file (otherwise the words are saturated and useless)
    val absent = Seq(999999999L).toDF("l_partkey")
      .crossJoin(words)
      .withColumn("q1", bloomPos($"l_partkey", 0))
      .withColumn("q2", bloomPos($"l_partkey", 1))
    assert(absent.filter(!bloomHit).count() > 0)
  }

  test("PQ: kernel exactness, centroid self-coding, broadcast-only joins") {
    import graft.functions.VectorFunctions.subvector_l2
    val emb = Tables.load(spark, sf, "embeddings")
    // SubvectorL2 equals the same left-to-right fold computed in plain
    // Scala — bit-exact, both full-range and one interior subspace.
    val two = emb.filter($"vec_id".isin(3, 4))
      .select($"embedding").as[Array[Float]].collect()
    def refL2(a: Array[Float], b: Array[Float], s0: Int, len: Int): Double = {
      var acc = 0.0
      for (i <- s0 until math.min(a.length, s0 + len)) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d
      }
      acc
    }
    val Array(va, vb) = two
    val got = Seq((va, vb)).toDF("a", "b")
      .select(subvector_l2($"a", $"b", 0, 64).as("full"),
        subvector_l2($"a", $"b", 16, 16).as("m1"))
      .as[(Double, Double)].head()
    assert(got._1 == refL2(va, vb, 0, 64))
    assert(got._2 == refL2(va, vb, 16, 16))
    // Every centroid must encode to its own cid in every subspace (its
    // sub-distance to itself is exactly 0.0), and all codes stay in the
    // codebook range.
    val df = Catalog.byName("p49_ann_pq").run(spark, sf)
    val cents = emb.filter($"vec_id".between(1, 8))
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cvec"))
    val selfCoded = emb.filter($"vec_id".between(1, 8))
      .crossJoin(broadcast(cents))
      .select(Seq($"vec_id", $"cid") ++ (0 until 4).map(m =>
        subvector_l2($"embedding", $"cvec", m * 16, 16).as(s"d$m")): _*)
      .groupBy($"vec_id")
      .agg(min(struct($"d0", $"cid")).as("a0"), min(struct($"d1", $"cid")).as("a1"),
        min(struct($"d2", $"cid")).as("a2"), min(struct($"d3", $"cid")).as("a3"))
      .filter($"a0.cid" === $"vec_id" && $"a1.cid" === $"vec_id" &&
        $"a2.cid" === $"vec_id" && $"a3.cid" === $"vec_id")
    assert(selfCoded.count() == 8, "a centroid did not code to itself")
    val rows = df.select($"code0", $"code1", $"code2", $"code3")
      .as[(Int, Int, Int, Int)].collect()
    assert(rows.nonEmpty && rows.forall { case (a, b, c, e) =>
      Seq(a, b, c, e).forall(x => x >= 1 && x <= 8) })
    // Scale contract: the codebook and LUT are broadcast; nothing in the
    // plan may fall back to a shuffled join.
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("SortMergeJoin"), s"shuffled join in PQ plan:\n$plan")
  }

  test("incremental agg: batch-split associativity and flat-recompute equality") {
    import operators.Pipeline.{incAggParts, mergeAggState, signedDeltaAgg}
    val (state, log) = incAggParts(spark, sf)
    val whole = mergeAggState(state, signedDeltaAgg(log))
    // Apply the changelog in two arbitrary batches: (state ⊕ d1) ⊕ d2
    // must equal state ⊕ (d1 ∪ d2) — the mergeable-state contract that
    // lets 100 TB maintenance run per-partition/per-day without a
    // global barrier.
    val split = mergeAggState(
      mergeAggState(state, signedDeltaAgg(log.filter($"o_custkey" % 2 === 0))),
      signedDeltaAgg(log.filter($"o_custkey" % 2 =!= 0)))
    assert(split.exceptAll(whole).isEmpty && whole.exceptAll(split).isEmpty)
    // And the maintained state equals a from-scratch recompute over the
    // effective multiset (base − retracted + inserted).
    val orders = Tables.load(spark, sf, "orders")
    val cutoff = lit("1997-01-01").cast("timestamp")
    val eff = orders
      .filter($"o_orderdate" < cutoff && $"o_orderkey" % 97 =!= 0)
      .unionAll(orders.filter($"o_orderdate" >= cutoff))
    val flat = eff
      .groupBy(($"o_custkey" % 50).as("cust_bucket"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("cnt"),
        sum(Catalog.dec($"o_totalprice", 18, 2))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("tot"))
    val maintained = whole.filter($"cnt" > 0)
    assert(maintained.exceptAll(flat).isEmpty && flat.exceptAll(maintained).isEmpty)
  }

  test("incremental agg: a fully-retracted group survives merges, drops at presentation") {
    // r05 advice: the sf workload never nets a group to zero, so the
    // cnt > 0 presentation path was untested. Synthesize it: group A's
    // only row is inserted then retracted at a DIFFERENT price (a
    // correction), leaving cnt = 0 with tot ≠ 0 — the case the state
    // must carry through intermediate merges (dropping it would lose the
    // −10.00) until a later batch re-inserts into the group.
    import operators.Pipeline.{mergeAggState, signedDeltaAgg}
    def log(rows: (Long, String, Double, Long)*) =
      rows.toDF("o_custkey", "o_orderpriority", "o_totalprice", "sign")
    val b1 = signedDeltaAgg(log((1L, "A", 10.0, 1L), (2L, "B", 5.0, 1L)))
    val b2 = signedDeltaAgg(log((1L, "A", 20.0, -1L)))
    val mid = mergeAggState(b1, b2)
    // Mid-stream: group (1, A) netted to cnt 0 but tot −10.00 — KEPT.
    val a = mid.filter($"cust_bucket" === 1 && $"priority" === "A")
      .select($"cnt", $"tot".cast("double")).as[(Long, Double)].collect()
    assert(a.sameElements(Array((0L, -10.0))), s"net-zero group lost: ${a.toSeq}")
    // Presentation after this batch: only (2, B) shows.
    assert(mid.filter($"cnt" > 0).count() == 1)
    // A later batch re-inserts into the group; the carried −10.00 must
    // surface (the correction nets against the new row).
    val b3 = signedDeltaAgg(log((1L, "A", 30.0, 1L)))
    val fin = mergeAggState(mid, b3).filter($"cnt" > 0)
      .filter($"cust_bucket" === 1 && $"priority" === "A")
      .select($"cnt", $"tot".cast("double")).as[(Long, Double)].collect()
    assert(fin.sameElements(Array((1L, 20.0))), s"carried sum lost: ${fin.toSeq}")
  }

  test("triangle count matches a brute-force set-intersection recompute") {
    // sf0.01: the support-thresholded co-purchase graph has ~3.4k edges
    // and a non-trivial triangle count; sf0.001's graph is near-empty.
    val sf01 = "/root/testdata/sf0.01"
    val out = Catalog.byName("p52_triangle_count").run(spark, sf01)
      .select($"node", $"tri").as[(Long, Long)].collect().toMap
    val li = Tables.load(spark, sf01, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    // keySet, NOT `.collect { case (e, occ) ... => e }.toSet`: collect on
    // a Map with a tuple-valued function rebuilds a MAP, silently
    // collapsing every edge that shares a first node (observed: 3,445
    // edges shrank to 1,395 and the brute count read 0).
    val edges = li.groupBy(_._1).values.flatMap { items =>
      val pks = items.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.length)
        yield (pks(i), pks(j))
    }.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val triBrute = edges.toSeq.map { case (u, v) =>
      (adj(u) & adj(v)).size.toLong
    }.sum / 3 // each triangle closes over all 3 of its edges
    assert(out(-1L) == triBrute, s"total ${out(-1L)} != brute $triBrute")
    assert(triBrute > 0, "sf0.01 graph unexpectedly triangle-free")
  }

  test("PPS sampling: per-doc inclusion matches a driver md5 recompute") {
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars").as[(Long, String, Long)]
      .collect()
    val wTotal = docs.map(_._3).sum
    def h28(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${id}_ws".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(7), 16)
    }
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val picked = ds.filter(t => h28(t._1) * wTotal < 100L * t._3 * (1L << 28))
      src -> ((ds.length.toLong, picked.length.toLong, picked.map(_._3).sum))
    }
    val got = Catalog.byName("p53_weighted_sample").run(spark, sf)
      .select($"source", $"docs", $"selected", $"sel_chars")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got == expected)
    // The design must actually select something and not everything.
    val sel = got.values.map(_._2).sum
    assert(sel > 0 && sel < docs.length)
  }

  test("session paths conserve events: one outgoing edge per event, start==end") {
    val tr = Catalog.byName("p54_session_paths").run(spark, sf)
      .select($"src", $"dst", $"n").as[(String, String, Long)].collect()
    val events = Tables.load(spark, sf, "events").count()
    val inner = tr.filter(_._1 != "_START_").map(_._3).sum
    assert(inner == events, s"outgoing-edge total $inner != $events events")
    val starts = tr.filter(_._1 == "_START_").map(_._3).sum
    val ends = tr.filter(_._2 == "_END_").map(_._3).sum
    assert(starts == ends, s"sessions open $starts != close $ends")
    assert(starts > 0)
  }

  test("daily anomaly trailing stats match a driver window recompute") {
    val rows = Catalog.byName("p55_daily_anomaly").run(spark, sf)
      .select($"event_type", $"day", $"cnt", $"trail_sum", $"trail_days",
        $"hot")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (_, days) =>
      val sorted = days.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, _, cnt, tSum, tDays, hot), i) =>
        val win = sorted.slice(math.max(0, i - 7), i)
        assert(tSum == win.map(_._3).sum && tDays == win.length)
        assert(hot == (win.length >= 3 &&
          cnt * win.length * 10 > win.map(_._3).sum * 13))
      }
    }
    assert(rows.nonEmpty)
  }

  test("bloom semi-join admits every true match (no false negatives)") {
    // sf0.01 — at sf0.001 the %997 build side can be empty.
    val sf01 = "/root/testdata/sf0.01"
    val rep = Catalog.byName("p56_bloom_semijoin").run(spark, sf01)
      .select($"l_returnflag", $"probe_rows", $"admitted_rows",
        $"matched_rows", $"false_admits")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rep.nonEmpty)
    rep.foreach { case (flag, probe, adm, mat, fp) =>
      assert(mat <= adm, s"$flag: false negative (matched $mat > admitted $adm)")
      assert(adm <= probe && fp == adm - mat)
    }
    // Exact matches agree with a plain semi-join recompute.
    val li = Tables.load(spark, sf01, "lineitem")
    val exact = li.filter($"l_orderkey" % 997 === 1)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("m"))
      .as[(String, Long)].collect().toMap
    rep.foreach { case (flag, _, _, mat, _) =>
      assert(mat == exact.getOrElse(flag, 0L))
    }
    assert(rep.map(_._4).sum > 0, "build side matched nothing at sf0.01")
  }

  test("group quantiles match a driver sort-and-index recompute") {
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"n_chars").as[(String, Long, Long)]
      .collect()
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val sorted = ds.sortBy(t => (t._3, t._2)).map(_._3)
      val n = sorted.length
      src -> ((n.toLong, sorted.head, sorted((n + 1) / 2 - 1),
        sorted((9 * n + 9) / 10 - 1), sorted.last))
    }
    val got = Catalog.byName("p57_group_quantiles").run(spark, sf)
      .select($"source", $"docs", $"min_chars", $"med_chars", $"p90_chars",
        $"max_chars")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    assert(got == expected)
    got.values.foreach { case (_, mn, med, p90, mx) =>
      assert(mn <= med && med <= p90 && p90 <= mx)
    }
  }

  test("PMI pairs match a driver co-occurrence recompute") {
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val dt = docs.flatMap { case (id, t) =>
      t.split(" ", -1).distinct.map(w => (id, w))
    }
    val df = dt.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val vocab = df.toSeq.sortBy { case (w, c) => (-c, w) }.take(50).toMap
    val byDoc = dt.filter(t => vocab.contains(t._2)).groupBy(_._1)
    val nDocs = docs.length.toLong
    val pairCnt = byDoc.values.toList.flatMap { ws =>
      val sorted = ws.map(_._2).distinct.sorted
      (for (i <- sorted.indices; j <- i + 1 until sorted.length)
        yield (sorted(i), sorted(j))).toList
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = pairCnt.toSeq.collect { case ((a, b), nab) if nab >= 5 =>
      (a, b, vocab(a), vocab(b), nab,
        nab * nDocs * 1000000L / (vocab(a) * vocab(b)))
    }.sortBy { case (a, b, _, _, _, s) => (-s, a, b) }.take(20)
    val got = Catalog.byName("p58_pmi_pairs").run(spark, sf)
      .select($"a", $"b", $"dfa", $"dfb", $"n_ab", $"pmi_score")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"got ${got.take(3)} vs ${expected.take(3)}")
    assert(got.nonEmpty)
  }

  test("lm_score floors at 1000: every bigram counts at least itself") {
    // Each bigram occurrence contributes its own corpus count (>= 1), so
    // hit_mass >= n_bigrams and the milli-score can never dip below 1000.
    val rows = Catalog.byName("p59_lm_score").run(spark, sf)
      .select($"n_bigrams", $"hit_mass", $"lm_score")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nb, hm, sc) =>
      assert(nb >= 1 && hm >= nb, s"hit_mass $hm < n_bigrams $nb")
      assert(sc == hm * 1000 / nb && sc >= 1000, s"score $sc inconsistent")
    }
  }

  test("lm_score ranks an all-duplicate bigram doc above an all-unique one") {
    // Driver recompute on the real corpus: the catalog's top doc must be
    // the argmax of the same hit_mass*1000/n_bigrams statistic.
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val bigrams = docs.map { case (id, t) =>
      val a = t.split(" ", -1)
      (id, a.zip(a.drop(1)).map { case (x, y) => s"$x $y" })
    }.filter(_._2.nonEmpty)
    val corpus = bigrams.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val expected = bigrams.map { case (id, bs) =>
      (id, bs.length.toLong, bs.map(corpus).sum)
    }.map { case (id, nb, hm) => (id, nb, hm, hm * 1000 / nb) }
      .sortBy { case (id, _, _, sc) => (-sc, id) }.take(15).toSeq
    val got = Catalog.byName("p59_lm_score").run(spark, sf)
      .select($"doc_id", $"n_bigrams", $"hit_mass", $"lm_score")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"got ${got.take(3)} vs ${expected.take(3)}")
  }

  test("quantized codes stay in [0,255] with bounded rounding error") {
    val rows = Catalog.byName("p60_embed_quantize").run(spark, sf)
      .select($"q_min", $"q_max", $"err_milli", $"n_extreme")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val dims = Tables.load(spark, sf, "embeddings")
      .select(size($"embedding")).as[Int].head()
    rows.foreach { case (qmin, qmax, err, _) =>
      assert(qmin >= 0 && qmax <= 255, s"code out of range [$qmin,$qmax]")
      // |round(1000*t*255) - 1000*round(t*255)| <= 500 per element.
      assert(err <= 500L * dims, s"err_milli $err exceeds ${500L * dims}")
    }
    // The per-dimension extremes exist somewhere in the corpus: at least
    // one vector must hold a saturated (0 or 255) code.
    val anyExtreme = Catalog.byName("p60_embed_quantize").run(spark, sf)
      .agg(sum($"n_extreme")).as[Long].head()
    assert(anyExtreme >= 0) // top-k slice may exclude them; bound is sanity
  }

  test("dsir weights upweight the target slice") {
    // The selector is fit on lang='en' — English documents must rank
    // above their corpus base rate, and the score must be the exact
    // integer mean of the per-occurrence bucket ratios. Lift is asserted
    // at sf0.01: the sf0.001 corpus is too small for the 64-bucket fit
    // to separate languages (top-15 en share ≈ base rate there).
    val sf01 = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p62_dsir_weights").run(spark, sf01)
      .select($"lang", $"n_tokens", $"mass", $"dsir_score")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nt, mass, sc) =>
      assert(sc == mass / nt, s"score $sc != $mass div $nt")
    }
    val enShare = rows.count(_._1 == "en").toDouble / rows.length
    val baseRate = {
      val d = Tables.load(spark, sf01, "documents")
      d.filter($"lang" === "en").count().toDouble / d.count()
    }
    assert(enShare >= baseRate + 0.15,
      s"top-doc en share $enShare shows no lift over base rate $baseRate")
  }

  test("keep-best retention ledger conserves the corpus") {
    // Every document is either kept or dropped exactly once, and each
    // source's ledger row is internally consistent. At sf0.01 the corpus
    // contains near-dup clusters, so the selection must actually drop
    // something (a no-op dedup would be vacuously conservative).
    val sf01 = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p63_keep_best").run(spark, sf01)
      .select($"n_docs", $"n_kept", $"n_dropped", $"kept_chars")
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (nd, nk, ndr, kc) =>
      assert(nk + ndr == nd && nk >= 0 && ndr >= 0, s"ledger row broken")
      assert(kc >= 0)
    }
    val totalDocs = Tables.load(spark, sf01, "documents").count()
    assert(rows.map(_._1).sum == totalDocs, "sources do not cover corpus")
    assert(rows.map(_._3).sum > 0, "no near-dup was dropped at sf0.01")
  }

  test("leakage-safe split covers the corpus and the naive split leaks") {
    // Group-wise assignment: every doc lands in exactly one split, every
    // cluster in exactly one split by construction, and the audit column
    // must show the doc-level baseline WOULD have fractured clusters —
    // otherwise the corpus doesn't exercise the guard.
    val sf01 = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p65_leakage_split").run(spark, sf01)
      .select($"split", $"n_clusters", $"n_docs", $"total_chars",
        $"naive_fractured")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("test", "train", "valid"))
    val docs = Tables.load(spark, sf01, "documents")
    assert(rows.map(_._3).sum == docs.count(), "docs not partitioned")
    assert(rows.map(_._4).sum ==
      docs.agg(sum($"n_chars")).as[Long].head(), "chars not conserved")
    val trainShare = rows.find(_._1 == "train").get._3.toDouble /
      rows.map(_._3).sum
    assert(trainShare > 0.7 && trainShare < 0.98,
      s"train share $trainShare implausible for a 90% hash split")
    assert(rows.head._5 > 0,
      "doc-level baseline fractured no cluster; the guard is vacuous here")
  }

  test("length-bucketed batching never pads more than arrival order") {
    // Sorted batching is optimal-or-equal per source for fixed-count
    // batches, and with multiple batches per source on real data it must
    // win strictly somewhere (else the entry is vacuous).
    val sf01 = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p64_length_batches").run(spark, sf01)
      .select($"n_batches", $"sorted_pad", $"naive_pad")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nb, sp, np) =>
      assert(nb >= 1 && sp >= 0 && sp <= np,
        s"sorted padding $sp exceeds naive $np")
    }
    assert(rows.exists { case (_, sp, np) => sp < np },
      "sorted batching never strictly beat arrival order")
  }

  test("label propagation converges disjoint cliques to their min label") {
    // Sync min-tie LPA makes any clique of size >= 3 uniform at its
    // minimum member id within 2 rounds (size-2 cliques oscillate — the
    // classic bipartite artifact — so the generator starts at 3). Three
    // seeded random clique sets, checked against the closed-form answer.
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val cliques = (1 to 5).map { _ =>
        val size = 3 + rnd.nextInt(4)
        Seq.fill(size)(rnd.nextLong(1000000L)).distinct
      }.filter(_.size >= 3)
      val edges = cliques.flatMap(c =>
        for (i <- c.indices; j <- i + 1 until c.size) yield (c(i), c(j)))
      val e = edges.toDF("u", "v")
      val got = operators.Pipeline.labelPropagate(e, rounds = 3)
        .as[(Long, Long)].collect().toMap
      cliques.foreach { c =>
        val expect = c.min
        c.foreach { id =>
          assert(got(id) == expect,
            s"node $id of clique $c labeled ${got(id)}, expected $expect")
        }
      }
    }
  }

  test("label propagation separates two bridge-linked triangles") {
    // Barbell graph: triangles {1,2,3} and {4,5,6} joined by edge 3-4.
    // Hand-unrolled sync LPA with min-label ties converges in 3 rounds to
    // community 1 = {1,2,3} and community 3 = {4,5,6} (the bridge is
    // outvoted by each triangle's internal majority).
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val got = operators.Pipeline.labelPropagate(e, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $got")
  }

  test("covariance numerators match an exact driver recompute") {
    // Re-derive n·Σxᵢxⱼ − Σxᵢ·Σxⱼ for every returned pair from the raw
    // embeddings with BigInt arithmetic — the whole pipeline (quantize,
    // pair expansion, decimal sums, broadcast join) must agree with the
    // scalar definition exactly, not approximately.
    val sf = "/root/testdata/sf0.001"
    val vecs = Tables.load(spark, sf, "embeddings")
      .filter(size($"embedding") === 64)
      .select($"embedding").as[Seq[Float]].collect()
      .map(_.map(x => BigInt(math.floor(x.toDouble * 1000.0 + 0.5).toLong)))
    val rows = Catalog.byName("p66_embed_covariance").run(spark, sf)
      .select($"i", $"j", $"cov_num".cast("decimal(38,0)").cast("string"), $"n")
      .as[(Int, Int, String, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (i, j, covStr, n) =>
      assert(n == vecs.length)
      val sij = vecs.map(v => v(i) * v(j)).sum
      val si = vecs.map(_(i)).sum
      val sj = vecs.map(_(j)).sum
      val expect = BigInt(n) * sij - si * sj
      assert(BigInt(covStr) == expect, s"pair ($i,$j): $covStr != $expect")
    }
  }

  test("mixture temperature weights are sqrt-flattened and budget-consistent") {
    val sf = "/root/testdata/sf0.001"
    val rows = Catalog.byName("p67_mixture_temperature").run(spark, sf)
      .select($"total_chars", $"w_milli", $"share_ppm", $"sampled_of_100k")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val wTotal = rows.map(_._2).sum
    rows.foreach { case (tc, w, ppm, alloc) =>
      assert(w == math.floor(math.sqrt(tc.toDouble) * 1000.0 + 0.5).toLong)
      assert(ppm == w * 1000000L / wTotal)
      assert(alloc == w * 100000L / wTotal)
    }
    // τ=2 flattening: the weight RATIO between the biggest and smallest
    // source must be strictly smaller than their raw mass ratio.
    val (maxC, minC) = (rows.map(_._1).max, rows.map(_._1).min)
    val (maxW, minW) = (rows.map(_._2).max, rows.map(_._2).min)
    assert(maxW.toDouble / minW < maxC.toDouble / minC,
      "sqrt temperature did not flatten the mixture")
    assert(rows.map(_._4).sum <= 100000L, "allocation exceeds the budget")
  }

  test("transition matrix shares are exact ppm of the full bigram count") {
    // Global invariant: the FULL matrix (before top-20) holds exactly
    // (events − users) transitions — each user's first event has no
    // predecessor. The returned rows' share_ppm must be the integer
    // division against that exact total.
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, sf, "events")
    val total = ev.count() - ev.select($"user_id").distinct().count()
    val rows = Catalog.byName("p68_transition_matrix").run(spark, sf)
      .select($"n", $"share_ppm").as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.map(_._1).sum <= total)
    rows.foreach { case (n, ppm) =>
      assert(ppm == n * 1000000L / total, s"$ppm != $n ppm of $total")
    }
  }

  test("k-core peeling keeps a clique and sheds a pendant chain") {
    // 5-clique (every node deg 4) with a 3-node chain hanging off node 1:
    // chain nodes have deg ≤ 2 and must peel away within 3 rounds; the
    // clique survives intact with its internal degrees.
    val clique = for (i <- 1L to 5L; j <- i + 1 to 5L) yield (i, j)
    val chain = Seq((1L, 10L), (10L, 11L), (11L, 12L))
    val e = (clique ++ chain).toDF("u", "v")
    val got = operators.Pipeline.kcoreSurvivors(e, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), s"survivors $got")
    // node 1's chain edge is gone: all clique degrees are exactly 4.
    assert(got.values.forall(_ == 4L), s"degrees $got")
  }

  test("token gini is 0 for single-token repetition and bounded by 1e6") {
    val sf = "/root/testdata/sf0.001"
    val rows = Catalog.byName("p70_token_gini").run(spark, sf)
      .select($"doc_id", $"n_tokens", $"gini_ppm")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (_, nt, g) =>
      assert(g >= 0 && g < 1000000L && nt >= 1)
      // gini < 1 − 1/T in exact ppm (equality iff all tokens distinct).
      assert(g <= (nt * nt - nt) * 1000000L / (nt * nt))
    }
    // Degenerate check through the same kernel: a one-word document has
    // sum_c2 = T² → gini exactly 0.
    val one = Seq((1L, "x x x x")).toDF("doc_id", "text")
      .select($"doc_id", explode(split($"text", " ")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("nt"), sum($"c" * $"c").as("sc2"))
      .select(expr("(nt * nt - sc2) * 1000000L DIV (nt * nt)").as("g"))
      .as[Long].collect()
    assert(one.head == 0L)
  }

  test("label propagation tie-break survives negative and extreme node ids") {
    // Same barbell shape shifted to negative / extreme ids: the tie-break
    // negates the COUNT (always small positive), not the label, so
    // "smallest label wins" must hold for negative ids and Long.MinValue
    // without overflow. Expected labels mirror the positive-id barbell.
    val a = Long.MinValue // most negative long — would overflow if negated
    val e = Seq((a, -2L), (a, -1L), (-2L, -1L), (-1L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val got = operators.Pipeline.labelPropagate(e, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(a -> a, -2L -> a, -1L -> a,
      4L -> -1L, 5L -> -1L, 6L -> -1L), s"got $got")
  }

  test("minhash calibration buckets partition p08's candidate pairs") {
    // sf0.01 — the candidate set is empty at sf0.001 (p08 is mayBeEmpty).
    val sf = "/root/testdata/sf0.01"
    val pairs = Catalog.byName("p08_minhash_lsh_pairs").run(spark, sf).count()
    val rows = Catalog.byName("p71_minhash_calibration").run(spark, sf)
      .select($"matches", $"est_ppm", $"n_pairs", $"avg_exact_ppm",
        $"min_exact_ppm", $"max_exact_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // Same candidate generation → the buckets partition the pair list.
    assert(rows.map(_._3).sum == pairs)
    rows.foreach { case (m, est, n, avg, mn, mx) =>
      assert(m >= 1 && m <= 4, "candidates share at least one band")
      assert(est == m * 250000L && n >= 1)
      assert(mn >= 0 && mn <= avg && avg <= mx && mx <= 1000000L)
    }
  }

  test("boundary overlap grams agree with direct prefix/suffix filters") {
    val sf = "/root/testdata/sf0.01" // no 3-gram collisions at 50 docs
    val rows = Catalog.byName("p72_boundary_overlap").run(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", split($"text", " ").as("sp"))
      .select($"doc_id", array_join(slice($"sp", 1, 3), " ").as("pre"),
        array_join(slice($"sp", -3, 3), " ").as("suf"))
      .as[(Long, String, String)].collect()
    rows.foreach { case (g, ne, fe, ns, fs) =>
      val enders = docs.filter(_._3 == g).map(_._1)
      val starters = docs.filter(_._2 == g).map(_._1)
      assert(ne == enders.length && fe == enders.min, s"enders of '$g'")
      assert(ns == starters.length && fs == starters.min, s"starters of '$g'")
    }
  }

  test("source chi2 matches an exact scalar recompute and is pair-complete") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      val toks = ds.flatMap(_._2.split(" "))
      val tot = toks.length.toLong
      s -> toks.groupBy(identity).map { case (t, xs) =>
        t -> xs.length * 1000000L / tot
      }
    }
    val rows = Catalog.byName("p73_source_chi2").run(spark, sf)
      .select($"sa", $"sb", $"chi2_ppm", $"n_shared")
      .as[(String, String, Long, Long)].collect()
    val k = bySrc.size.toLong
    assert(rows.length == (k * (k - 1) / 2).toInt, "one row per source pair")
    rows.foreach { case (a, b, chi, nsh) =>
      val pa = bySrc(a); val pb = bySrc(b)
      val shared = pa.keySet intersect pb.keySet
      val chiShared = shared.toSeq.map { t =>
        val x = pa(t); val y = pb(t); (x - y) * (x - y) / (x + y)
      }.sum
      val exp = chiShared +
        (pa.values.sum - shared.toSeq.map(pa).sum) +
        (pb.values.sum - shared.toSeq.map(pb).sum)
      assert(chi == exp, s"($a,$b): $chi != $exp")
      assert(nsh == shared.size)
    }
  }

  test("label confusion counts cover every vector exactly once") {
    val sf = "/root/testdata/sf0.001"
    val perLabel = Tables.load(spark, sf, "embeddings")
      .filter(size($"embedding") === 64)
      .groupBy($"label").count().as[(Int, Long)].collect().toMap
    val rows = Catalog.byName("p74_label_confusion").run(spark, sf)
      .select($"label", $"nearest", $"n").as[(Int, Int, Long)].collect()
    assert(rows.map(_._3).sum == perLabel.values.sum,
      "every vector assigned exactly once")
    rows.groupBy(_._1).foreach { case (l, rs) =>
      assert(rs.map(_._3).sum == perLabel(l), s"label $l row sum")
    }
    // The diagonal must beat a uniform assignment (own centroid includes
    // the vector itself, so affinity is structural, not a data accident).
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(diag * perLabel.size >= perLabel.values.sum,
      "nearest-centroid no better than uniform assignment")
  }

  test("copy matrix cells agree with a direct head-fingerprint recompute") {
    val sf = "/root/testdata/sf0.01" // heads cannot collide in 50 docs
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source",
        array_join(slice(split($"text", " "), 1, 10), " ").as("head"))
      .as[(Long, String, String)].collect()
    val rows = Catalog.byName("p76_copy_matrix").run(spark, sf)
      .select($"sa", $"sb", $"n_shared_heads", $"n_docs_a", $"n_docs_b")
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byHead = docs.groupBy(_._3)
    rows.foreach { case (sa, sb, nsh, na, nb) =>
      val shared = byHead.values.filter(ds =>
        ds.exists(_._2 == sa) && ds.exists(_._2 == sb)).toSeq
      assert(nsh == shared.size, s"($sa,$sb) shared heads")
      assert(na == shared.map(_.count(_._2 == sa)).sum, s"($sa,$sb) docs_a")
      assert(nb == shared.map(_.count(_._2 == sb)).sum, s"($sa,$sb) docs_b")
    }
  }

  test("budget epochs respect the cap and never exceed the budget") {
    val sf = "/root/testdata/sf0.001"
    val rows = Catalog.byName("p75_budget_epochs").run(spark, sf)
      .select($"source", $"toks", $"alloc0", $"capped", $"quota_final",
        $"epochs_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val budget = rows.map(_._2).sum / 2
    assert(rows.map(_._5).sum <= budget, "allocation exceeds the budget")
    rows.foreach { case (src, toks, alloc0, capped, qf, ppm) =>
      assert(ppm == qf * 1000000L / toks, s"$src epochs_ppm")
      if (capped == 1L) {
        // capped → exactly the cap, and the cap actually binds
        assert(qf == toks * 500000L / 1000000L && qf <= alloc0, s"$src cap")
      } else {
        // uncapped → proportional share plus non-negative redistribution
        assert(qf >= alloc0, s"$src redistribution")
      }
    }
  }

  test("simhash neighbor pairs verify against recomputed fingerprints") {
    val sf = "/root/testdata/sf0.01"
    val sh = Catalog.byName("p09_simhash").run(spark, sf)
      .as[(Long, Long)].collect().toMap
    val pairs = Catalog.byName("p77_simhash_neighbors").run(spark, sf)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.distinct.length == pairs.length, "pairs are distinct")
    pairs.foreach { case (a, b, h) =>
      assert(a < b, s"pair order ($a,$b)")
      val exact = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(h == exact && h <= 18, s"($a,$b): hamming $h != $exact")
      val shares = (0 until 4).exists(j =>
        ((sh(a) >> (15 * j)) & 32767L) == ((sh(b) >> (15 * j)) & 32767L))
      assert(shares, s"($a,$b) share no band — not a valid candidate")
    }
  }

  test("ann recall audit rows are internally consistent") {
    val sf = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p78_ann_recall").run(spark, sf)
      .select($"qid", $"n_candidates", $"n_hits", $"recall_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == (0L until 10L))
    rows.foreach { case (q, cand, hits, ppm) =>
      assert(hits <= 10 && hits <= cand, s"q$q hits bound")
      assert(ppm == hits * 100000L, s"q$q recall_ppm formula")
    }
    // the LSH route must find SOMETHING on this corpus (buckets are
    // populated at 500 vectors / 16 buckets)
    assert(rows.map(_._3).sum > 0, "zero recall everywhere")
  }

  test("shuffle shards partition the corpus with the claimed write order") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id").as[Long].collect()
    val byShard = docs.map { id =>
      val h = (id * 2654435761L) % 4294967296L; (h % 16, h, id)
    }.groupBy(_._1)
    val rows = Catalog.byName("p79_shuffle_shards").run(spark, sf)
      .select($"shard", $"n_docs", $"min_h", $"max_h", $"first3")
      .as[(Int, Long, Long, Long, String)].collect()
    assert(rows.map(_._2).sum == docs.length, "every doc in exactly one shard")
    rows.foreach { case (sh, n, mn, mx, first3) =>
      val mine = byShard(sh.toLong)
      assert(n == mine.length && mn == mine.map(_._2).min
        && mx == mine.map(_._2).max, s"shard $sh stats")
      val expected = mine.sortBy(t => (t._2, t._3)).take(3)
        .map(_._3).mkString(",")
      assert(first3 == expected, s"shard $sh write order")
    }
  }

  test("curriculum phases are balanced and score-ordered within source") {
    val sf = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p80_curriculum_phases").run(spark, sf)
      .select($"source", $"phase", $"n_docs", $"min_score", $"max_score")
      .as[(String, Int, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (src, ph) =>
      assert(ph.map(_._2).sorted.toSeq == (1 to ph.length), s"$src phases")
      val sizes = ph.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$src ntile balance")
      ph.sortBy(_._2).sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo._5 <= hi._4, s"$src phase ${lo._2}→${hi._2} ordering")
        case _ =>
      }
    }
  }

  test("dedup attrition funnel matches direct digest counts") {
    val sf = "/root/testdata/sf0.01"
    val rows = Catalog.byName("p81_dedup_attrition").run(spark, sf)
      .select($"source", $"n0", $"n1", $"n2", $"ret1_ppm", $"ret2_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (src, n0, n1, n2, r1, r2) =>
      assert(n2 <= n1 && n1 <= n0, s"$src funnel monotone")
      assert(r1 == n1 * 1000000L / n0 && r2 == n2 * 1000000L / n0, s"$src ppm")
    }
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // stage 1 = distinct texts; stage 2 = distinct 10-token heads among
    // the stage-1 survivors (min doc_id per text)
    val survivors1 = docs.groupBy(_._2).map(_._2.minBy(_._1)).toSeq
    assert(rows.map(_._3).sum == survivors1.length, "global n1")
    val n2 = survivors1.groupBy(_._2.split(" ").take(10).mkString(" ")).size
    assert(rows.map(_._4).sum == n2, "global n2")
  }

  test("filter bias selections match exact driver-side recomputes") {
    val sf = "/root/testdata/sf0.01"
    val scores = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("ts"))
      .select($"doc_id", $"source", size($"ts").cast("long").as("n"),
        size(array_distinct($"ts")).cast("long").as("nd"))
      .withColumn("s", expr("nd * 1000000L DIV n"))
      .select($"doc_id", $"source", $"s").as[(Long, String, Long)].collect()
    val nTot = scores.length.toLong
    val sumS = scores.map(_._3).sum
    val expGlobal = scores.filter(r => r._3 * nTot >= sumS)
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val rows = Catalog.byName("p83_filter_bias").run(spark, sf)
      .select($"source", $"n_docs", $"n_sel_global", $"n_sel_decile")
      .as[(String, Long, Long, Long)].collect()
    rows.foreach { case (src, n, g, d) =>
      assert(g == expGlobal.getOrElse(src, 0L), s"$src global selection")
      assert(d == n / 10, s"$src decile count is exactly floor(n/10)")
    }
    // the audit must actually expose bias: global selection rates differ
    // across sources while the decile rule is uniform by construction
    assert(rows.map(_._3).distinct.length > 1, "no bias visible")
  }

  test("dup ngram coverage matches a direct recompute") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    val grams = docs.flatMap { case (id, _, t) =>
      val ts = t.split(" ")
      ts.sliding(8).zipWithIndex.collect {
        case (g, i) if g.length == 8 => (id, i, g.mkString(" "))
      }
    }
    val dup = grams.groupBy(_._3).filter(_._2.length >= 2).keySet
    val covered = grams.filter(g => dup(g._3))
      .flatMap { case (id, i, _) => (i until i + 8).map(p => (id, p)) }
      .distinct.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byDoc = docs.map(d => (d._1, (d._2, d._3.split(" ").length.toLong)))
      .toMap
    val expBySrc = byDoc.toSeq.groupBy(_._2._1).map { case (src, ds) =>
      src -> (ds.map(_._2._2).sum,
        ds.map(d => covered.getOrElse(d._1, 0L)).sum)
    }
    val rows = Catalog.byName("p84_dup_ngram_coverage").run(spark, sf)
      .select($"source", $"sum_tokens", $"covered_tokens", $"coverage_ppm")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._3).sum > 0, "corpus has no duplicated 8-grams")
    rows.foreach { case (src, toks, cov, ppm) =>
      val (expToks, expCov) = expBySrc(src)
      assert(toks == expToks && cov == expCov, s"$src coverage")
      assert(ppm == cov * 1000000L / toks, s"$src ppm")
    }
  }

  test("prefix containment agrees with a direct quadratic recompute") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    val contained = for {
      a <- docs
      b <- docs
      if b._3.length > a._3.length && b._3.startsWith(a._3 + " ")
    } yield (a._1, a._2)
    val expPairs = contained.groupBy(_._2).view.mapValues(_.length).toMap
    val expDocs = contained.distinct.groupBy(_._2).view.mapValues(_.length)
      .toMap
    val rows = Catalog.byName("p82_prefix_contain").run(spark, sf)
      .select($"source", $"n_contained", $"n_pairs")
      .as[(String, Long, Long)].collect()
    assert(rows.length == docs.map(_._2).distinct.length, "all sources")
    rows.foreach { case (src, nc, np) =>
      assert(nc == expDocs.getOrElse(src, 0).toLong, s"$src n_contained")
      assert(np == expPairs.getOrElse(src, 0).toLong, s"$src n_pairs")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  test("CMS estimates equal a driver-side sketch replay and dominate exact") {
    val sf = "/root/testdata/sf0.01"
    val toks = Tables.load(spark, sf, "documents")
      .select($"text").as[String].collect()
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val counters = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((t, c) <- exact; r <- 0 until 4) {
      val b = h60(s"${t}_cms$r") % 256
      counters((r, b)) = counters.getOrElse((r, b), 0L) + c
    }
    def est(t: String): Long =
      (0 until 4).map(r => counters((r, h60(s"${t}_cms$r") % 256))).min
    val got = Catalog.byName("p85_cms_freq").run(spark, sf)
      .select($"t", $"exact", $"est", $"overcount")
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 20, "top-20 rows")
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    assert(got.map(r => (r._1, r._2)).toSeq == top, "top-20 by exact count")
    got.foreach { case (t, ex, e, oc) =>
      assert(e == est(t), s"$t estimate replay")
      assert(e >= ex && oc == e - ex, s"$t CMS never undercounts")
    }
  }

  test("CDC chunking matches a driver replay and conserves tokens") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    val chunks = docs.flatMap { case (id, src, t) =>
      val ts = t.split(" ", -1)
      val n = ts.length
      val bpos =
        if (n >= 5) (4 until n).filter(i =>
          h60(ts.slice(i - 4, i).mkString(" ")) % 16 == 0)
        else Seq.empty[Int]
      val cuts = (0 +: bpos) :+ n
      cuts.sliding(2).map { case Seq(a, b) =>
        (id, src, md5hex(ts.slice(a, b).mkString(" ")), (b - a).toLong)
      }
    }
    val occ = chunks.groupBy(_._3).view.mapValues(_.length).toMap
    val expBySrc = chunks.groupBy(_._2).map { case (src, cs) =>
      src -> ((cs.length.toLong, cs.map(_._4).sum,
        cs.count(c => occ(c._3) >= 2).toLong,
        cs.filter(c => occ(c._3) >= 2).map(_._4).sum))
    }
    val rows = Catalog.byName("p86_cdc_chunks").run(spark, sf)
      .select($"source", $"n_chunks", $"sum_tokens", $"n_shared_chunks",
        $"shared_tokens", $"shared_token_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum > 0, "corpus has no shared chunks")
    rows.foreach { case (src, nc, st, nsc, sht, ppm) =>
      val (eNc, eSt, eNsc, eSht) = expBySrc(src)
      assert((nc, st, nsc, sht) == ((eNc, eSt, eNsc, eSht)), s"$src chunks")
      assert(ppm == sht * 1000000L / st, s"$src ppm")
    }
    // conservation: every token lands in exactly one chunk
    val tokBySrc = docs.groupBy(_._2).view
      .mapValues(_.map(_._3.split(" ", -1).length.toLong).sum).toMap
    rows.foreach { case (src, _, st, _, _, _) =>
      assert(st == tokBySrc(src), s"$src token conservation")
    }
  }

  test("fuzzy edit-distance dedup matches a driver star recompute") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text", $"n_chars")
      .as[(Long, String, String, Long)].collect()
    def lev(a: String, b: String): Long = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val c = if (a(i - 1) == b(j - 1)) 0 else 1
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + c)
        }
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length).toLong
    }
    val withBlk = docs.map { d =>
      (d._1, d._2, d._3.take(400), math.min(d._4, 400L),
        md5hex(d._3.split(" ", -1).take(3).mkString(" ")))
    }
    val heads = withBlk.groupBy(_._5).view.mapValues(_.minBy(_._1)).toMap
    val cand = withBlk.filter(d => heads(d._5)._1 != d._1)
    val exp = cand.groupBy(_._2).map { case (src, cs) =>
      val levs = cs.map { c =>
        val h = heads(c._5)
        (lev(c._3, h._3), math.max(c._4, h._4))
      }
      src -> ((cs.length.toLong,
        levs.count { case (l, mx) => l * 10 <= mx }.toLong,
        levs.map(_._1).sum))
    }
    val rows = Catalog.byName("p87_fuzzy_editdist").run(spark, sf)
      .select($"source", $"n_docs", $"n_blocks", $"n_candidates",
        $"n_fuzzy", $"sum_lev")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum > 0, "no candidate pairs — blocking degenerate")
    val nDocs = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nBlk = withBlk.groupBy(_._2).view
      .mapValues(_.map(_._5).distinct.length.toLong).toMap
    rows.foreach { case (src, nd, nb, ncand, nf, sl) =>
      assert(nd == nDocs(src) && nb == nBlk(src), s"$src docs/blocks")
      val (eC, eF, eL) = exp.getOrElse(src, (0L, 0L, 0L))
      assert((ncand, nf, sl) == ((eC, eF, eL)), s"$src star comparisons")
    }
  }

  test("winnowing fingerprints match a driver replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val fps = docs.map { case (id, t) =>
      val ts = t.split(" ", -1)
      val hs =
        if (ts.length >= 4)
          (0 to ts.length - 4).map(i => h60(ts.slice(i, i + 4).mkString(" ")))
        else Seq.empty[Long]
      val sel =
        if (hs.length >= 4)
          (0 to hs.length - 4).map(j => hs.slice(j, j + 4).min).distinct
        else if (hs.nonEmpty) Seq(hs.min)
        else Seq.empty[Long]
      id -> ((hs.length.toLong, sel))
    }.toMap
    val occ = fps.values.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.size).toMap
    // occ counts selections, but each fp is distinct per doc, so ≥2 means
    // ≥2 distinct docs share it.
    val rows = Catalog.byName("p88_winnowing").run(spark, sf)
      .select($"doc_id", $"n_grams", $"n_fps", $"n_shared_fps")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == docs.length)
    assert(rows.map(_._4).sum > 0, "no shared fingerprints — degenerate")
    rows.foreach { case (id, ng, nf, nsh) =>
      val (eg, sel) = fps(id)
      assert(ng == eg, s"doc $id n_grams")
      assert(nf == sel.length.toLong, s"doc $id n_fps")
      assert(nsh == sel.count(f => occ(f) >= 2).toLong, s"doc $id shared")
    }
    // winnowing guarantee: selected count ≤ gram count, and every window
    // of 4 gram positions contributed at least one selection
    rows.foreach { case (_, ng, nf, _) =>
      if (ng >= 4) assert(nf >= 1 && nf <= ng)
    }
  }

  test("mutual-kNN pairs match a driver replay of buckets and top-3") {
    val sf = "/root/testdata/sf0.01"
    val emb = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def plane(j: Int, i: Int): Double =
      h60(s"${j}_${i}").toDouble / 1152921504606846976.0 - 0.5
    def bucket(v: Seq[Float]): Int =
      (0 until 4).map { j =>
        val dot = (1 to 64).map(i => v(i - 1).toDouble * plane(j, i)).sum
        if (dot >= 0.0) 1 << j else 0
      }.sum
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = (0 until 64).map(i => a(i).toDouble * b(i).toDouble).sum
      val na = math.sqrt((0 until 64).map(i => a(i).toDouble * a(i).toDouble).sum)
      val nb = math.sqrt((0 until 64).map(i => b(i).toDouble * b(i).toDouble).sum)
      dot / (na * nb)
    }
    val byB = emb.groupBy { case (_, v) => bucket(v) }
    val knn = byB.values.toSeq.flatMap { vs =>
      vs.toSeq.flatMap { case (src, v) =>
        vs.toSeq.filter(_._1 != src)
          .map { case (dst, w) => (src, dst, cos(v, w)) }
          .sortBy { case (_, dst, c) => (-c, dst) }
          .take(3)
      }
    }
    val kset = knn.map { case (s2, d2, _) => (s2, d2) }.toSet
    val exp = knn.filter { case (s2, d2, _) =>
      s2 < d2 && kset((d2, s2))
    }.map { case (s2, d2, c) => (s2, d2) -> c }.toMap
    val rows = Catalog.byName("p89_mutual_knn").run(spark, sf)
      .select($"id_a", $"id_b", $"cos_sim".cast("double"))
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty, "no mutual pairs at sf0.01 — degenerate")
    assert(rows.map(r => (r._1, r._2)).toSet == exp.keySet, "pair set")
    rows.foreach { case (a, b, c) =>
      assert(math.abs(c - exp((a, b))) < 1e-5, s"($a,$b) cosine")
    }
  }

  test("span-corruption mask matches a driver replay and the nominal rate") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    def trig(id: Long, p: Int): Boolean = h60(s"${id}_${p}_sm") % 8 == 0
    val exp = docs.groupBy(_._2).map { case (src, ds) =>
      val stats = ds.map { case (id, _, t) =>
        val n = t.split(" ", -1).length
        val masked = (1 to n).count(p =>
          trig(id, p) || (p >= 2 && trig(id, p - 1)) ||
            (p >= 3 && trig(id, p - 2)))
        (n.toLong, masked.toLong)
      }
      src -> ((ds.length.toLong, stats.map(_._1).sum, stats.map(_._2).sum))
    }
    val rows = Catalog.byName("p90_span_mask").run(spark, sf)
      .select($"source", $"n_docs", $"sum_tokens", $"sum_masked",
        $"mask_rate".cast("double"))
      .as[(String, Long, Long, Long, Double)].collect()
    rows.foreach { case (src, nd, st, sm, rate) =>
      val (eNd, eSt, eSm) = exp(src)
      assert((nd, st, sm) == ((eNd, eSt, eSm)), s"$src mask counts")
      assert(math.abs(rate - sm.toDouble / st) < 1e-6, s"$src rate")
      // nominal 1 - (7/8)^3 ≈ 0.3228 — loose band for corpus noise
      assert(rate > 0.2 && rate < 0.45, s"$src rate $rate out of band")
    }
  }

  test("sqrt source rebalancing keeps exactly the lottery-ranked quota") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
      .as[(Long, String, Long)].collect()
    val exp = docs.groupBy(_._2).map { case (src, ds) =>
      val el = ds.filter(_._3 >= 150)
      val quota = math.floor(math.sqrt(el.length.toDouble)).toLong * 3
      val kept = el.sortBy(d => (md5hex(s"${d._1}_bal"), d._1))
        .take(quota.toInt)
      src -> ((ds.length.toLong, el.length.toLong, quota,
        kept.length.toLong, kept.map(_._3).sum))
    }
    val rows = Catalog.byName("p91_sqrt_balance").run(spark, sf)
      .select($"source", $"n_docs", $"n_eligible", $"quota", $"n_kept",
        $"sum_kept_chars")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == exp.size)
    rows.foreach { case (src, nd, ne, q, nk, skc) =>
      assert((nd, ne, q, nk, skc) == exp(src), s"$src balance row")
    }
    // the rebalance must actually bind somewhere at sf0.01
    assert(rows.exists(r => r._5 < r._3), "quota never binds — degenerate")
  }

  test("lexical diversity matches an exact rational replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)]
      .collect()
    val exp = docs.groupBy(_._2).map { case (lang, ds) =>
      val per = ds.map { case (_, _, t) =>
        val cs = t.split(" ", -1).groupBy(identity).map(_._2.length.toLong)
        val n = cs.sum
        (n, cs.size.toLong, cs.map(c => c * (c - 1)).sum, n * (n - 1))
      }
      lang -> ((ds.length.toLong, per.map(_._1).sum, per.map(_._2).sum,
        per.map(_._3).sum, per.map(_._4).sum))
    }
    val rows = Catalog.byName("p92_lexical_diversity").run(spark, sf)
      .select($"lang", $"n_docs", $"sum_tokens", $"sum_types",
        $"sum_simp_num", $"sum_simp_den", $"ttr".cast("double"),
        $"simpson".cast("double"))
      .as[(String, Long, Long, Long, Long, Long, Double, Double)].collect()
    rows.foreach { case (lang, nd, st, sy, sn, sd, ttr, simp) =>
      val (eNd, eSt, eSy, eSn, eSd) = exp(lang)
      assert((nd, st, sy, sn, sd) == ((eNd, eSt, eSy, eSn, eSd)),
        s"$lang integer cores")
      assert(math.abs(ttr - sy.toDouble / st) < 1e-6, s"$lang ttr")
      assert(math.abs(simp - sn.toDouble / sd) < 1e-6, s"$lang simpson")
    }
  }

  test("contrastive pairs are the capped block positives") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    val withBlk = docs.map { case (id, src, t) =>
      (id, src, md5hex(t.split(" ", -1).take(3).mkString(" ")))
    }
    val exp = withBlk.groupBy(_._3).values.flatMap { blk =>
      val anchor = blk.map(_._1).min
      blk.filter(_._1 != anchor).sortBy(_._1).take(2)
        .map(d => (anchor, d._1, d._2, blk.length.toLong))
    }.toSet
    val rows = Catalog.byName("p93_contrastive_pairs").run(spark, sf)
      .select($"anchor_id", $"pos_id", $"source", $"blk_size")
      .as[(Long, Long, String, Long)].collect()
    assert(rows.nonEmpty, "no contrastive pairs at sf0.01 — degenerate")
    assert(rows.toSet == exp, "pair set")
    // cap: no anchor contributes more than 2 positives
    rows.groupBy(_._1).values.foreach(g => assert(g.length <= 2))
  }

  test("incremental ingest dedups the batch against the index") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect()
    val ds = docs.map { case (id, src, t) =>
      val vocabFp = md5hex(t.split(" ", -1).distinct.sorted.mkString(" "))
      (id, src, vocabFp, h60(s"${id}_ing") % 5 == 0)
    }
    val idx = ds.filter(!_._4).map(_._3).toSet
    val batch = ds.filter(_._4)
    val keepIds = batch.groupBy(_._3).values.map(_.map(_._1).min).toSet
    val exp = batch.groupBy(_._2).map { case (src, bs) =>
      val accepted = bs.filter(b => keepIds(b._1) && !idx(b._3))
      src -> ((bs.length.toLong, bs.map(_._3).distinct.length.toLong,
        accepted.length.toLong))
    }
    val rows = Catalog.byName("p94_incremental_ingest").run(spark, sf)
      .select($"source", $"n_batch", $"n_batch_distinct", $"n_accepted",
        $"n_dup_vs_index")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum > 0, "nothing accepted — degenerate")
    assert(rows.map(r => r._3 - r._4).sum > 0, "no index dups — degenerate")
    rows.foreach { case (src, nb, nbd, na, ndvi) =>
      val (eNb, eNbd, eNa) = exp(src)
      assert((nb, nbd, na) == ((eNb, eNbd, eNa)), s"$src ingest counts")
      assert(ndvi == nbd - na, s"$src dup-vs-index identity")
    }
  }

  private def cosD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }
  private def dec(x: Double, sc: Int): BigDecimal =
    BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP)

  /** The p95/p96 coarse-cell assignment replayed on the driver: argmax
    * cosine over centroids vec_id 1..64, ties to the smaller cid.
    */
  private def cellAssign(vecs: Array[(Long, Int, Array[Float])])
      : Map[Long, (Int, Double)] = {
    val cents = vecs.filter(v => v._1 >= 1 && v._1 <= 64)
      .map(v => (v._1.toInt, v._3))
    vecs.map { case (id, _, e) =>
      val best = cents.map { case (cid, c) => (cosD(e, c), -cid) }.max
      id -> ((-best._2, best._1))
    }.toMap
  }

  test("semdedup drops exactly the centroid-closer member of near-dup pairs") {
    val sf = "/root/testdata/sf0.01"
    val vecs = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
    val assign = cellAssign(vecs)
    val byId = vecs.map(v => v._1 -> v._3).toMap
    val cells = assign.toSeq.groupBy(_._2._1)
    val dropped = cells.flatMap { case (_, members) =>
      // cap 256 by vec_id — inert at sf0.01 (≤ ~20 vectors per cell)
      val ms = members.map { case (id, (_, csim)) => (id, dec(csim, 9)) }
        .sortBy(_._1).take(256)
      ms.filter { case (aId, aCs) =>
        ms.exists { case (bId, bCs) =>
          bId != aId && dec(cosD(byId(aId), byId(bId)), 6) >= BigDecimal("0.40") &&
            (bCs < aCs || (bCs == aCs && bId < aId))
        }
      }.map(_._1)
    }.toSet
    val exp = cells.map { case (cell, members) =>
      val d = members.count(m => dropped(m._1)).toLong
      cell.toLong -> ((members.length.toLong, d))
    }
    val rows = Catalog.byName("p95_semdedup").run(spark, sf)
      .select($"cell", $"n", $"n_part", $"n_dropped", $"n_kept")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum > 0, "no semantic dups dropped — degenerate")
    rows.foreach { case (cell, n, nPart, nDropped, nKept) =>
      val (eN, eD) = exp(cell)
      assert(n == eN && nPart == eN && nDropped == eD && nKept == eN - eD,
        s"cell $cell")
    }
  }

  test("hard negatives are the max-cosine different-label cell neighbors") {
    val sf = "/root/testdata/sf0.01"
    val vecs = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Array[Float])].collect()
    val assign = cellAssign(vecs)
    val info = vecs.map(v => v._1 -> ((v._2, v._3))).toMap
    val exp = assign.toSeq.groupBy(_._2._1).values.flatMap { members =>
      val ms = members.map(_._1).sorted.take(256)
      ms.flatMap { aId =>
        val (aLbl, aVec) = info(aId)
        val negs = ms.filter(bId => info(bId)._1 != aLbl)
          .map(bId => (dec(cosD(aVec, info(bId)._2), 6), -bId))
        if (negs.isEmpty) None
        else {
          val best = negs.max
          Some((aId, aLbl, -best._2, best._1))
        }
      }
    }.toSet
    val rows = Catalog.byName("p96_hard_negatives").run(spark, sf)
      .select($"vec_id", $"label", $"neg_id", $"neg_cos")
      .as[(Long, Int, Long, BigDecimal)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r._1, r._2, r._3, r._4)).toSet == exp, "negatives")
  }

  test("rank-quality metrics match an integer DCG replay") {
    val sf = "/root/testdata/sf0.01"
    val terms = Seq("hash", "join", "spark", "window")
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val exp = terms.map { t =>
      val tf = docs.flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        val n = ws.count(_ == t)
        if (n > 0) Some((id, n.toLong, ws.length.toLong)) else None
      }
      val rel = tf.map { case (id, f, dl) =>
        (id, f, if (f * 9 >= dl) 2L else if (f * 14 >= dl) 1L else 0L)
      }
      val rank = rel.sortBy(r => (-r._2, r._1)).zipWithIndex
        .map { case (r, i) => (r._1, r._3, i + 1L) }
      val irank = rel.sortBy(r => (-r._3, r._1)).zipWithIndex
        .map { case (r, i) => (r._1, r._3, i + 1L) }
      val dcg = rank.filter(_._3 <= 10).map(r => r._2 * (1L << (10 - r._3))).sum
      val idcg = irank.filter(_._3 <= 10).map(r => r._2 * (1L << (10 - r._3))).sum
      val fr = rank.filter(r => r._2 >= 2).map(_._3).minOption
      (t, (rel.length.toLong, rel.count(_._3 >= 1).toLong, dcg, idcg,
        if (idcg > 0) dcg.toDouble / idcg else 0.0,
        fr.map(1.0 / _).getOrElse(0.0)))
    }.toMap
    val rows = Catalog.byName("p97_rank_quality").run(spark, sf)
      .select($"w", $"n_docs", $"n_rel", $"dcg_i", $"idcg_i", $"ndcg", $"mrr")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.length == 4)
    assert(rows.exists(r => r._6 < 1.0), "all-perfect ndcg — degenerate")
    rows.foreach { case (w, nd, nr, dcg, idcg, ndcg, mrr) =>
      assert(exp(w) == ((nd, nr, dcg, idcg, ndcg, mrr)), s"term $w")
    }
  }

  test("nfc collapse equals the re-crawl count (structural identities)") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect()
    val expRecrawl = docs.groupBy(_._1).view.mapValues(_.count(d =>
      d._3.contains('e') && d._2 % 3 == 1).toLong).toMap
    val rows = Catalog.byName("p98_nfc_normalize").run(spark, sf)
      .select($"source", $"n_rows", $"n_docs", $"n_recrawled",
        $"n_raw_fps", $"n_nfc_fps", $"n_collapsed")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._7).sum > 0, "nothing collapsed — degenerate")
    rows.foreach { case (src, nRows, nDocs, nRe, nRaw, nNfc, nColl) =>
      assert(nRe == expRecrawl(src), s"$src recrawl count")
      // every re-crawled doc is one extra row, one extra raw fingerprint,
      // and exactly the collapse NFC recovers — no other collisions exist
      assert(nRows == nDocs + nRe, s"$src rows")
      assert(nRaw == nDocs + nRe, s"$src raw fps")
      assert(nNfc == nDocs, s"$src nfc fps")
      assert(nColl == nRe, s"$src collapse == recrawl")
    }
  }

  test("priority-keep winners are the min (prio, doc_id) copy per fingerprint") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect()
    val ds = docs.map { case (src, id, t) =>
      (src, id, src.drop(3).toInt,
        md5hex(t.split(" ", -1).distinct.sorted.mkString(" ")))
    }
    val winners = ds.groupBy(_._4).values
      .map(g => g.minBy(x => (x._3, x._2))._1)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exp = ds.groupBy(_._1).map { case (src, g) =>
      src -> ((g.length.toLong, g.map(_._4).distinct.length.toLong,
        winners.getOrElse(src, 0L)))
    }
    val rows = Catalog.byName("p99_priority_keep").run(spark, sf)
      .select($"source", $"n_docs", $"n_fps", $"n_won", $"n_yielded")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._5).sum > 0, "no cross-source dups — degenerate")
    rows.foreach { case (src, nd, nf, nw, ny) =>
      val (eNd, eNf, eNw) = exp(src)
      assert((nd, nf, nw) == ((eNd, eNf, eNw)), s"$src counts")
      assert(ny == nf - nw, s"$src yield identity")
    }
  }

  test("luhn pii detection matches a driver digit replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect()
    def luhnDigits(id: Long): (Seq[Int], Int) = {
      val h = md5hex(s"${id}_cc")
      val ds = (0 until 15).map(i => Integer.parseInt(h.substring(i, i + 1), 16) % 10)
      val sum = ds.zipWithIndex.map { case (dg, idx) =>
        if (idx % 2 == 0) { val t = dg * 2; if (t > 9) t - 9 else t } else dg
      }.sum
      (ds, (10 - sum % 10) % 10)
    }
    val exp = docs.groupBy(_._1).map { case (src, g) =>
      var withCc = 0L; var valid = 0L
      g.foreach { case (_, id, _) =>
        if (id % 7 == 0) {
          withCc += 1
          val (_, chk) = luhnDigits(id)
          val corrupted = id % 14 == 7
          if (!corrupted) valid += 1
          else assert((chk + 5) % 10 != chk) // corruption always flips
        }
      }
      src -> ((g.length.toLong, withCc, valid))
    }
    val rows = Catalog.byName("p100_luhn_pii").run(spark, sf)
      .select($"source", $"n_docs", $"n_with_cc", $"n_luhn_valid",
        $"n_luhn_invalid")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum > 0 && rows.map(_._5).sum > 0,
      "need both valid and invalid cards — degenerate")
    rows.foreach { case (src, nd, nc, nv, ni) =>
      val (eNd, eNc, eNv) = exp(src)
      assert((nd, nc, nv) == ((eNd, eNc, eNv)), s"$src luhn counts")
      assert(ni == nc - nv, s"$src invalid identity")
    }
  }

  test("head-mass coverage matches an exact frequency replay") {
    val sf = "/root/testdata/sf0.01"
    val toks = Tables.load(spark, sf, "documents")
      .select($"text").as[String].collect()
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
    val counts = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy { case (w, c) => (-c, w) }
    val total = counts.map(_._2).sum
    def ppm(k: Int) = counts.take(k).map(_._2).sum * 1000000L / total
    val row = Catalog.byName("p101_head_mass").run(spark, sf)
      .select($"total_tokens", $"distinct_vocab", $"top3_ppm", $"top5_ppm",
        $"top10_ppm")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(row == ((total, counts.length.toLong, ppm(3), ppm(5), ppm(10))))
    assert(row._5 < 1000000L, "top10 saturates the corpus — degenerate")
  }

  test("spearman rho matches an exact rank replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"doc_id", $"n_chars", $"text")
      .as[(String, Long, Long, String)].collect()
    val stopSet = Set("the", "a", "of", "and", "to", "in")
    val exp = docs.groupBy(_._1).map { case (src, g) =>
      val base = g.map { case (_, id, nc, t) =>
        (id, nc, t.split(" ", -1).count(stopSet).toLong)
      }
      val rLen = base.sortBy(b => (b._2, b._1)).zipWithIndex
        .map { case (b, i) => b._1 -> (i + 1L) }.toMap
      val rQ = base.sortBy(b => (b._3, b._1)).zipWithIndex
        .map { case (b, i) => b._1 -> (i + 1L) }.toMap
      val d2 = base.map(b => { val d = rLen(b._1) - rQ(b._1); d * d }).sum
      val n = base.length.toLong
      src -> ((n, d2, 1.0 - (d2 * 6L).toDouble / (n * (n * n - 1L)).toDouble))
    }
    val rows = Catalog.byName("p102_len_quality_rho").run(spark, sf)
      .select($"source", $"n", $"sum_d2", $"rho")
      .as[(String, Long, Long, Double)].collect()
    assert(rows.exists(_._4 < 0.95), "rho pinned at ~1 — degenerate")
    rows.foreach { case (src, n, d2, rho) =>
      assert(exp(src) == ((n, d2, rho)), s"$src spearman")
    }
  }

  test("k-anonymity ledger matches an exact driver replay") {
    val sf = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, sf, "events")
      .select($"event_type", unix_micros($"ts").as("us"), $"value", $"user_id")
      .as[(String, Long, Double, Long)].collect()
    val groups = ev.groupBy { case (t, us, v, _) =>
      (t, us / 86400000000L, math.floor(v / 50.0).toLong)
    }
    val exp = groups.toSeq.groupBy(_._1._1).map { case (t, gs) =>
      val unsafe = gs.filter(_._2.map(_._4).distinct.length < 5)
      t -> ((gs.size.toLong, unsafe.size.toLong,
        gs.map(_._2.length.toLong).sum, unsafe.map(_._2.length.toLong).sum))
    }
    val rows = Catalog.byName("p103_k_anonymity").run(spark, sf)
      .select($"event_type", $"n_groups", $"unsafe_groups", $"n_events",
        $"suppressed_events", $"suppressed_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.exists(_._3 > 0), "no unsafe groups anywhere — degenerate")
    assert(rows.exists(r => r._3 < r._2), "every group unsafe — degenerate")
    rows.foreach { case (t, ng, ug, ne, se, ppm) =>
      assert(exp(t) == ((ng, ug, ne, se)), s"$t ledger")
      assert(ppm == se * 1000000L / ne, s"$t ppm")
    }
  }

  test("principal dimension matches a BigInt power-iteration replay") {
    val sf = "/root/testdata/sf0.01"
    val vecs = Tables.load(spark, sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect()
      .filter(_.length == 64)
      .map(_.map(x => BigInt(math.floor(x.toDouble * 1000.0 + 0.5).toLong)))
    val n = BigInt(vecs.length)
    val s = Array.tabulate(64)(i => vecs.map(_(i)).sum)
    val c = Array.tabulate(64, 64) { (i, j) =>
      val sij = vecs.map(v => v(i) * v(j)).sum
      val cnum = n * sij - s(i) * s(j)
      cnum.sign * (cnum.abs / 10000)
    }
    var v = Array.fill(64)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(64)(i => (0 until 64).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => x.sign * (x.abs * 1000000 / m))
    }
    val exp = (0 until 64).map(i => (i, v(i)))
      .sortBy { case (i, l) => (-l.abs, i) }.take(8)
      .map { case (i, l) => (i, l.toLong) }
    val rows = Catalog.byName("p104_principal_dim").run(spark, sf)
      .select($"dim", $"loading_ppm").as[(Int, Long)].collect().toSeq
    assert(rows == exp, "power-iteration top-8 mismatch")
    assert(rows.head._2.abs == 1000000L, "top loading must be the norm anchor")
    assert(rows.map(_._2.abs).distinct.length > 1,
      "all loadings equal — iteration never mixed (degenerate)")
  }

  test("phrase search matches a sliding-window scan replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val phrase = Array("join", "part", "filter")
    val exp = docs.flatMap { case (id, t) =>
      val a = t.split(" ", -1)
      val hits = (0 to a.length - 3)
        .filter(i => a(i) == phrase(0) && a(i + 1) == phrase(1) &&
          a(i + 2) == phrase(2))
      if (hits.isEmpty) None else Some((id, hits.length.toLong, hits.min))
    }.sortBy { case (id, h, _) => (-h, id) }.take(10).toSeq
    val rows = Catalog.byName("p105_phrase_search").run(spark, sf)
      .select($"doc_id", $"n_hits", $"first_pos").as[(Long, Long, Int)]
      .collect().toSeq
    assert(rows.nonEmpty, "phrase absent at the gate sf — degenerate")
    assert(rows == exp, "phrase-hit top-10 mismatch")
  }

  test("filter-sweep retention matches an exact driver replay") {
    val sf = "/root/testdata/sf0.01"
    val stops = Set("the", "a", "of", "and", "to", "in")
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
      .map { case (src, t) =>
        val toks = t.split(" ", -1)
        val ppm = toks.count(stops) * 1000000L / toks.length
        (src, toks.length.toLong, math.min(ppm / 20000L, 9L))
      }
    val bySrc = docs.groupBy(_._1)
    val rows = Catalog.byName("p106_filter_sweep").run(spark, sf)
      .select($"source", $"threshold_ppm", $"docs_kept", $"tokens_kept",
        $"docs_kept_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length > 1, "single source — degenerate")
    rows.foreach { case (src, t, dk, tk, ppm) =>
      val all = bySrc(src)
      val kept = all.filter(_._3 * 20000L >= t)
      assert(dk == kept.length.toLong, s"$src@$t docs")
      assert(tk == kept.map(_._2).sum, s"$src@$t tokens")
      assert(ppm == dk * 1000000L / all.length, s"$src@$t ppm")
    }
    // The sweep must be monotone: raising the threshold never keeps more.
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b },
        "retention not monotone in threshold")
    }
  }

  test("dim-anova ranking matches a BigInt replay") {
    val sf = "/root/testdata/sf0.01"
    val vecs = Tables.load(spark, sf, "embeddings")
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
      .filter(_._2.length == 64)
      .map { case (l, v) =>
        (l, v.map(x => BigInt(math.floor(x.toDouble * 1000.0 + 0.5).toLong)))
      }
    val exp = (0 until 64).map { i =>
      val xs = vecs.map { case (l, v) => (l, v(i)) }
      val n = BigInt(xs.length)
      val s = xs.map(_._2).sum
      val q = xs.map(x => x._2 * x._2).sum
      val ssbq = xs.groupBy(_._1).values.map { g =>
        val sl = g.map(_._2).sum
        (sl * sl * 1000) / BigInt(g.length)
      }.sum
      val ssb = ssbq - (s * s * 1000) / n
      val ssw = q * 1000 - ssbq
      val f = (ssb.max(BigInt(0)) * 1000000) / ssw.max(BigInt(1))
      (i, ssb.toLong, ssw.toLong, f.toLong)
    }.sortBy { case (i, _, _, f) => (-f, i) }.take(16)
    val rows = Catalog.byName("p107_dim_anova").run(spark, sf)
      .select($"dim", $"ssb_milli", $"ssw_milli", $"f_ppm")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(rows == exp, "anova top-16 mismatch")
    assert(rows.map(_._4).distinct.length > 1,
      "all F ratios equal — degenerate")
  }

  test("gap spectrum matches a per-user scan replay") {
    val sf = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, sf, "events")
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts"))
      .as[(Long, Long, String, Long)].collect()
    val exp = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._4, e._2))
      sorted.zip(sorted.tail).map { case (prev, cur) =>
        val gap = cur._4 - prev._4
        (cur._3, gap.toBinaryString.length, gap)
      }
    }.toSeq.groupBy(t => (t._1, t._2)).map { case ((et, b), gs) =>
      (et, b, gs.length.toLong, gs.map(_._3).min, gs.map(_._3).max)
    }.toSeq.sortBy(r => (r._1, r._2))
    val rows = Catalog.byName("p108_gap_spectrum").run(spark, sf)
      .select($"event_type", $"bucket", $"n_gaps", $"min_gap", $"max_gap")
      .as[(String, Int, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._2).distinct.length > 3,
      "fewer than four magnitude buckets — degenerate")
    assert(rows == exp, "gap histogram mismatch")
  }

  test("zipf audit matches an exact frequency replay") {
    val sf = "/root/testdata/sf0.01"
    val freqs = Tables.load(spark, sf, "documents")
      .select($"text").as[String].collect()
      .flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (t, xs) => (t, xs.length.toLong) }.toSeq
    val top = freqs.sortBy { case (t, f) => (-f, t) }.take(100)
    val rf1 = 1L * top.head._2
    val exp = top.zipWithIndex.map { case ((t, f), i) =>
      val r = i + 1L
      (r, t, f, r * f, r * f * 1000000L / rf1)
    }
    val rows = Catalog.byName("p109_zipf_audit").run(spark, sf)
      .select($"rank", $"term", $"freq", $"rf", $"rf_ppm_of_r1")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(rows == exp, "zipf top-100 mismatch")
    assert(rows.head._5 == 1000000L, "rank-1 must anchor at 1e6 ppm")
  }

  test("fertility table matches an exact driver replay") {
    val sf = "/root/testdata/sf0.01"
    val bpe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val docs = Tables.load(spark, sf, "documents")
      .select($"source", $"lang", $"text")
      .as[(String, String, String)].collect()
    val exp = docs.groupBy(d => (d._1, d._2)).map { case ((src, lg), ds) =>
      val ws = ds.map(_._3.split(" ", -1).length.toLong).sum
      val bp = ds.map(d => bpe.findAllIn(d._3).length.toLong).sum
      val ch = ds.map(_._3.length.toLong).sum
      (src, lg) -> ((ds.length.toLong, ws, bp,
        bp * 1000000L / ws, ch * 1000L / bp))
    }
    val rows = Catalog.byName("p110_fertility").run(spark, sf)
      .select($"source", $"lang", $"n_docs", $"ws_tokens", $"bpe_tokens",
        $"fertility_ppm", $"chars_per_tok_milli")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == exp.size, "cell count mismatch")
    rows.foreach { case (src, lg, nd, ws, bp, fppm, cpt) =>
      assert(exp((src, lg)) == ((nd, ws, bp, fppm, cpt)), s"($src,$lg)")
    }
    assert(rows.forall(_._6 >= 1000000L),
      "fertility below 1 token per word — regex lost tokens")
  }

  test("dup spectrum matches an exact family replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"text", $"source").as[(String, String)].collect()
      .map { case (t, src) => (t.split(" ", -1).take(10).mkString(" "), src) }
    val fams = docs.groupBy(_._1).values
      .map(g => (g.length.toLong, g.map(_._2).distinct.length.toLong))
    val exp = fams.groupBy(identity).map { case ((nc, ns), fs) =>
      (nc, ns, fs.size.toLong, nc * fs.size, (nc - 1) * fs.size)
    }.toSeq.sortBy(r => (r._1, r._2))
    val rows = Catalog.byName("p111_dup_spectrum").run(spark, sf)
      .select($"n_copies", $"n_sources", $"n_families", $"n_docs",
        $"removable_docs")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == exp, "dup spectrum mismatch")
    assert(rows.exists(_._1 > 1), "no duplicate families — degenerate")
    // Conservation: spectrum docs must add back up to the corpus.
    assert(rows.map(_._4).sum == docs.length.toLong, "doc conservation")
  }

  test("posting spectrum matches an exact index replay") {
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val pairs = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, xs) =>
        (w, id, xs.length.toLong)
      }
    }
    val df = pairs.groupBy(_._1).map { case (w, ps) => (w, ps.length.toLong) }
    val exp = pairs.groupBy { case (w, _, c) =>
      (df(w).toBinaryString.length, c.toBinaryString.length)
    }.map { case ((db, tb), ps) =>
      (db, tb, ps.length.toLong, ps.map(_._1).distinct.length.toLong,
        ps.map(_._3).sum, ps.map(_._3).max)
    }.toSeq.sortBy(r => (r._1, r._2))
    val rows = Catalog.byName("p112_posting_spectrum").run(spark, sf)
      .select($"df_bucket", $"tf_bucket", $"n_postings", $"n_terms",
        $"n_occurrences", $"max_in_doc")
      .as[(Int, Int, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._2).distinct.length > 2,
      "fewer than three payload buckets — degenerate")
    assert(rows == exp, "posting spectrum mismatch")
    // Conservation: occurrences across cells == corpus token count.
    assert(rows.map(_._5).sum ==
      docs.map(_._2.split(" ", -1).length.toLong).sum, "token conservation")
  }

  test("every catalog entry has a PLANS.md plan-audit line") {
    // The plan-hygiene appendix (graft.Explain sweep) must cover the
    // whole catalog — this drifted once when an entry was added after
    // the appendix was last regenerated. Appendix lines are
    // "<name>: scans=… pushedFilters=…".
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val covered = "(?m)^(?:## )?([A-Za-z0-9_]+): scans=".r
      .findAllMatchIn(plans).map(_.group(1)).toSet
    val missing = Catalog.byName.keySet.diff(covered).toSeq.sorted
    assert(missing.isEmpty,
      s"catalog entries missing a PLANS.md line (re-run graft.Explain " +
        s"and refresh the appendix): ${missing.mkString(", ")}")
  }

  test("class separation matches a BigInt centroid replay") {
    val sf = "/root/testdata/sf0.01"
    val vecs = Tables.load(spark, sf, "embeddings")
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
      .filter(_._2.length == 64)
      .map { case (l, v) =>
        (l, v.map(x => BigInt(math.floor(x.toDouble * 1000.0 + 0.5).toLong)))
      }
    val byL = vecs.groupBy(_._1).map { case (l, g) =>
      l -> ((BigInt(g.length),
        (0 until 64).map(i => g.map(_._2(i)).sum)))
    }
    val labels = byL.keys.toSeq.sorted
    val exp = (for {
      a <- labels; b <- labels if a < b
    } yield {
      val (na, sa) = byL(a); val (nb, sb) = byL(b)
      val dsc = (0 until 64).map { i =>
        val diff = nb * sa(i) - na * sb(i); diff * diff
      }.sum
      (a, b, na.toLong, nb.toLong, ((dsc * 1000) / (na * nb * na * nb)).toLong)
    }).sortBy(r => (r._1, r._2))
    val rows = Catalog.byName("p113_class_separation").run(spark, sf)
      .select($"la", $"lb", $"na", $"nb", $"d2_milli")
      .as[(Int, Int, Long, Long, Long)].collect().toSeq
    assert(rows == exp, "separation matrix mismatch")
    assert(rows.map(_._5).distinct.length > 1,
      "all class distances equal — degenerate")
  }
}
